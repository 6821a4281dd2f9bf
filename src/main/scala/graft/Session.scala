package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** The one run environment: the session recipe, the environment it is
  * sized from, the warm-up, the guarded per-query run and the JSON string
  * escaper. Bench times the queries under it, Verify checks their answers
  * under it, and Profile, PlanExplain, StreamRunner, the specs and the
  * test-scope probes build through it — so a config change lands
  * everywhere at once. It registers no listener: a caller that wants the
  * per-query record attaches [[Trace]] itself.
  *
  * The `SPARK_GRAFT_*` environment, parsed once by [[env]], the one
  * reader of the process environment in `src/main`. Every main parses the
  * whole of it, so a malformed value (a non-positive or non-int count, a
  * state store other than `hdfs|rocksdb`) fails any of them before a
  * session starts, with a message that names the variable:
  *
  *  - `SPARK_GRAFT_SF_DIR`, default `/root/testdata/sf0.1`: the table dir
  *    of Bench, Profile and PlanExplain (Verify and StreamRunner take it
  *    as their first argument).
  *  - `SPARK_GRAFT_CPUS`, default 4: the `local[n]` master of Bench,
  *    Verify, Profile, PlanExplain and StreamRunner.
  *  - `SPARK_GRAFT_ONLY`, default every declared query in
  *    `SparkEntry.queries` order: comma-separated query names, run in the
  *    given order (names trimmed, empty entries dropped) by Bench, Profile
  *    and PlanExplain, which select through [[Env.queries]]; an unknown
  *    name fails there, naming it. Verify always dumps every query and
  *    StreamRunner runs none, so neither looks at the names.
  *  - `SPARK_GRAFT_RUNS`, default 1: Profile's runs per query.
  *  - `SPARK_GRAFT_PLAN_DIR`, default `target/plans`: where PlanExplain
  *    writes `<query>.txt`.
  *  - `SPARK_GRAFT_STREAM_MAX_FILES`, default 1: the `maxFilesPerTrigger`
  *    of StreamRunner's timed streams.
  *  - `SPARK_GRAFT_STATE_STORE`, `hdfs` (default) or `rocksdb`:
  *    StreamRunner's state-store provider.
  */
object Session {

  /** A declared query: built from a session and a table dir. */
  type Query = (SparkSession, String) => DataFrame

  /** The parsed `SPARK_GRAFT_*` environment. `only` is empty when
    * `SPARK_GRAFT_ONLY` selects nothing; `stateStore` is lower case.
    */
  final case class Env(sfDir: String, cpus: Int, only: Seq[String], runs: Int,
      planDir: String, streamMaxFiles: Int, stateStore: String) {

    /** `only`'s queries in its order, else every declared query. An
      * unknown name fails, naming it; call this before building a session.
      */
    def queries: Seq[(String, Query)] = {
      val unknown = only.filterNot(SparkEntry.queries.contains)
      if (unknown.nonEmpty) throw new IllegalArgumentException(
        s"SPARK_GRAFT_ONLY names unknown queries: ${unknown.mkString(", ")}")
      if (only.isEmpty) SparkEntry.queries.toSeq
      else only.map(n => n -> SparkEntry.queries(n))
    }
  }

  /** Parses the run environment from an env-style map. */
  def env(vars: Map[String, String] = sys.env): Env = {
    val only = vars.getOrElse("SPARK_GRAFT_ONLY", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    // a typo ("rocks") silently falling back to the heap store would
    // corrupt the provider-crossover measurements this knob exists for
    val store = vars.getOrElse("SPARK_GRAFT_STATE_STORE", "hdfs").trim.toLowerCase
    if (store != "hdfs" && store != "rocksdb") throw new IllegalArgumentException(
      s"SPARK_GRAFT_STATE_STORE must be hdfs or rocksdb, got '$store'")
    Env(vars.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
      positiveInt(vars, "SPARK_GRAFT_CPUS", 4), only,
      positiveInt(vars, "SPARK_GRAFT_RUNS", 1),
      vars.getOrElse("SPARK_GRAFT_PLAN_DIR", "target/plans"),
      positiveInt(vars, "SPARK_GRAFT_STREAM_MAX_FILES", 1), store)
  }

  /** `vars(key)` as a positive int, `dflt` when unset. */
  private def positiveInt(vars: Map[String, String], key: String,
      dflt: Int): Int =
    vars.get(key).fold(dflt) { v =>
      v.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"$key must be a positive int, got '$v'"))
    }

  /** `local[cpus]` with the timed config. `extra` lands last and carries
    * only per-caller settings that are not part of the measured config
    * (the specs' warehouse dir, StreamRunner's state-store provider).
    *
    * Shuffle sizing that survives a scale-up (r5): a FIXED partition count
    * equal to the core count is right at sf0.1 (one wave, no scheduling
    * overhead) but becomes the bottleneck two decades up — at sf100 a
    * 600 M-row lineitem shuffle split 32 ways is ~19 M rows (~2 GB) per
    * partition, past what a task's share of execution memory can sort or
    * hash-aggregate without spilling (measured: TPC-H Q18's 150 M-group
    * aggregation ×112 per decade instead of ~linear). So AQE's starting
    * partition count is sized to the DATA ([[Bench.dataSizedInitParts]]:
    * one partition per ~32 MB of source bytes, floored at the core count,
    * capped at 32× cores) and AQE coalesces small partitions back at
    * runtime. sf0.1 keeps exactly the core-count waves; sf100 starts
    * shuffles ~500-way. On a real cluster the same derivation holds with
    * executor count in place of cores.
    *
    * AQE coalesce target 32 MB (r6, measured at sf100): rows in
    * post-aggregate shuffles are far smaller than scan rows, so a
    * byte-sized advisory overpacks GROUPS per task — Q18's first aggregate
    * ran 111 s at 64 MB, 53 s at 32 MB, 59 s at 16 MB, 274 s at 256 MB;
    * the sf0.1 surface is unchanged within the host band at 32 MB.
    */
  def build(sfDir: String, cpus: Int,
      extra: Map[String, String] = Map.empty): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        Bench.dataSizedInitParts(sfDir, cpus.toLong).toString)
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "33554432")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
    extra.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Runs one query's work: a NonFatal error is logged as
    * `[<tool>] <name> failed: <errorHead>` and returned as its head, so
    * the run goes on; a fatal error (OOM, interrupt, linkage) propagates
    * and ends it.
    */
  def guarded[A](tool: String, name: String)(body: => A): Either[String, A] =
    try Right(body) catch { case NonFatal(e) =>
      val head = errorHead(e)
      System.err.println(s"[$tool] $name failed: $head")
      Left(head)
    }

  /** Compact head of a failure: exception class + the first line of the
    * ROOT cause's message (VERDICT r4 item 3: one r4 run died with a
    * DAGScheduler stack that best-of-N silently absorbed — a recurring
    * transient needs a name in the artifact, not just a truncated stderr
    * tail).
    */
  def errorHead(e: Throwable): String = {
    var root = e
    while (root.getCause != null && (root.getCause ne root)) root = root.getCause
    val rootMsg = Option(root.getMessage).getOrElse("")
      .linesIterator.take(1).mkString.take(240)
    val cls = e.getClass.getSimpleName +
      (if (root ne e) s" <- ${root.getClass.getSimpleName}" else "")
    s"$cls: $rootMsg"
  }

  /** JSON string literal: backslash, quote and every control character
    * (< 0x20) escaped, losslessly — a tab or CR in a query's oracle SQL
    * would otherwise make a reader's `json.load` fail.
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Warms a session before anything is measured: every table
    * ([[warmTables]]), then the execution machinery itself
    * (Janino/codegen, window exec, generators, hash aggregation, sort,
    * session windows, pivot, broadcast join, typed flatMap ser/de, JSON
    * codecs, collect aggregates) on tiny synthetic plans, so the first
    * measured query that touches each operator class does not absorb its
    * one-time compile cost (r1: q_stream_session 13.4 s vs 1.4 s in
    * isolation — pure first-touch compile). The measured queries
    * themselves run cold.
    */
  def warm(spark: SparkSession, dir: String): Unit = {
    warmTables(spark, dir)
    guarded("warm", "codegen warm-up") {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      spark.range(1000)
        .withColumn("k", pmod(col("id"), lit(7)))
        .withColumn("arr", sequence(lit(0), pmod(col("id"), lit(3))))
        .withColumn("x", explode(col("arr")))
        .withColumn("rn", row_number().over(Window.partitionBy("k").orderBy("id")))
        .groupBy("k").agg(count(lit(1)), sum(col("x")), min(col("rn")))
        .orderBy("k")
        .count()
      val tiny = spark.range(100)
        .withColumn("k", pmod(col("id"), lit(5)))
        .withColumn("ts", timestamp_micros(col("id") * 1000000L))
      tiny.groupBy(col("k"), session_window(col("ts"), "10 seconds"))
        .agg(count(lit(1))).count()
      tiny.groupBy(col("k"), window(col("ts"), "30 seconds", "10 seconds"))
        .agg(count(lit(1))).count()
      tiny.groupBy("k").pivot("k", Seq("0", "1")).agg(sum("id")).count()
      tiny.join(broadcast(tiny.select(col("k").as("k2")).limit(3)),
        col("k") === col("k2")).count()
      tiny.select(to_json(struct(col("id"), col("k"))).as("j"))
        .select(from_json(col("j"), "id BIGINT, k BIGINT",
          java.util.Collections.emptyMap[String, String]())).count()
      tiny.groupBy("k").agg(collect_list("id"), collect_set("id")).count()
      import spark.implicits._
      tiny.select(col("id"), col("k")).as[(Long, Long)]
        .flatMap(t => Seq(t, t)).count()
    }
  }

  /** Loads and counts every table of [[graft.sources.Tables.names]]
    * present in `dir` (parquet footers, IO cache, the scan codepaths, and
    * the tables' relation cache), so the first measured query doesn't
    * absorb one-time session start-up. Returns the tables warmed, in
    * order.
    *
    * Per-table scale dirs (`tools/sfcut.sh`, ScaleGen subsets) hold only
    * the tables a measurement needs, so existence is probed first: a
    * blind load of a missing table makes Spark's FileStreamSink WARN log
    * a full stack trace per table. The probe goes through the Hadoop FS
    * layer, not java.nio, so it sees every path Spark itself can read
    * (hdfs://, s3a://, file:// URIs); an unprobeable path is left for the
    * load to try. Absent tables and failed loads are logged by name on
    * stderr.
    */
  def warmTables(spark: SparkSession, dir: String): Seq[String] = {
    val (present, absent) = graft.sources.Tables.names.partition { t =>
      guarded("tables", s"warm-up probe $t") {
        val p = new org.apache.hadoop.fs.Path(dir, s"$t.parquet")
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
      }.getOrElse(true)
    }
    if (absent.nonEmpty)
      System.err.println(
        s"[tables] warm-up skips tables absent from $dir: ${absent.mkString(", ")}")
    present.filter { t =>
      guarded("tables", s"warm-up $t")(
        graft.sources.Tables.load(spark, dir, t).count()).isRight
    }
  }
}
