package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * Reads are plain `spark.read.parquet` so Catalyst keeps full control of
  * column pruning and predicate pushdown — callers `select`/`filter` and the
  * parquet scan shrinks accordingly (`ReadSchema`/`PushedFilters` asserted in
  * PlanSpec). At 100 TB the same call sites work unchanged over a partitioned
  * table root: partition pruning and DPP engage automatically because nothing
  * here materializes or caches eagerly.
  */
object Tables {

  /** Resolved-relation cache keyed by (session, path) — the catalog
    * metadata a production engine would hold in its metastore. Every
    * `spark.read.parquet` call pays a driver-blocking schema-merge job
    * over the file footers plus a file listing; at 111 registered queries
    * × 1–10 tables each that was ~200 of the sf0.001 suite's 781 jobs
    * (BASELINE.md r10 "The fixed-cost floor attacked with a job census" —
    * the single largest floor payer). The cached value is just the
    * analyzed read plan (a LogicalRelation — immutable, reusable across
    * queries); no DATA is cached, so Catalyst still
    * prunes columns and pushes filters per consumer exactly as before
    * (PlanSpec's ReadSchema/PushedFilters pins are unchanged).
    *
    * CAVEAT: the file listing snapshots at first load, so files appended
    * to a cached path in the same JVM are not seen (static testdata and
    * per-round scale dirs never do that; the slice probes write to their
    * own dirs with direct `spark.read`).
    * Session-keyed so a restarted session re-lists; entries for stopped
    * sessions are dropped on the next cache touch.
    */
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** The table `name` of `dir` as every consumer sees it: `events` goes
    * through [[normalizeTs]], so the query, SQL and introspection
    * surfaces never disagree on its `ts` type (ADVICE r1: a raw load
    * reported `ts BIGINT` while queries saw `ts TIMESTAMP`).
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // drop entries of stopped sessions (their cached plans pin the old
    // SparkContext; a fresh session must re-resolve)
    cache.keySet.removeIf(_._1.sparkContext.isStopped)
    val df = cache.computeIfAbsent((spark, s"$dir/$name.parquet"),
      key => key._1.read.parquet(key._2))
    if (name == "events") normalizeTs(df) else df
  }

  /** The events file's `ts` physical type has varied across driver data
    * generations — TIMESTAMP(NANOS) (read as a nanos BIGINT under
    * spark.sql.legacy.parquet.nanosAsLong=true, which Verify/Bench/test
    * harnesses set) and plain micros `timestamp[us]` with no timezone
    * (read as TIMESTAMP_NTZ). Normalize both here to a micros
    * TimestampType so every consumer sees one timestamp type. Both
    * branches are timezone-INDEPENDENT: nanos get floor division (exactly
    * what DuckDB does reading the same file), and NTZ recovers its stored
    * micros by pure local-datetime arithmetic (timestampdiff over NTZ
    * operands never consults the session zone — a plain
    * cast(ts as timestamp) would shift instants under any non-UTC
    * session). Shared by [[load]] and
    * [[graft.streaming.StreamRunner.eventsStream]] so the two paths
    * cannot drift across data generations.
    */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema.find(_.name == "ts") match {
      case Some(f) if f.dataType == org.apache.spark.sql.types.LongType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      case Some(f) if f.dataType == org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr(
              "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")))
      case _ => df
    }

  /** (bytes, fileCount) of `dir/name.parquet` (file or directory), cached —
    * the [[spreadSmall]] decision inputs. (Long.MaxValue, Long.MaxValue) on
    * any error (the caller then never repartitions — safe degradation for
    * exotic FS).
    */
  private val sizeCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()
  private def tableStats(s: SparkSession, d: String, name: String): (Long, Long) = {
    val path = s"$d/$name.parquet"
    val cached = sizeCache.get(path)
    if (cached != null) cached
    else
      try {
        val p = new org.apache.hadoop.fs.Path(path)
        val cs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
          .getContentSummary(p)
        val v = (cs.getLength, cs.getFileCount)
        sizeCache.putIfAbsent(path, v)
        v
      } catch { case scala.util.control.NonFatal(e) =>
        // NOT cached (ADVICE r14): a transient FS error at first touch
        // must not silently disable spreadSmall for the session lifetime —
        // return the no-spread sentinel for this call only, and log once
        // per call so a persistent no-spread decision is diagnosable
        System.err.println(s"[tables] stats unavailable for $path " +
          s"(spread disabled this call): $e")
        (Long.MaxValue, Long.MaxValue)
      }
  }

  /** Natural key column per table — [[spreadSmall]]'s hash-partition key.
    * Keys are unique (or near-unique) longs, so hashing them spreads rows
    * evenly over the cores; hash repartition skips the local
    * sort-before-repartition that a round-robin `repartition(n)` pays
    * (SPARK-23207 retry determinism — hash placement is already
    * deterministic), and a downstream join/window/aggregate keyed on the
    * SAME column reuses the spread exchange outright (q18's
    * lineitem⋈orders spine, the five-gram window by doc_id).
    */
  private val spreadKey = Map(
    "lineitem" -> "l_orderkey", "orders" -> "o_orderkey",
    "customer" -> "c_custkey", "supplier" -> "s_suppkey",
    "part" -> "p_partkey", "documents" -> "doc_id",
    "events" -> "event_id", "embeddings" -> "vec_id")

  /** Scale-adaptive kernel parallelization of a small scan (opt guide
    * §2.5 input skew / §1.2 step 1, r14): when the table's on-disk bytes
    * sit under cores × openCostInBytes, Spark's split packing gives the
    * scan FEWER TASKS THAN CORES (the 4 MB open-cost floor makes any such
    * file a handful of splits, and a single-row-group parquet file is ONE
    * task however it splits) — so an expensive per-row kernel downstream
    * (gram hashing, 64-slot minhash/simhash signatures, JSON round
    * trips, decimal aggregation) runs on one core while the rest idle.
    * Measured r14 at sf0.1: the dedup truth-frame gram checkpoint was a
    * single 400 ms task on a 584 KB documents scan with 31 cores idle.
    * In that regime this returns the frame hash-repartitioned to the
    * core count on the table's natural key ([[spreadKey]]) — a
    * sub-(cores×4 MB) exchange with no pre-sort, trivial next to the
    * kernel win; above the threshold the frame passes through UNTOUCHED
    * (no plan change, no shuffle — the 100 TB scan already carries
    * thousands of partitions). The decision reads only the input's
    * on-disk size: deterministic, no data cached, results unchanged
    * (consumers are aggregates/joins — row order never reaches a
    * declared output). Column pruning survives (Catalyst pushes
    * projections below a repartition), filters still push to the parquet
    * scan below the exchange (PlanSpec pins Q6), and AQE respects the
    * explicit partition count. APPLY SELECTIVELY: the exchange plus its
    * AQE stage jobs cost ~0.1–0.2 s at bench SFs, so only queries whose
    * per-row kernel clearly dominates carry it (measured r14: spreading
    * cheap-kernel scans — count-only validation, octet_length/md5
    * projections — regressed those cells 2–4×).
    */
  def spreadSmall(s: SparkSession, d: String, name: String): DataFrame = {
    val df = load(s, d, name)
    val cores = s.sparkContext.defaultParallelism
    val openCost = s.sessionState.conf.filesOpenCostInBytes
    val (bytes, files) = tableStats(s, d, name)
    // BOTH conditions (r14, sf10 probe): small bytes alone admitted the
    // sf10 mid-range, where the table is a ~100-part-file directory whose
    // scan is already wider than the cores — the exchange there is pure
    // overhead (q_dedup_minhash +2–7 s at sf10). A multi-file dir
    // parallelizes by file (single-row-group files never split further),
    // so spread only when the file count ALSO sits under the core count.
    // keyless tables pass through untouched (ADVICE r14): spreadKey is a
    // partial map, and a size-qualifying table without a natural key
    // (region, nation) must not throw at plan-build time
    if (bytes < cores.toLong * openCost && files < cores.toLong)
      spreadKey.get(name)
        .map(k => df.repartition(cores, org.apache.spark.sql.functions.col(k)))
        .getOrElse(df)
    else df
  }

  /** Every test-data table (TESTDATA.md), in warm-up order
    * ([[graft.Session.warmTables]]).
    */
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
