package graft

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Project, Repartition}
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions.broadcast
import org.apache.spark.sql.types._

/** The one way operators store an intermediate frame: a local checkpoint
  * that also measures it.
  *
  * [[apply]] runs ONE Spark job over the checkpoint's partitions. The job
  * stores them, counts the rows and the stored bytes, and evaluates the
  * caller's per-row folds (sum, max or any over columns the frame already
  * has). Each value comes from `runJob`'s per-partition results, one per
  * partition, so a retried task cannot count a partition twice (an
  * accumulator could). The returned frame is the checkpoint's
  * `LogicalRDD`: it keeps the input's partitioning and ordering, and its
  * statistics are the measured row count and bytes, not the optimizer's
  * estimate. Catalyst therefore sizes joins against it from real numbers.
  *
  * A `count()` or an `agg(...).head()` census over a checkpoint would be
  * a second execution: a shuffle-map job plus a result job, where
  * [[apply]] is one job.
  *
  * [[bounded]] is [[apply]] for a frame that may be small: the same one
  * job also sends the frame's rows to the driver, within a cap enforced
  * per partition, so the caller can turn them into a literal or a
  * driver-side computation. It is the one way rows reach the driver in
  * the main sources (SourceLintSpec): CalTopo's folder lookup turns the
  * folder dimension into a map literal, and `Dedup.clusters` runs
  * union-find over the pairs.
  *
  * [[deferred]] is the other form, for a frame whose count nobody reads:
  * the checkpoint is only marked, and its first consumer stores it. Under
  * AQE the call still runs the frame's shuffle-map stages at once; it
  * adds no job of its own.
  *
  * A frame whose exact row count is already on the driver — a
  * `LocalRelation`, or a projection of a frame [[apply]] measured — is
  * not stored again when no fold is asked for: [[apply]] returns it with
  * that count and runs no job ([[knownRows]]).
  *
  * Every call is logged ([[drain]]) with its site, rows, bytes, fold
  * values, the exchanges of the plan it ran and the choice each of the
  * caller's gates made from it ([[Trace]] gives each phase its calls).
  * Each call's jobs carry the description `materialize <site>`.
  *
  * Storage is `localCheckpoint`'s: executor block storage, memory and
  * disk, with no lineage. A lost executor loses the frame, as it did at
  * every former call site.
  */
object Materialize {

  /** A per-row fold over one column: `sum` and `max` of an integral or
    * boolean column (booleans count as 0/1), `any` of a boolean column.
    * Null cells are skipped.
    */
  final case class Fold(kind: String, column: String) {
    override def toString: String = s"$kind($column)"
  }
  def sum(column: String): Fold = Fold("sum", column)
  def max(column: String): Fold = Fold("max", column)
  def any(column: String): Fold = Fold("any", column)

  /** One logged call. `rows` and `bytes` are -1 for a [[deferred]] call;
    * `collected` is the number of rows that reached the driver, -1 unless
    * the call was [[bounded]].
    */
  final class Call(val site: String, val rows: Long, val bytes: Long,
      val folds: Seq[(Fold, Option[Long])], val exchanges: Int,
      val how: String, val collected: Long = -1L) {
    private val gates = scala.collection.mutable.LinkedHashMap.empty[String, String]
    /** Each gate's choice, in the order the gates were first decided:
      * `reps=broadcast buckets=shuffle`.
      */
    def route: String = gates.synchronized {
      gates.map { case (g, c) => s"$g=$c" }.mkString(" ")
    }
    private[Materialize] def decide(gate: String, choice: String): Unit =
      gates.synchronized(gates(gate) = choice)
    override def toString: String = s"$site $how" +
      (if (rows < 0) "" else s" rows=$rows bytes=$bytes") +
      (if (collected < 0) "" else s" collected=$collected") + s" exchanges=$exchanges" +
      folds.map { case (f, v) => s" $f=${v.getOrElse("null")}" }.mkString +
      (if (route.isEmpty) "" else s" $route")
  }

  /** A materialized frame and what its job measured. `local` holds the
    * frame's rows when a [[bounded]] call found them within its cap.
    */
  final class Materialized private[Materialize] (val df: DataFrame,
      val call: Call, val local: Option[Seq[Row]] = None) {
    def rows: Long = call.rows
    def bytes: Long = call.bytes
    /** The i-th fold's value; None only for a `max` that saw no value. */
    def value(i: Int): Option[Long] = call.folds(i)._2
    def sum(i: Int): Long = value(i).getOrElse(0L)
    def any(i: Int): Boolean = value(i).exists(_ != 0L)
    /** Record the choice the caller's `gate` made on these numbers. One
      * call can drive several gates; each keeps its own entry.
      */
    def route(gate: String, choice: String): Unit = call.decide(gate, choice)
    /** `side` with a broadcast hint when `fits`, recording the choice
      * under `gate`.
      */
    def broadcastIf(gate: String, fits: Boolean)(side: DataFrame): DataFrame = {
      route(gate, if (fits) "broadcast" else "shuffle")
      if (fits) broadcast(side) else side
    }
  }

  /** The cell cap of every measured broadcast gate (Ntile's bounds,
    * Percentiles' internal joins, the kNN reps, buckets and cands sides,
    * CalTopo's folders): a side whose measured rows × cells per row stay
    * under it is hinted as a broadcast, past it AQE picks the side. It
    * admits sides past the 10 MB auto-broadcast threshold.
    */
  val BroadcastCells = 2000000L

  /** Name prefix of the RDDs [[apply]] measured: only their statistics are
    * trusted as exact by [[knownRows]] (a plain checkpoint's are estimates,
    * and a LIMIT's row count is only an upper bound).
    */
  private[graft] val Measured = "graft.materialize "

  /** Store `df` and measure it in one job; see the object doc. */
  def apply(df: DataFrame, site: String, folds: Fold*): Materialized =
    knownRows(df) match {
      case Some(n) if folds.isEmpty =>
        val bytes = df.queryExecution.analyzed.stats.sizeInBytes.min(Long.MaxValue)
        new Materialized(df, log(new Call(site, n, bytes.toLong, Nil, 0, "known")))
      case _ => stored(df, site, folds, None)
    }

  /** [[apply]] that also brings `df`'s rows to the driver when it holds at
    * most `cap` of them, in the same one job. Each of the job's P
    * partitions sends at most ⌈(cap + 1) / P⌉ rows, or only an overflow
    * mark when it holds more, so at most cap + P rows ever reach the
    * driver, whatever the frame's statistics claim. `local` is set when no
    * partition overflowed and the frame holds at most `cap` rows; a
    * skewed frame whose one partition holds more than its share is
    * treated as over the cap. `df` is the stored frame either way.
    */
  def bounded(df: DataFrame, site: String, cap: Int, folds: Fold*): Materialized =
    stored(df, site, folds, Some(cap))

  private def stored(df: DataFrame, site: String, folds: Seq[Fold],
      cap: Option[Int]): Materialized = described(df, site) {
    val specs = folds.map { f =>
      val t = df.schema(f.column).dataType
      require(Seq(LongType, IntegerType, ShortType, ByteType, BooleanType)
        .contains(t), s"fold over ${f.column}: $t is not integral or boolean")
      (f.kind, df.schema.fieldIndex(f.column), t)
    }.toArray
    val ck = df.localCheckpoint(false)
    val rdd = GraftSqlBridge.checkpointRdd(ck).setName(Measured + site)
    val n = rdd.getNumPartitions
    // each partition's share of cap + 1 rows, rounded up; -1 sends none
    val share = cap.fold(-1L)(c => (c + 1L + n - 1) / math.max(n, 1))
    val parts = new Array[Array[Long]](n)
    val kept = new Array[Array[InternalRow]](n)
    df.sparkSession.sparkContext.runJob(rdd,
      (it: Iterator[InternalRow]) => foldPartition(it, specs, share),
      (i: Int, r: (Array[Long], Array[InternalRow])) => { parts(i) = r._1; kept(i) = r._2 })
    val (rows, bytes) = (parts.map(_(0)).sum, parts.map(_(1)).sum)
    val values = folds.indices.map { i =>
      val seen = parts.filter(_(3 + 2 * i) != 0L).map(_(2 + 2 * i))
      folds(i).kind match {
        case "sum" => Some(seen.sum)
        case "max" => seen.maxOption
        case _     => Some(seen.foldLeft(0L)(_ | _))
      }
    }
    val local = cap.filter(c => rows <= c && !kept.contains(null)).map { _ =>
      val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
      kept.toSeq.flatten.map(toRow(_).asInstanceOf[Row])
    }
    val collected = if (cap.isEmpty) -1L else kept.filter(_ != null).map(_.length.toLong).sum
    new Materialized(GraftSqlBridge.restated(ck, df, Some((rows, bytes))),
      log(new Call(site, rows, bytes, folds.zip(values),
        exchanges(df.queryExecution.executedPlan), "stored", collected)), local)
  }

  /** A local checkpoint that its first consumer stores; no job of its own
    * (see the object doc). For frames whose count nobody reads.
    */
  def deferred(df: DataFrame, site: String): DataFrame = described(df, site) {
    val ck = df.localCheckpoint(false)
    log(new Call(site, -1L, -1L, Nil, exchanges(df.queryExecution.executedPlan), "deferred"))
    GraftSqlBridge.restated(ck, df, None)
  }

  /** The exact row count of `df` when the driver already has it: a local
    * relation, or a frame [[apply]] measured, under any projection or
    * repartition.
    */
  def knownRows(df: DataFrame): Option[Long] = {
    def of(p: LogicalPlan): Option[Long] = p match {
      case l: LocalRelation => Some(l.data.size.toLong)
      case r: LogicalRDD if Option(r.rdd.name).exists(_.startsWith(Measured)) =>
        r.computeStats().rowCount.map(_.toLong)
      case Project(_, child) => of(child)
      case Repartition(_, _, child) => of(child)
      case _ => None
    }
    of(df.queryExecution.analyzed)
  }

  /** Per partition: rows, bytes, then (value, seen) per fold; and the
    * partition's rows when it holds at most `share` of them (null when it
    * holds more, or when `share` is negative).
    */
  private def foldPartition(it: Iterator[InternalRow],
      specs: Array[(String, Int, DataType)],
      share: Long): (Array[Long], Array[InternalRow]) = {
    val out = new Array[Long](2 + 2 * specs.length)
    val kept = if (share < 0) null else Array.newBuilder[InternalRow]
    it.foreach { r =>
      out(0) += 1
      if (kept != null && out(0) <= share) kept += r.copy()
      out(1) += (r match {
        case u: UnsafeRow => u.getSizeInBytes.toLong
        case _            => 8L * (r.numFields + 1)
      })
      for (i <- specs.indices) {
        val (kind, o, t) = specs(i)
        if (!r.isNullAt(o)) {
          val v = t match {
            case BooleanType => if (r.getBoolean(o)) 1L else 0L
            case _           => r.get(o, t).asInstanceOf[Number].longValue
          }
          val (at, seen) = (2 + 2 * i, out(3 + 2 * i) != 0L)
          out(at) = kind match {
            case _ if !seen => v
            case "sum"      => out(at) + v
            case "max"      => math.max(out(at), v)
            case _          => out(at) | v
          }
          out(at + 1) = 1L
        }
      }
    }
    (out, if (kept == null || out(0) > share) null else kept.result())
  }

  /** Exchanges of a physical plan, query stages included: the one plan
    * walk that [[Call]] and [[Trace]] count with.
    */
  def exchanges(plan: SparkPlan): Int = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec        => Seq(s.plan)
      case other                    => other.children ++ other.subqueries
    }).flatMap(walk)
    walk(plan).count(_.isInstanceOf[Exchange])
  }

  private def described[T](df: DataFrame, site: String)(body: => T): T = {
    val sc = df.sparkSession.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"materialize $site")
    try body finally sc.setJobDescription(prev)
  }

  // the call log: bounded, oldest dropped first
  private val Retain = 4096
  private val calls = new java.util.ArrayDeque[Call]()

  private def log(c: Call): Call = calls.synchronized {
    calls.addLast(c)
    if (calls.size > Retain) calls.removeFirst()
    c
  }

  /** The calls logged since the last drain, oldest first. */
  def drain(): Seq[Call] = calls.synchronized {
    val out = Seq.newBuilder[Call]
    while (!calls.isEmpty) out += calls.removeFirst()
    out.result()
  }
}
