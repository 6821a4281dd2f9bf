package graft
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal
object Bench {

  /** Deny-filter for the one benign ERROR stack that kept polluting the
    * driver artifact's 2000-char stdout tail (VERDICT r11 item 3,
    * reproduced and named this round):
    *
    *   ERROR DAGScheduler: Failed to update accumulator N (Unknown class)
    *   org.apache.spark.SparkException: attempted to access non-existent
    *   accumulator N  (+ ~10 frames of DAGScheduler.updateAccumulators →
    *   handleTaskCompletion → EventLoop, repeated once per accumulator)
    *
    * Root cause: tasks of an already-finished job — a
    * limit-short-circuited one, or a cancelled AQE stage — drain their
    * completion events AFTER the query returned, while the inter-query
    * `System.gc()` (load-bearing: it releases each query's
    * localCheckpoint blocks, the q_percentile 4 s→22 s fix) has already
    * collected SPARK'S OWN per-plan SQL-metric and per-stage task-metric
    * accumulators, which AccumulatorContext only holds weakly. graft
    * creates no accumulator of its own (every run-time count is a
    * [[Materialize]] fold), so these are the only ones; no graft-side
    * strong ref can reach the per-stage ones, and the lost update is
    * metrics-only (nothing in graft reads accumulators),
    * so the honest treatment is to suppress exactly this message and
    * COUNT the suppressions: the filter denies log events whose message
    * starts with the literal prefix, bumps `counter`, and stays NEUTRAL
    * for everything else — a genuine DAGScheduler failure still logs, and
    * still reaches the artifact through the thrown exception's
    * [[Session.errorHead]] anyway. main() prints one summary line to stderr at
    * the end, so the artifact records THAT suppression happened without
    * 12-line stacks eating the tail window.
    *
    * Blast radius (ADVICE r12): the deny is restricted to exactly the
    * benign shape, not the message prefix alone — the event must come
    * from the DAGScheduler logger AND name the lost accumulator's class
    * as unknown (`(Unknown class)` — the context lookup already failed)
    * or carry the `non-existent accumulator` root cause. A genuine
    * accumulator-update failure during an ACTIVE query names a real
    * class (`(SQLMetric)`, a user accumulator's class) with a different
    * cause and still logs; so does any same-prefix message from another
    * logger.
    */
  private[graft] def installLateAccumFilter(
      counter: java.util.concurrent.atomic.AtomicLong): Boolean =
    try {
      import org.apache.logging.log4j.LogManager
      import org.apache.logging.log4j.core.{Filter, LogEvent, LoggerContext}
      val f = new org.apache.logging.log4j.core.filter.AbstractFilter() {
        private def rootCauseMsg(t: Throwable): String = {
          var r = t
          while (r.getCause != null && (r.getCause ne r)) r = r.getCause
          Option(r.getMessage).getOrElse("")
        }
        override def filter(e: LogEvent): Filter.Result = {
          val m = e.getMessage
          val benign =
            "org.apache.spark.scheduler.DAGScheduler" == e.getLoggerName &&
            m != null && {
              val s = m.getFormattedMessage
              s != null && s.startsWith("Failed to update accumulator") && (
                s.contains("(Unknown class)") || {
                  val t = e.getThrown
                  t != null &&
                    rootCauseMsg(t).contains("non-existent accumulator")
                })
            }
          if (benign) { counter.incrementAndGet(); Filter.Result.DENY }
          else Filter.Result.NEUTRAL
        }
      }
      val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
      val cfg = ctx.getConfiguration
      // events route to the most specific LoggerConfig — cover them all
      cfg.getRootLogger.addFilter(f)
      cfg.getLoggers.values.forEach(_.addFilter(f))
      ctx.updateLoggers()
      true
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] late-accum filter not installed: $e")
      false
    }


  private def fmt(v: Double): String =
    "%.3f".formatLocal(java.util.Locale.ROOT, v)

  /** 2-decimal cell format for the BUDGETED stdout line only (VERDICT r14
    * item 7): ~0.5 s queries near the character cutoff rotated in and out
    * of the line round-to-round, surfacing as phantom dropped/new rows in
    * the driver's PERF diff. One char per entry buys a few more slots;
    * 10 ms granularity is far below the host's measured cell noise.
    * `bench_full.json` keeps full 3-decimal cells.
    */
  private def fmt2(v: Double): String =
    "%.2f".formatLocal(java.util.Locale.ROOT, v)

  /** Data-sized AQE starting partition count: one shuffle partition per
    * ~32 MB of on-disk source bytes, floored at the core count, capped at
    * 32× cores (rationale at [[Session.build]], its one caller in main).
    */
  private[graft] def dataSizedInitParts(sfDir: String, cpus: Long): Long = {
    val dirBytes =
      try {
        val root = java.nio.file.Paths.get(sfDir)
        val s = java.nio.file.Files.walk(root)
        try s.filter(java.nio.file.Files.isRegularFile(_))
          .mapToLong(java.nio.file.Files.size(_)).sum()
        finally s.close()
      } catch { case NonFatal(_) => 0L }
    math.min(math.max(dirBytes / (32L << 20), cpus), cpus * 32)
  }

  /** Ultra-compact whole-run record (VERDICT r7 item 6): total, query
    * count and sf, no per-query entries. Printed FIRST so a reader of the
    * last 2 KB of stdout always captures one machine-readable line even when
    * the per-query line plus sbt's trailing "[success]" fills the rest of
    * the window. Both lines together must stay under the window —
    * [[perQueryBudget]] keeps the long line's share down.
    */
  private[graft] def compactLine(total: Double, nq: Int, sf: String): String =
    s"""{"metric":"total","value":${fmt(total)},"unit":"sec","nq":$nq,""" +
      // sfDir is environment input — escape it, or a quote/backslash in
      // the path breaks the very line that must always stay parseable
      s""""sf":${Session.jsonString(sf)}}"""

  /** Character budget for the per-query stdout line: compact line (~85,
    * bounded 140 by spec) + this + sbt's "[success] Total time ..." tail
    * (~40) must fit a 2000-char stdout tail window with margin.
    */
  private[graft] val perQueryBudget = 1660

  /** The budgeted per-query stdout line: broken (-1) cells first so they
    * are never budgeted out, then the slowest first, up to the first cell
    * that does not fit [[perQueryBudget]]. The shown cells are therefore
    * an exact slowest-first prefix: a cell that is shown is never slower
    * than one left out, and `omitted` counts the cells left out, so a
    * cell cannot leave the line without saying so.
    */
  private[graft] def detailLine(total: Double, cells: Seq[(String, Double)],
      sf: String): String = {
    val prefix = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","nq":${cells.size},"queries":{"""
    def suffix(omitted: Int) = s"""},"omitted":$omitted,"sf":${Session.jsonString(sf)}}"""
    val entries = cells.sortBy { case (_, v) => (v >= 0, -v) }
      .map { case (k, v) => "\"" + k + "\":" + fmt2(v) }
    // the widest omitted count is reserved, so the final line fits too
    val room = perQueryBudget - prefix.length - suffix(cells.size).length
    val shown = entries.take(
      entries.scanLeft(0)(_ + _.length + 1).tail.takeWhile(_ <= room).size)
    prefix + shown.mkString(",") + suffix(cells.size - shown.size)
  }

  /** The published `value`: the sum of the measured cells. A failed
    * query's -1 sentinel stays in its own cell and out of the sum, so a
    * broken query never lowers the total.
    */
  private[graft] def measuredTotal(cells: Seq[(String, Double)]): Double =
    cells.collect { case (_, v) if v >= 0 => v }.sum

  /** Best-of-2 cell per query, in the given order. One execution is a
    * noop write, which forces FULL execution of every output column
    * (`.count()` let Catalyst prune unreferenced projections, so map-only
    * queries measured little more than scan+count — VERDICT r1 §wrong.6).
    * Two runs because single runs swing ±40% on a virtualized host; the
    * minimum of repeated runs of deterministic work is the standard
    * low-noise estimator. Each run is [[Session.guarded]]: a failed run's
    * head is recorded in the returned failures, and a query whose runs
    * all failed gets -1, which never masquerades as a fast timing.
    */
  private[graft] def measure(spark: SparkSession, sfDir: String,
      selected: Seq[(String, Session.Query)]): (Seq[(String, Double)], Seq[(String, String)]) = {
    val failures = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val cells = selected.map { case (name, fn) =>
      val runs = (1 to 2).map(_ => Session.guarded("bench", name) {
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      })
      failures ++= runs.collect { case Left(head) => name -> head }
      val ok = runs.collect { case Right(s) => s }
      // release this query's localCheckpoint blocks: the ContextCleaner
      // frees them only after the driver-side RDD references are GC'd,
      // and accumulated blocks from earlier queries otherwise build heap
      // pressure that pathologically slows later buffer-heavy aggregates
      // (measured: q_percentile 4s early in the run, 22s late)
      System.gc()
      name -> (if (ok.isEmpty) -1.0 else ok.min)
    }
    (cells, failures.toSeq)
  }

  /** Times the queries of [[Session.env]] (every declared query, or
    * `SPARK_GRAFT_ONLY`'s names in their order) against
    * `SPARK_GRAFT_SF_DIR` on `local[SPARK_GRAFT_CPUS]`, after
    * [[Session.warm]], and prints two JSON lines on stdout; full detail
    * goes to target/bench_full.json. Host noise is not adjudicated
    * here: `python3 layerbench/run.py` does that with host-invariant
    * counters.
    */
  def main(args: Array[String]): Unit = {
    val env = Session.env()
    val (sfDir, queries) = (env.sfDir, env.queries)
    val spark = Session.build(sfDir, env.cpus)
    // benign late-accumulator ERROR stacks must not eat the stdout tail
    // (VERDICT r11 item 3; doc at [[installLateAccumFilter]])
    val lateAccumSuppressed = new java.util.concurrent.atomic.AtomicLong
    installLateAccumFilter(lateAccumSuppressed)
    Session.warm(spark, sfDir)
    val (results, failures) = measure(spark, sfDir, queries)
    val total = measuredTotal(results)
    // Full per-query detail — too long for the driver's 2000-char stdout
    // tail window (the r2 one-liner with all 89 queries at full precision
    // was truncated mid-line and failed to parse) — goes to a file, with
    // every failed run's exception head so a transient that best-of-2
    // absorbs still leaves an auditable name in the artifact
    val fullJson = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val failuresJson = failures.map { case (n, h) =>
      s"""{"q":${Session.jsonString(n)},"error":${Session.jsonString(h)}}"""
    }.mkString("[", ",", "]")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("target/bench_full.json"),
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","nq":${results.size},"queries":$fullJson,"failures":$failuresJson,"sf":${Session.jsonString(sfDir)}}"""
        .getBytes("UTF-8"))
    catch { case NonFatal(e) => System.err.println(s"[bench] full dump: $e") }
    // one auditable line instead of N 12-line stacks (stderr — it must
    // never displace the two stdout JSON lines it exists to protect)
    if (lateAccumSuppressed.get > 0)
      System.err.println(s"[bench] suppressed ${lateAccumSuppressed.get} " +
        "late-accumulator ERROR logs (benign: completion events of " +
        "finished jobs' tasks draining after the inter-query GC)")
    // TWO stdout JSON lines, both inside a 2 KB stdout tail window:
    // first the ultra-compact whole-run record (always parseable — r7
    // item 6: every BENCH_r{3..7}.json landed `"parsed": null` because
    // the single budgeted line plus sbt's prefix chatter overflowed the
    // window), then the per-query detail line, budgeted so compact +
    // detail + sbt's trailing "[success] Total time ..." still fit.
    println(compactLine(total, results.size, sfDir))
    println(detailLine(total, results, sfDir))
    spark.stop()
  }
}
