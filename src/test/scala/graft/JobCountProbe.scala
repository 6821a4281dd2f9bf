package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Per-query driver-blocking JOB census (VERDICT r9 item 1): the sf0.001
  * suite floor (~49 s quiet-window, ~60% of the sf0.1 total) is made of
  * job round-trips, not data — censuses, eager localCheckpoint
  * materializations, AQE stage jobs — and the cut protocol starts by
  * RANKING the payers. For every registered query this probe tallies
  *
  *  - `build` jobs: launched while the query FUNCTION runs (the eager
  *    census/probe/checkpoint jobs operators like Percentiles/Ntile/
  *    Dedup/Vectors pay before returning their plan), and
  *  - `exec` jobs: launched by the noop write of the returned plan (scan +
  *    every AQE shuffle-stage job + result stage),
  *
  * via a SparkListener job counter (onJobStart is fired for every action,
  * including the hidden broadcast-exchange and checkpoint jobs). Listener
  * delivery is asynchronous — each query waits for the listener bus to
  * drain before reading its tally, so counts never bleed across queries.
  *
  * Output: one line per query sorted by total jobs descending, plus a
  * machine-readable JSON tail (target/jobcount.json) for cross-round
  * diffing. JobBudgetSpec pins the counts of the census-bearing queries;
  * this probe is the exploratory superset (every query, plus wall time).
  *
  * Usage: sbt "Test/runMain graft.JobCountProbe /root/testdata/sf0.001 [only,names]"
  */
object JobCountProbe {

  /** Counts jobs between mark() calls; thread-safe (listener bus thread). */
  final class JobCounter extends SparkListener {
    private val n = new java.util.concurrent.atomic.AtomicLong(0L)
    override def onJobStart(jobStart: SparkListenerJobStart): Unit =
      n.incrementAndGet()
    def snapshot: Long = n.get()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val only = args.lift(1).map(_.split(",").map(_.trim).toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Session.build(sfDir, cpus)
    val counter = new JobCounter
    spark.sparkContext.addSparkListener(counter)
    // mimic Bench's warm-up so first-touch codegen/footer costs don't
    // inflate the first queries' wall column (job counts are unaffected
    // by warmth, but the wall column doubles as a floor-share estimate)
    graft.sources.Tables.warm(spark, sfDir)
    def drained(): Long = {
      // the listener bus is async: flush before reading the tally
      org.apache.spark.GraftListenerBridge
        .waitUntilListenerBusEmpty(spark.sparkContext)
      counter.snapshot
    }
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val rows = selected.map { case (name, fn) =>
      val j0 = drained()
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val jBuild = drained()
      val tBuild = (System.nanoTime() - t0) / 1e9
      df.write.format("noop").mode("overwrite").save()
      val jExec = drained()
      val wall = (System.nanoTime() - t0) / 1e9
      System.gc()
      (name, jBuild - j0, jExec - jBuild, wall, tBuild)
    }
    println(f"${"query"}%-34s ${"build"}%5s ${"exec"}%5s ${"total"}%5s ${"wall"}%7s ${"buildWall"}%9s")
    rows.sortBy { case (_, b, e, _, _) => -(b + e) }.foreach {
      case (name, b, e, w, tb) =>
        println(f"$name%-34s $b%5d $e%5d ${b + e}%5d $w%7.2f s $tb%7.2f s")
    }
    val totJobs = rows.map(r => r._2 + r._3).sum
    val totWall = rows.map(_._4).sum
    println(f"[jobcount] TOTAL queries=${rows.size} jobs=$totJobs wall=$totWall%.1f s sf=$sfDir")
    val json = rows.sortBy(_._1).map { case (name, b, e, w, _) =>
      s"""\"$name\":{"build":$b,"exec":$e,"wall":${f"$w%.2f"}}"""
    }.mkString("{", ",", "}")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("target/jobcount.json"),
      json.getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"[jobcount] dump: $e") }
    spark.stop()
  }
}
