package graft

import org.apache.spark.GraftListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-job wall-time profile of one or more declared queries (measurement
  * tooling, guide §1.1/§7.1 — the sandbox has no Spark UI, so this prints
  * the job timeline the Stages page would show). Usage:
  *
  *   SPARK_GRAFT_ONLY=q_dedup_minhash SPARK_GRAFT_CPUS=32 \
  *   sbt "runMain graft.Profile"
  *
  * Prints one `[job]` line per Spark job: jobId, wall ms, #tasks, and what
  * ran it — the SQL execution it belongs to (`exec <id>: <description>`,
  * e.g. `localCheckpoint at Vectors.scala:301` or the final `save`), else
  * the job's own description or call site. An AQE stage job's call site
  * is only `CompletableFuture.java`; its execution names the operator
  * call that submitted it. That attributes a query's cost to its
  * build-time executions (checkpoint materializations, censuses, CC
  * rounds) versus the final noop write.
  *
  * One `[plan]` line per completed query execution (the
  * materializations and collects of the build phase, then the write): its
  * action name and its analysis, optimization and planning ms from the
  * planning tracker, then its run ms. Driver-side DataFrame building
  * before the write shows as the `build` ms of the run's total line.
  *
  * One `[materialize]` line per [[Materialize]] call of the run: its site,
  * whether it stored the frame, deferred it or found its count known, the
  * measured rows and bytes, the exchanges of the plan it ran, its fold
  * values, and the route or broadcast the caller chose from them. Its
  * jobs show as `exec <id>: materialize <site>`.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val names = sys.env.getOrElse("SPARK_GRAFT_ONLY", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "1").toInt.max(1)
    val spark = Session.build(sfDir, cpus)
    // same warm-up as Bench so first-touch codegen doesn't pollute jobs
    graft.sources.Tables.warm(spark, sfDir)
    val executions = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Int)]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          executions.put(s.executionId, s.description)
        case _ =>
      }
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val prop = (k: String) =>
          Option(js.properties).map(_.getProperty(k, "")).getOrElse("")
        val execution = Option(prop(SQLExecution.EXECUTION_ID_KEY))
          .filter(_.nonEmpty).map(_.toLong)
          .flatMap(id => Option(executions.get(id)).map(d => s"exec $id: $d"))
        val desc = prop("spark.job.description")
        val what = execution.getOrElse(
          if (desc.nonEmpty) desc else prop("callSite.short"))
        val nTasks = js.stageInfos.map(_.numTasks).sum
        starts.put(js.jobId, (System.nanoTime(), what, nTasks))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(starts.remove(je.jobId)).foreach { case (t0, what, nTasks) =>
          println(f"[job] ${je.jobId}%4d ${(System.nanoTime() - t0) / 1e6}%9.1f ms  tasks=$nTasks%4d  $what")
        }
      }
    }
    val planTimes = new QueryExecutionListener {
      override def onSuccess(action: String, qe: QueryExecution, ns: Long): Unit = {
        val phases = qe.tracker.phases
        def ms(phase: String) = phases.get(phase).map(_.durationMs).getOrElse(0L)
        println(f"[plan] $action%-12s analysis ${ms(QueryPlanningTracker.ANALYSIS)}%5d ms" +
          f"  optimization ${ms(QueryPlanningTracker.OPTIMIZATION)}%5d ms" +
          f"  planning ${ms(QueryPlanningTracker.PLANNING)}%5d ms  run ${ns / 1e6}%9.1f ms")
      }
      override def onFailure(action: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    spark.listenerManager.register(planTimes)
    names.foreach { n =>
      SparkEntry.queries.get(n) match {
        case None => System.err.println(s"[profile] unknown query: $n")
        case Some(fn) =>
          (1 to runs).foreach { r =>
            println(s"---- $n run $r ----")
            Materialize.drain()
            val t0 = System.nanoTime()
            val df = fn(spark, sfDir)
            val built = System.nanoTime()
            df.write.format("noop").mode("overwrite").save()
            val done = System.nanoTime()
            // print this run's job and plan lines before its total
            GraftListenerBridge.waitUntilListenerBusEmpty(sc)
            Materialize.drain().foreach(c => println(s"[materialize] $c"))
            println(f"---- $n run $r total ${(done - t0) / 1e9}%.3f s" +
              f" (build ${(built - t0) / 1e6}%.1f ms) ----")
            System.gc()
          }
      }
    }
    spark.stop()
  }
}
