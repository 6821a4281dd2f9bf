package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Per-job wall-time profile of one or more declared queries (measurement
  * tooling, guide §1.1/§7.1 — the sandbox has no Spark UI, so this prints
  * the job timeline the Stages page would show). Usage:
  *
  *   SPARK_GRAFT_ONLY=q_dedup_minhash SPARK_GRAFT_CPUS=32 \
  *   sbt "runMain graft.Profile"
  *
  * Prints one line per Spark job: jobId, wall ms, #tasks, and the job's
  * callSite/description — enough to attribute a query's cost to its
  * build-time jobs (checkpoint materializations, censuses, CC rounds)
  * versus the final noop write.
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
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Int)]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .map(_.getProperty("spark.job.description", "")).getOrElse("")
        val site = Option(js.properties)
          .map(_.getProperty("callSite.short", "")).getOrElse("")
        val nTasks = js.stageInfos.map(_.numTasks).sum
        starts.put(js.jobId,
          (System.nanoTime(), if (desc.nonEmpty) desc else site, nTasks))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(starts.remove(je.jobId)).foreach { case (t0, what, nTasks) =>
          println(f"[job] ${je.jobId}%4d ${(System.nanoTime() - t0) / 1e6}%9.1f ms  tasks=$nTasks%4d  $what")
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    names.foreach { n =>
      SparkEntry.queries.get(n) match {
        case None => System.err.println(s"[profile] unknown query: $n")
        case Some(fn) =>
          (1 to runs).foreach { r =>
            val t0 = System.nanoTime()
            println(s"---- $n run $r ----")
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            println(f"---- $n run $r total ${(System.nanoTime() - t0) / 1e9}%.3f s ----")
            System.gc()
          }
      }
    }
    spark.stop()
  }
}
