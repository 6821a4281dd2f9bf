package graft

/** Dump `.explain("formatted")` for a comma-separated list of declared
  * queries (measurement tooling for the optimization rounds — guide §1.1:
  * capture the plan shape before and after every change). Usage:
  *
  *   SPARK_GRAFT_ONLY=q_dedup_minhash,q_dedup_clusters \
  *   SPARK_GRAFT_PLAN_SUFFIX=before \
  *   SPARK_GRAFT_PLAN_DIR=plans/r14 \
  *   sbt "runMain graft.PlanExplain"
  *
  * Writes <dir>/<query>_<suffix>.txt. The query list is the same
  * `SPARK_GRAFT_ONLY` variable Bench and Profile read. The session is Bench's
  * ([[Session.build]]), so the dumped plans match what the bench runs.
  * NOTE: iterative operators (Dedup.clusters, Percentiles.exact) execute
  * their driver-synced jobs at BUILD time; their dumped plan is the final
  * returned query, starting from checkpointed RDD scans — same caveat as
  * PLANS.md.
  */
object PlanExplain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val names = sys.env.getOrElse("SPARK_GRAFT_ONLY", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "before")
    val dir = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "plans/r14"))
    java.nio.file.Files.createDirectories(dir)
    val spark = Session.build(sfDir, cpus)
    names.foreach { n =>
      SparkEntry.queries.get(n) match {
        case None => System.err.println(s"[planexplain] unknown query: $n")
        case Some(fn) =>
          try {
            val df = fn(spark, sfDir)
            val txt = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            java.nio.file.Files.write(dir.resolve(s"${n}_$suffix.txt"),
              txt.getBytes("UTF-8"))
            println(s"[planexplain] wrote ${n}_$suffix.txt")
          } catch { case scala.util.control.NonFatal(e) =>
            System.err.println(s"[planexplain] $n failed: $e")
          }
      }
    }
    spark.stop()
  }
}
