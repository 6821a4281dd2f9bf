package graft

/** The repository's one plan dumper: `.explain("formatted")` for a
  * comma-separated list of declared queries (measurement tooling for the
  * optimization rounds — guide §1.1: capture the plan shape before and
  * after every change). Usage:
  *
  *   SPARK_GRAFT_ONLY=q_dedup_minhash,q_dedup_clusters \
  *   SPARK_GRAFT_PLAN_SUFFIX=before \
  *   SPARK_GRAFT_PLAN_DIR=plans/r15 \
  *   sbt "runMain graft.PlanExplain"
  *
  * Writes <dir>/<query>_<suffix>.txt (dir default `target/plans`). The
  * session is Bench's ([[Session.build]]), so the dumped plans match what
  * the bench runs. Frames stored through [[Materialize]] (dedup, kNN,
  * quantile and CalTopo folder builds, oracle flags) are computed while
  * the query is BUILT, so the dumped plan reads them as `Scan
  * ExistingRDD` or literals; `graft.Profile` prints the build itself.
  */
object PlanExplain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val names = sys.env.getOrElse("SPARK_GRAFT_ONLY", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "before")
    val dir = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "target/plans"))
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
