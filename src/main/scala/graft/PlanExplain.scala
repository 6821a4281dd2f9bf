package graft

import java.nio.file.{Files, Paths}

/** The repository's one plan dumper: `.explain("formatted")` for the
  * queries of [[Session.env]] (measurement tooling for the optimization
  * rounds — guide §1.1: capture the plan shape before and after every
  * change). Usage:
  *
  *   SPARK_GRAFT_ONLY=q_dedup_minhash,q_dedup_clusters \
  *   SPARK_GRAFT_PLAN_DIR=plans/before \
  *   sbt "runMain graft.PlanExplain"
  *
  * Writes <dir>/<query>.txt (dir default `target/plans`); a before/after
  * pair uses two dirs. The session is Bench's ([[Session.build]]), so the
  * dumped plans match what the bench runs. Frames stored through
  * [[Materialize]] (dedup, kNN, quantile and CalTopo folder builds, oracle
  * flags) are computed while the query is BUILT, so the dumped plan reads
  * them as `Scan ExistingRDD` or literals; `graft.Profile` prints the
  * build itself.
  */
object PlanExplain {
  def main(args: Array[String]): Unit = {
    val env = Session.env()
    val queries = env.queries
    val dir = Files.createDirectories(Paths.get(env.planDir))
    val spark = Session.build(env.sfDir, env.cpus)
    queries.foreach { case (n, fn) =>
      Session.guarded("planexplain", n) {
        val txt = fn(spark, env.sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.write(dir.resolve(s"$n.txt"), txt.getBytes("UTF-8"))
        println(s"[planexplain] wrote $n.txt")
      }
    }
    spark.stop()
  }
}
