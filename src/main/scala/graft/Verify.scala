package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (scripts/selfcheck.py). The
  * session is the one Bench times, so answers are checked under the
  * timed config. Each query is [[Session.guarded]]: a NonFatal error is
  * logged and the dump goes on; a fatal one ends the run with a nonzero
  * exit. Usage: runMain graft.Verify <sfDir> <outDir>
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session.build(sfDir, Session.env().cpus)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      Session.guarded("verify", name)(
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
    }
    val json = SparkEntry.oracleSql.map { case (k, v) =>
      s"${Session.jsonString(k)}: ${Session.jsonString(v)}"
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
