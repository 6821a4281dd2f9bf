package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.Registry

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * The real content lives in [[graft.queries.Registry]]; this object just
  * exposes it in the driver's required shape.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's whole pipeline A1→A14 fused (SURVEY.md §7.2).
    */
  def entry(spark: SparkSession): DataFrame =
    Registry.all.find(_.name == "flagship").get
      .build(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.all.map(q => q.name -> q.build).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables.
    */
  def oracleSql: Map[String, String] =
    Registry.all.map(q => q.name -> q.oracle).toMap
}
