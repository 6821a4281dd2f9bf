package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.{CalTopoFeatures, Tables}

/** SQL entry point: registers every driver table (plus the synthetic
  * CalTopo feature table) as temp views so the whole engine surface is
  * reachable from plain `spark.sql`. DataFrame builders and SQL share one
  * Catalyst planner, so plans (pushdown, broadcast, AQE) are identical.
  */
object Sql {

  /** Register all tables for `dir` as temp views; returns the session. */
  def register(spark: SparkSession, dir: String): SparkSession = {
    Tables.names.foreach {
      // the lineitem view carries the scale-adaptive small-scan spread
      // (r14, doc at Tables.spreadSmall): a single-row-group sub-128 MB
      // file otherwise runs every SQL query's scan-side work (decimal
      // casts, partial aggregation, join-shuffle writes) on one task —
      // and the hash-on-l_orderkey exchange doubles as Q18/Q3's join
      // distribution (measured r14: q18 1.67→0.92 s, q1 1.30→0.84 s).
      // At scale the spread is a no-op, so the SQL surface still reaches
      // the same plans as the DataFrame surface. Filters keep pushing to
      // the parquet scan below the exchange (PlanSpec pins Q6). `orders`
      // was tried and reverted: its SQL consumers are cheap aggregates /
      // dim-side joins, where the exchange measured as pure overhead
      // (grouping_sets ×2.5).
      case t @ "lineitem" =>
        Tables.spreadSmall(spark, dir, t).createOrReplaceTempView(t)
      case t => Tables.load(spark, dir, t).createOrReplaceTempView(t)
    }
    CalTopoFeatures.build(spark, dir)
      .createOrReplaceTempView("caltopo_features")
    spark
  }

  /** One-shot: register views and run a SQL query. */
  def run(spark: SparkSession, dir: String, query: String): DataFrame = {
    register(spark, dir)
    spark.sql(query)
  }
}
