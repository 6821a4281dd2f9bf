package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared engine capability: a named DataFrame builder plus the
  * equivalent DuckDB oracle SQL over the same parquet tables. Determinism
  * contract (SURVEY.md §5.2): every query has an explicit
  * total ORDER BY in both forms, never outputs raw timestamps or
  * engine-ordered float aggregates (money math goes through exact DECIMAL),
  * and aliases every computed column identically in both forms (the driver's
  * compare sorts columns by name before hashing). The total ORDER BY belongs
  * to the declared query's `build`, never to an operator that also sits on
  * a delivery path: an operator sort is paid on every delivery (a
  * range-partitioning shuffle and its sampling job) for an order only the
  * oracle compare reads (`CalTopo.flagship` vs the `flagship` query).
  */
final case class Q(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: String)

object Q {
  def apply(name: String, oracle: String)(
      build: (SparkSession, String) => DataFrame): Q =
    Q(name, build, oracle)
}
