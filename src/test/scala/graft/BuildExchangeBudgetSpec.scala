package graft

/** Build-phase exchange budget, next to ShuffleBudgetSpec: that spec
  * counts the Exchanges of each query's returned plan, so the shuffles an
  * operator runs while the query is BUILT (the plans it materializes
  * through [[Materialize]] — pair frames, gram arrays, group tables,
  * bisection rounds, oracle flags) are invisible to it. [[Materialize]]
  * records the exchanges of every plan it runs; this spec sums them over
  * the [[Materialize]] calls of each query's traced build
  * ([[BuiltQueries]]) and fails on growth.
  *
  * Budgets are the counts measured in this spec's session (local[4],
  * sf0.001). They count query stages under AQE, so they are
  * config-sensitive; re-record deliberately when a query's build changes.
  */
class BuildExchangeBudgetSpec extends SparkSpec {

  private val budget: Map[String, Int] = Map(
    "q_dedup_clusters" -> 7,
    "q_dedup_clusters_exact_first" -> 10,
    "q_dedup_minhash" -> 7,
    "q_dedup_pipeline" -> 9,
    "q_dedup_pipeline_exact_first" -> 9,
    "q_dedup_simhash" -> 5,
    "q_knn_ivf" -> 10,
    "q_knn_lsh" -> 10,
    "q_knn_lsh_dedup" -> 13,
    "q_ntile" -> 1,
    "q_ntile_approx" -> 4,
    "q_percentile" -> 4,
    "q_percentile_approx" -> 4)

  /** Build plus returned-plan exchanges of the ten oracle-flag queries.
    * A flag measured while the query is built moves its exchanges from
    * the returned plan into the build, so each phase's pin alone could
    * hide growth in the other; the sum cannot.
    */
  private val flagTotal: Map[String, Int] = Map(
    "q_dedup_clusters" -> 7,             // one-partition labels: 8 -> 7
    "q_dedup_clusters_exact_first" -> 10, // 11 -> 10
    "q_dedup_minhash" -> 8,
    "q_dedup_pipeline" -> 9,
    "q_dedup_pipeline_exact_first" -> 9,
    "q_dedup_simhash" -> 5,
    "q_knn_ivf" -> 10,
    "q_knn_lsh" -> 10,
    "q_knn_lsh_dedup" -> 13,
    "q_percentile_approx" -> 10)

  private def build(q: BuiltQueries.Record) = q.build.calls.map(_.exchanges).sum

  test("dedup, kNN, ntile and percentile builds run no more exchanges than recorded") {
    BuiltQueries.assertPins(budget, "build-phase exchanges")(build)
  }

  test("oracle-flag queries run no more build plus returned-plan exchanges than recorded") {
    // the returned plan is counted as ShuffleBudgetSpec counts it
    BuiltQueries.assertPins(flagTotal, "build + returned-plan exchanges") { q =>
      build(q) + "Exchange".r.findAllIn(q.plan).size
    }
  }
}
