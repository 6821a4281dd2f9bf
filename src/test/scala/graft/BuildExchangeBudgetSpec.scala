package graft

/** Build-phase exchange budget, next to ShuffleBudgetSpec: that spec
  * counts the Exchanges of each query's returned plan, so the shuffles an
  * operator runs while the query is BUILT (the plans it materializes
  * through [[Materialize]] — pair frames, gram arrays, group tables,
  * bisection rounds) are invisible to it. [[Materialize]] records the
  * exchanges of every plan it runs; this spec sums them over the build of
  * each query below and fails on growth.
  *
  * Budgets are the counts measured in this spec's session (local[4],
  * sf0.001). They count query stages under AQE, so they are
  * config-sensitive; re-record deliberately when a query's build changes.
  */
class BuildExchangeBudgetSpec extends SparkSpec {

  private val budget: Map[String, Int] = Map(
    "q_dedup_clusters" -> 6,
    "q_dedup_clusters_exact_first" -> 9,
    "q_dedup_minhash" -> 7,
    "q_dedup_pipeline" -> 9,
    "q_dedup_pipeline_exact_first" -> 9,
    "q_dedup_simhash" -> 5,
    "q_knn_lsh_dedup" -> 2,
    "q_ntile" -> 1,
    "q_ntile_approx" -> 4,
    "q_percentile" -> 4,
    "q_percentile_approx" -> 4)

  test("dedup, kNN, ntile and percentile builds run no more exchanges than recorded") {
    graft.sources.Tables.warm(spark, sfDir)
    val counts = budget.toSeq.sortBy(_._1).map { case (name, b) =>
      Materialize.drain()
      SparkEntry.queries(name)(spark, sfDir)
      (name, Materialize.drain().map(_.exchanges).sum, b)
    }
    val over = counts.collect { case (n, e, b) if e > b =>
      s"$n: $e build-phase exchanges > budget $b" }
    assert(over.isEmpty,
      s"""build-phase exchange budgets exceeded: ${over.mkString("; ")}
         |all counts: ${counts.map { case (n, e, _) => s"$n=$e" }.mkString(", ")}""".stripMargin)
  }
}
