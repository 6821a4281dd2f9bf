package graft

/** Build-phase exchange budget, next to ShuffleBudgetSpec: that spec
  * counts the Exchanges of each query's returned plan, so the shuffles an
  * operator runs while the query is BUILT (the plans it materializes
  * through [[Materialize]] — pair frames, gram arrays, group tables,
  * bisection rounds, oracle flags) are invisible to it. [[Materialize]]
  * records the exchanges of every plan it runs; this spec sums them over
  * the build of each query below and fails on growth.
  *
  * Budgets are the counts measured in this spec's session (local[4],
  * sf0.001). They count query stages under AQE, so they are
  * config-sensitive; re-record deliberately when a query's build changes.
  */
class BuildExchangeBudgetSpec extends SparkSpec {

  // Literal-flag re-record: the kNN recall flags and the cluster-agreement
  // flags are measured by a materialization while the query is built, so
  // their exchanges moved out of the returned plan into the build
  // (q_dedup_clusters 6 -> 7, q_dedup_clusters_exact_first 9 -> 10,
  // q_knn_lsh_dedup 2 -> 13; q_knn_lsh and q_knn_ivf are pinned anew).
  // Each query's build + returned-plan total is pinned in flagTotal.
  // q_percentile_approx's within_accuracy joined them as a literal folded
  // into the percentile machinery's own state job: its build stays at 4.
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
    "q_dedup_clusters" -> 8,
    "q_dedup_clusters_exact_first" -> 11,
    "q_dedup_minhash" -> 8,
    "q_dedup_pipeline" -> 9,
    "q_dedup_pipeline_exact_first" -> 9,
    "q_dedup_simhash" -> 5,
    "q_knn_ivf" -> 10,
    "q_knn_lsh" -> 10,
    "q_knn_lsh_dedup" -> 13,
    "q_percentile_approx" -> 10)

  /** (build, returned plan) exchanges per query; the returned plan is
    * counted as ShuffleBudgetSpec counts it.
    */
  private lazy val counts: Map[String, (Int, Int)] = {
    graft.sources.Tables.warm(spark, sfDir)
    (budget.keySet ++ flagTotal.keySet).toSeq.sorted.map { name =>
      Materialize.drain()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val build = Materialize.drain().map(_.exchanges).sum
      name -> (build, "Exchange".r.findAllIn(df.queryExecution.executedPlan.toString).size)
    }.toMap
  }

  private def check(pins: Map[String, Int], what: String)(
      measure: ((Int, Int)) => Int): Unit = {
    val got = pins.toSeq.sortBy(_._1).map { case (n, b) => (n, measure(counts(n)), b) }
    val over = got.collect { case (n, e, b) if e > b => s"$n: $e $what > budget $b" }
    assert(over.isEmpty,
      s"""$what budgets exceeded: ${over.mkString("; ")}
         |all counts: ${got.map { case (n, e, _) => s"$n=$e" }.mkString(", ")}""".stripMargin)
  }

  test("dedup, kNN, ntile and percentile builds run no more exchanges than recorded") {
    check(budget, "build-phase exchanges")(_._1)
  }

  test("oracle-flag queries run no more build plus returned-plan exchanges than recorded") {
    check(flagTotal, "build + returned-plan exchanges") { case (b, p) => b + p }
  }
}
