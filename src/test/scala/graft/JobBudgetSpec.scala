package graft

/** Driver-blocking JOB budget pin (VERDICT r9 item 6): ShuffleBudgetSpec
  * pins Exchange counts, but the sf0.001 fixed-cost floor is made of JOB
  * round-trips — censuses, probe aggregates, checkpoint materializations,
  * AQE stage jobs — which no plan-shape audit sees. This spec records,
  * for the census/probe-bearing queries (the floor payers the r10 cut
  * targeted), the total jobs launched from query build through a noop
  * write, and fails on growth: an edit that silently re-adds an eager
  * checkpoint or splits a fused census pays a job this pin catches, the
  * way ShuffleBudgetSpec catches a silently-added shuffle.
  *
  * Budgets are ceilings measured in THIS spec's session (local[4],
  * shuffle=4, sf0.001 — job counts include per-shuffle AQE stage jobs,
  * so they are config-sensitive; re-record deliberately when a query's
  * pass structure changes). The counts are read from each query's
  * [[BuiltQueries]] record: its build phase plus the noop write of the
  * frame it returned, both traced.
  */
class JobBudgetSpec extends SparkSpec {
  import JobBudgetSpec.budget

  /** Ceilings include AQE stage jobs, which a Spark patch upgrade can add
    * with no repo edit; the slack absorbs that, while a real regression (an
    * eager checkpoint or an unfused census, ≥3 jobs in the measured
    * history) still trips the pin. Re-record the table, not the slack.
    */
  private val slack = 2

  test("census/probe-bearing queries launch no more jobs than recorded") {
    BuiltQueries.assertPins(budget, "jobs", slack)(_.jobs)
  }
}

object JobBudgetSpec {

  // build jobs plus the noop write's; CHANGES.md records each re-record
  val budget: Map[String, Int] = Map(
    // one bounded job stores the CC pairs and hands them to the driver,
    // and the one-partition labels sort with no exchange (16 -> 13,
    // 21 -> 18, 16 -> 14, 17 -> 15)
    "q_dedup_clusters" -> 13,
    "q_dedup_clusters_exact_first" -> 18,
    "q_dedup_minhash" -> 12,
    "q_dedup_pipeline" -> 14,
    "q_dedup_pipeline_exact_first" -> 15,
    "q_dedup_simhash" -> 8,
    "q_event_resample" -> 3,
    "q_knn_ivf" -> 12,
    "q_knn_lsh" -> 12,
    "q_knn_lsh_dedup" -> 17,
    "q_ntile" -> 7,
    "q_ntile_approx" -> 17,
    "q_percentile" -> 15,
    "q_percentile_approx" -> 15,
    "q_sample_mixture" -> 6,
    "q_text_tfidf" -> 9)
}
