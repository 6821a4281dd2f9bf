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
  * pass structure changes). Table metadata is pre-warmed so the memoized
  * first-load job (Tables.load cache, r10) never lands on whichever
  * pinned query happens to run first.
  */
class JobBudgetSpec extends SparkSpec {

  // r14 re-record: Tables.spreadSmall adds one round-robin exchange (and
  // its AQE stage jobs) per kernel-heavy small-scan consumer at this
  // spec's toy SF — it buys cores-wide kernel parallelism at bench SFs
  // and vanishes at scale; the dedup-family counts DROPPED (the clusters
  // route census now counts the undirected pair frame, skipping the
  // exploded/distinct/dst-repartition edge build on the driver route).
  // Row-local signature kernels: each MinHash/SimHash signature pass lost
  // its doc-sized shuffle and that shuffle's AQE stage job, so every
  // dedup query with a candidate pipeline is re-recorded one lower, and
  // the three signature-heavy queries are pinned at their new counts.
  // Materialize re-record: each checkpoint + count()/agg() census pair
  // became one materialization job (the census folded into it), the CC,
  // Ntile and Percentiles loops fold their convergence test into each
  // round's job, the recall and pipeline flags are literals from folds,
  // and measured statistics plus the final plan's partitioning let the
  // planner drop exchanges over stored frames. Every pin below fell.
  // Literal-flag re-record: every oracle flag is measured by a
  // materialization while the query is built. The cluster-agreement flag
  // lost its one-row aggregate and cross join (one job each query); the
  // kNN recall flags gained the materialization's result job, and the
  // returned plan's scan of the stored rows is its own job.
  // Percentiles-owned flag: q_percentile_approx's within_accuracy is a
  // literal folded into the machinery's opening state job, so its
  // returned plan lost the flag aggregate and join (one job).
  private val budget: Map[String, Int] = Map(
    "q_dedup_clusters" -> 16,   // was 17
    "q_dedup_clusters_exact_first" -> 21, // was 22
    "q_dedup_minhash" -> 12,    // was 13
    "q_dedup_pipeline" -> 16,   // was 24
    "q_dedup_pipeline_exact_first" -> 17, // was 28
    "q_dedup_simhash" -> 8,     // was 12
    "q_event_resample" -> 3,    // was 4
    "q_knn_ivf" -> 12,          // was 11 (literal flag)
    "q_knn_lsh" -> 12,
    "q_knn_lsh_dedup" -> 17,    // was 15 (literal flag)
    "q_ntile" -> 7,             // was 8
    "q_ntile_approx" -> 17,     // was 19
    "q_percentile" -> 15,       // was 17
    "q_percentile_approx" -> 15, // was 16 (literal flag)
    "q_sample_mixture" -> 6,    // was 7
    "q_text_tfidf" -> 9)

  /** Ceilings include AQE stage jobs, so they are Spark-version- and
    * AQE-heuristic-sensitive (ADVICE r10): a patch upgrade can legally add
    * a stage job with no repo edit. The slack absorbs that noise while a
    * REAL regression — an eager checkpoint or an unfused census, always
    * ≥3 jobs in the measured history — still trips the pin. On a
    * deliberate pass-structure change, re-record the table, not the slack.
    */
  private val slack = 2

  test("census/probe-bearing queries launch no more jobs than recorded") {
    graft.sources.Tables.warm(spark, sfDir)
    val counter = new JobCountProbe.JobCounter
    spark.sparkContext.addSparkListener(counter)
    try {
      def drained(): Long = {
        org.apache.spark.GraftListenerBridge
          .waitUntilListenerBusEmpty(spark.sparkContext)
        counter.snapshot
      }
      val counts = budget.toSeq.sortBy(_._1).map { case (name, b) =>
        val j0 = drained()
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        (name, (drained() - j0).toInt, b)
      }
      val over = counts.collect { case (n, j, b) if j > b + slack =>
        s"$n: $j jobs > budget $b + slack $slack" }
      assert(over.isEmpty,
        s"""job budgets exceeded: ${over.mkString("; ")}
           |all counts: ${counts.map { case (n, j, _) => s"$n=$j" }.mkString(", ")}""".stripMargin)
    } finally spark.sparkContext.removeSparkListener(counter)
  }
}
