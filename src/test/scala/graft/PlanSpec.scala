package graft

import graft.queries.Registry

/** Physical-plan shape assertions (SURVEY.md §7.3 M5): the 100 TB posture
  * is that the right plan, not just the right rows, is the contract —
  * broadcasts where intended, pushdown reaching the scan, no nested-loop
  * joins on the scale paths, top-k without a global sort.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String = BuiltQueries(name).plan

  test("folder_join joins nothing; q_join_broadcast uses a broadcast hash join") {
    // the folder dimension is measured while folder_join is built, and
    // at 5 folders it is a map literal: the returned plan joins nothing
    assert(!plan("folder_join").contains("Join"))
    assert(plan("q_join_broadcast").contains("BroadcastHashJoin"))
  }

  test("q_join_shuffle is a sort-merge join") {
    assert(plan("q_join_shuffle").contains("SortMergeJoin"))
  }

  test("filters are pushed down to the parquet scan") {
    val p = plan("q_filter_project")
    assert(p.contains("PushedFilters: ["))
    assert(p.contains("GreaterThan(l_discount") || p.contains("LessThan(l_quantity"))
  }

  test("column pruning: projection-only query reads only needed columns") {
    val p = plan("q_filter_project")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_shipdate"))
    assert(!readSchema.contains("l_tax"))
    assert(readSchema.contains("l_quantity"))
  }

  test("binned range join and neighbor-window jaccard avoid nested-loop joins") {
    Seq("q_join_range", "q_join_range_auto", "q_dedup_ngram_jaccard")
      .foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$q has a nested-loop join")
    }
    // the registered q_dedup_minhash runs its candidates while it is
    // built (its recall flag is measured then), so (like q_knn_lsh below)
    // the no-BNLJ pin is on the raw operator: its band-bucket pair
    // generation must stay an equi-join, never all-pairs
    val mhPlan = graft.operators.Dedup
      .minhashPairs(graft.sources.Tables.documents(spark, sfDir)
        .select(org.apache.spark.sql.functions.col("doc_id").as("id"),
          org.apache.spark.sql.functions.col("text")), threshold = 0.5)
      .queryExecution.executedPlan.toString
    assert(!mhPlan.contains("CartesianProduct"),
      "minhashPairs operator has a cartesian product")
    assert(!mhPlan.contains("BroadcastNestedLoopJoin"),
      "minhashPairs operator has a nested-loop join")
    // the registered q_knn_lsh likewise runs its index while it is built,
    // so the no-BNLJ pin is on the raw LSH operator itself: its bucket
    // join must stay an equi-join, never all-pairs
    val lshPlan = graft.operators.Vectors
      .knnLsh(graft.sources.Tables.embeddings(spark, sfDir), k = 5)
      .queryExecution.executedPlan.toString
    assert(!lshPlan.contains("CartesianProduct"),
      "knnLsh operator has a cartesian product")
    assert(!lshPlan.contains("BroadcastNestedLoopJoin"),
      "knnLsh operator has a nested-loop join")
  }

  test("semi/anti joins plan as LeftSemi/LeftAnti (no materialized right side)") {
    assert(plan("q_join_semi").contains("LeftSemi"))
    assert(plan("q_join_anti").contains("LeftAnti"))
  }

  test("range-join probe filter is pushed into the events scan") {
    val p = plan("q_join_range")
    assert(p.contains("EqualTo(event_type,error)"))
  }

  test("rollup broadcasts all three dimension joins") {
    assert("BroadcastHashJoin".r.findAllIn(plan("q_rollup")).size == 3)
  }

  test("windowed aggregation shuffles once for the aggregate (plus output sort only)") {
    assert("Exchange".r.findAllIn(plan("q_stream_tumbling")).size <= 2)
  }

  test("top-k compiles to TakeOrderedAndProject (no global sort)") {
    assert(plan("q_topk").contains("TakeOrderedAndProject"))
  }

  test("SQL-text TPC-H Q3 broadcast-joins the filtered dim and avoids a global sort for its top-10") {
    val p = plan("q_sql_tpch_q3")
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("SQL-text TPC-H Q6 pushes its filters to the lineitem scan") {
    val p = plan("q_sql_tpch_q6")
    assert(p.contains("PushedFilters: ["))
    assert(p.contains("l_discount") && p.contains("l_quantity"))
  }

  test("stratified sampling pushes the per-group quota into a WindowGroupLimit") {
    // rn <= k over a per-lang window must prune to k rows per group
    // BEFORE the shuffle (partial group-limit), not rank-then-filter
    assert("WindowGroupLimit".r.findAllIn(
      plan("q_sample_stratified")).size >= 1)
  }

  test("aggregations are two-phase (partial + final hash aggregate)") {
    val p = plan("q_agg_hash")
    assert("HashAggregate".r.findAllIn(p).size >= 2)
  }

  test("whole-stage codegen covers the flagship pipeline (final AQE plan)") {
    val df = Registry.all.find(_.name == "flagship").get.build(spark, sfDir)
    df.collect() // AQE finalizes (and codegens) the plan only on execution
    // codegen spans print as "*(n) Operator" in the simple plan string
    assert("""\*\(\d+\)""".r.findFirstIn(
      df.queryExecution.executedPlan.toString).isDefined)
  }

  test("q_text_vocab takes its top-50 with per-partition heaps") {
    // the vocab cutoff must be TakeOrderedAndProject (no global sort of
    // the 10^8-token vocabulary)
    val p = plan("q_text_vocab")
    assert(p.contains("TakeOrderedAndProject"), p.linesIterator.take(8).mkString("\n"))
  }

  test("no registry query runs a partition-less window") {
    // every Window must carry a partition spec — Spark's "No Partition
    // Defined ... single partition" path funnels its input through one
    // task and is banned from the declared surface. Check the OPTIMIZED
    // LOGICAL plan: that is where foldable partition keys get stripped (a
    // lit(0) key silently degrades to the partition-less form), and the
    // physical tree hides inside the AQE wrapper where collect() does not
    // descend
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val partitionless = BuiltQueries.all.flatMap { q =>
      q.df.queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => q.name
      }
    }
    assert(partitionless.isEmpty,
      s"partition-less Window in: ${partitionless.distinct.mkString(", ")}")
  }

  test("every oracle flag column is a measured literal") {
    // each approximate operator's recall or agreement flag is measured
    // while the query is built and declared as a Boolean literal, so no
    // flag aggregate, window or cross join runs in the returned plan
    import org.apache.spark.sql.catalyst.expressions.{Alias, Literal}
    import org.apache.spark.sql.types.BooleanType
    val flags = Seq(
      "q_knn_lsh" -> "lsh_recall_ok",
      "q_knn_lsh_dedup" -> "lsh_dedup_recall_ok",
      "q_knn_ivf" -> "ivf_recall_ok",
      "q_dedup_minhash" -> "minhash_recall_ok",
      "q_dedup_simhash" -> "simhash_recall_ok",
      "q_dedup_clusters" -> "minhash_cluster_ok",
      "q_dedup_clusters_exact_first" -> "exact_first_cluster_ok",
      "q_dedup_pipeline" -> "pipeline_agree_ok",
      "q_dedup_pipeline_exact_first" -> "pipeline_exact_first_ok",
      "q_percentile_approx" -> "within_accuracy")
    val notLiteral = flags.flatMap { case (name, flag) =>
      val analyzed = BuiltQueries(name).df.queryExecution.analyzed
      val out = analyzed.output.find(_.name == flag)
      assert(out.isDefined, s"$name declares no $flag column")
      // the expressions that define the flag column, wherever they are
      val defs = analyzed.flatMap(_.expressions.collect {
        case a: Alias if a.exprId == out.get.exprId => a.child
      })
      defs match {
        case Seq(Literal(_: Boolean, BooleanType)) => None
        case other => Some(s"$name.$flag = ${other.mkString(", ")}")
      }
    }
    assert(notLiteral.isEmpty, s"flags not declared as literals: ${notLiteral.mkString("; ")}")
  }

  test("correlated NOT EXISTS decorrelates to a left-anti join") {
    val p = plan("q_sql_exists")
    assert(p.contains("LeftAnti"), p.linesIterator.take(5).mkString("\n"))
    // the totalprice predicate pushes into the subquery's scan
    assert(p.contains("GreaterThan(o_totalprice"))
  }

  test("null-safe join key plans as a hash join, not a nested loop") {
    val p = plan("q_join_nullsafe")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p.linesIterator.take(5).mkString("\n"))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("stream-join batch form keeps the interval as a residual on an equi-join") {
    val p = plan("q_stream_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }
}
