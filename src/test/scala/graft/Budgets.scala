package graft

/** The one pin table for every registry query, read from its
  * [[BuiltQueries]] record. Each entry holds four ceilings:
  *
  *  - `plan`: Exchange nodes in the returned plan's string (partition-count
  *    independent). A lost partitioning reuse, an accidental repartition or
  *    a broadcast that degraded to a shuffle raises it.
  *  - `buildX`: exchanges of the plans the build ran through
  *    [[Materialize]] (pair frames, gram arrays, group tables, bisection
  *    rounds, oracle flags), which the returned plan does not show.
  *  - `buildJobs` and `execJobs`: jobs launched while the query is built
  *    and by the noop write of the frame it returned. Job round-trips, not
  *    data, make most of the small-SF suite's time, so an eager checkpoint
  *    or an unfused census fails here.
  *
  * A flag measured while the query is built moves exchanges from the
  * returned plan into the build; both ceilings together bound the sum.
  *
  * Pins are the counts measured in the specs' session (local[4], sf0.001)
  * and are ceilings. Exchanges count query stages under AQE and jobs
  * include AQE stage jobs, so both are config-sensitive. A failure prints
  * the whole measured table in the table's own syntax: re-record by
  * pasting it, and say why in CHANGES.md. Entries measured below their pin
  * are listed, so a change that cuts jobs sees which pins to lower.
  *
  * Three specs below check the table, a column group each. Their test
  * names date from when each spec kept its own map over a subset of the
  * queries; every one now checks all registry queries.
  */
object Budgets {

  final case class Pin(plan: Int, buildX: Int, buildJobs: Int, execJobs: Int) {
    def counts: Seq[Int] = Seq(plan, buildX, buildJobs, execJobs)
    def text: String = counts.mkString("Pin(", ", ", ")")
  }

  val columns =
    Seq("returned-plan exchanges", "build exchanges", "build jobs", "exec jobs")

  private def measure(q: BuiltQueries.Record) = Pin("Exchange".r.findAllIn(q.plan).size,
    q.build.calls.map(_.exchanges).sum, q.build.jobs.size, q.exec.jobs.size)

  /** One entry as the table below writes it (the table is sorted by name). */
  private def line(name: String, m: Pin) =
    "    " + ("\"" + name + "\"").padTo(30, ' ') + s" -> ${m.text},"

  /** For the columns `cols` (indices into [[columns]]): each query over a
    * pin or missing from the table, each entry that names no registry
    * query, and each query measured below a pin.
    */
  final case class Check(failures: Seq[String], lower: Seq[String], measured: String)

  def check(cols: Seq[Int]): Check = {
    val got = BuiltQueries.all.map(q => q.name -> measure(q))
    val names = got.map(_._1).toSet
    def at(p: Pin) = cols.map(p.counts)
    val failures = got.collect { case (n, _) if !pins.contains(n) => s"$n: no entry" } ++
      pins.keys.toSeq.sorted.filterNot(names).map(n => s"$n: names no registry query") ++
      got.flatMap { case (n, m) => pins.get(n).toSeq.flatMap { p =>
        cols.map(columns).lazyZip(at(m)).lazyZip(at(p)).collect {
          case (c, v, b) if v > b => s"$n: $v $c > pin $b"
        }
      }}
    val lower = got.collect {
      case (n, m) if pins.get(n).exists(p => at(p).lazyZip(at(m)).exists(_ > _)) =>
        s"$n: measured ${m.text}, pinned ${pins(n).text}"
    }
    Check(failures, lower,
      got.sortBy(_._1).map { case (n, m) => line(n, m) }.mkString("\n"))
  }

  // Pin(plan, buildX, buildJobs, execJobs). Most plan pins count one hash
  // exchange per kernel-heavy small-scan consumer: Tables.spreadSmall's
  // repartition, which spreads a single-row-group scan over the cores at
  // bench SFs and vanishes at scale. Comments give a plan's shape where it
  // is not obvious; CHANGES.md and BASELINE.md record each re-record's
  // cause.
  private val pins: Map[String, Pin] = Map(
    "coalesce_default"             -> Pin(1, 0, 0, 3),
    "coord_truncate"               -> Pin(2, 0, 0, 4),
    "filter_geometry"              -> Pin(1, 0, 0, 3),
    // folder-literal re-record: the folder dimension is measured while the
    // query is built and read from a map literal, so no broadcast
    // exchange is left; the output sort remains (was 2)
    "flagship"                     -> Pin(1, 0, 1, 3),
    "folder_dim"                   -> Pin(1, 0, 0, 3),
    // the same folder literal: no join exchange is left (was 2)
    "folder_join"                  -> Pin(1, 0, 1, 3),
    "point_enrich"                 -> Pin(1, 0, 0, 3),
    "project_nest"                 -> Pin(1, 0, 0, 3),
    // r7 re-record 2 -> 3: oracle-pairing added the exact COUNT(DISTINCT)
    // beside the HLL (the within_5pct contract needs both); a distinct
    // aggregate is inherently two-phase (+1 Exchange on the distinct key)
    "q_agg_approx_distinct"        -> Pin(3, 0, 0, 5),
    "q_agg_distinct"               -> Pin(3, 0, 0, 5),
    "q_agg_hash"                   -> Pin(3, 0, 0, 5),
    "q_agg_strings"                -> Pin(3, 0, 0, 5),
    "q_array_funcs"                -> Pin(1, 0, 0, 3),
    // r15: spread reverted (the sf0.1 suite ran it at 0.78×), -1 Exchange
    "q_cube"                       -> Pin(2, 0, 0, 4),
    "q_date_funcs"                 -> Pin(2, 0, 0, 4),
    // the declared CC labels over the truth edges are one partition, so
    // the output sort needs no exchange; the CC rounds and the agreement
    // flag run while the query is built (literal-flag re-record 5 -> 1,
    // one-partition labels 1 -> 0)
    "q_dedup_clusters"             -> Pin(0, 7, 12, 1),
    // the same declared rows; the exact-first composition the flag
    // measures runs while the query is built (literal-flag re-record 5 -> 1,
    // one-partition labels 1 -> 0)
    "q_dedup_clusters_exact_first" -> Pin(0, 10, 17, 1),
    "q_dedup_embedding"            -> Pin(2, 0, 0, 4),
    "q_dedup_exact"                -> Pin(2, 0, 0, 4),
    // the oracle-paired form's returned plan reads the stored
    // truth⋈candidates mark frame (operator and truth internals run while
    // the query is built — both audited via the raw operator pins in
    // PlanSpec/DedupSpec) under the output sort; the flag is a literal
    "q_dedup_minhash"              -> Pin(1, 7, 9, 3),
    // r10 re-record 2 -> 7: the exploded-window + array_intersect form
    // became the inverted-index set-similarity join (shared machinery
    // with the minhash/simhash truth frames) — more exchanges, each
    // moving (id, gram-hash) or pair-count rows instead of full gram-set
    // arrays; measured FASTER at sf0.1 (1.27 -> 1.08 s) and 3.2x cheaper
    // at the truth frames' window 200. r15: spread reverted (the sf0.1
    // suite ran it at 0.72×); the window self-join read the spread
    // exchange on both sides, so -2 plan nodes
    "q_dedup_ngram_jaccard"        -> Pin(3, 0, 1, 3),
    // reads the stored documents; the two-arm flag is a literal
    "q_dedup_pipeline"             -> Pin(0, 9, 13, 1),
    // exact-first: text-groupBy collapse + degenerate-branch scan + the
    // keep semi-join's BroadcastExchange (r7 re-record 5 -> 3: the
    // census-gated broadcast of keepIds replaced the corpus-wide
    // shuffle-by-id semi join; CC internals hide behind checkpoints);
    // since the r10 oracle pairing it reads stored rows, as
    // q_dedup_pipeline does
    "q_dedup_pipeline_exact_first" -> Pin(0, 9, 14, 1),
    // r10 oracle pairing — see q_dedup_minhash
    "q_dedup_simhash"              -> Pin(0, 5, 7, 1),
    "q_dedup_wordset"              -> Pin(2, 0, 0, 4),
    "q_event_funnel"               -> Pin(4, 1, 4, 3),
    "q_event_histogram"            -> Pin(2, 0, 0, 4),
    "q_event_resample"             -> Pin(1, 1, 1, 2),
    "q_event_retention"            -> Pin(3, 0, 0, 5),
    "q_except"                     -> Pin(3, 0, 0, 5),
    "q_except_all"                 -> Pin(2, 0, 0, 4),
    "q_filter_project"             -> Pin(1, 0, 0, 3),
    "q_hof_funcs"                  -> Pin(1, 0, 0, 3),
    "q_intersect"                  -> Pin(3, 0, 0, 5),
    "q_intersect_all"              -> Pin(2, 0, 0, 4),
    "q_join_anti"                  -> Pin(2, 0, 0, 4),
    "q_join_asof"                  -> Pin(3, 0, 0, 5),
    "q_join_broadcast"             -> Pin(3, 0, 0, 5),
    // the bucketed sibling: the join itself is exchange-FREE (BucketingSpec
    // pins zero on the bare join); only the post-join groupBy and the
    // output sort remain
    "q_join_bucketed"              -> Pin(2, 0, 2, 4),
    "q_join_nullsafe"              -> Pin(3, 0, 0, 5),
    "q_join_outer"                 -> Pin(3, 0, 0, 5),
    "q_join_range"                 -> Pin(3, 0, 0, 5),
    "q_join_range_auto"            -> Pin(3, 0, 0, 5),
    "q_join_semi"                  -> Pin(2, 0, 0, 4),
    "q_join_shuffle"               -> Pin(4, 0, 0, 6),
    "q_json_funcs"                 -> Pin(2, 0, 0, 4),
    "q_knn_cosine"                 -> Pin(1, 0, 0, 2),
    // the registered kNN queries declare the exact sampled-probe top-k
    // plus a recall flag measured while the query is built (the exact
    // batch, the index and their join run in that materialization), so
    // the returned plan only reads the stored rows (literal-flag
    // re-record 11 -> 0 for all three)
    "q_knn_ivf"                    -> Pin(0, 10, 11, 1),
    "q_knn_lsh"                    -> Pin(0, 10, 11, 1),
    "q_knn_lsh_dedup"              -> Pin(0, 13, 16, 1),
    "q_map_funcs"                  -> Pin(2, 0, 0, 4),
    "q_math_funcs"                 -> Pin(1, 0, 0, 3),
    "q_merge_upsert"               -> Pin(2, 0, 0, 4),
    "q_multimodal_audio"           -> Pin(1, 0, 0, 3),
    "q_multimodal_binary"          -> Pin(1, 0, 0, 3),
    "q_multimodal_decode"          -> Pin(2, 0, 0, 4),
    "q_multimodal_frames"          -> Pin(1, 0, 0, 3),
    "q_multimodal_join"            -> Pin(2, 0, 0, 4),
    // r7: Ntile.exact routes by measured group size. At this spec's scale
    // every group is under windowCap, so the visible plan is the WINDOW
    // route: window partition shuffle + final agg shuffle + output sort =
    // 3 (the census aggregate ran eagerly at build). The oversized route's
    // boundary-broadcast shape is budget-audited via NtileSpec's
    // windowCap=0 pins, not here
    "q_ntile"                      -> Pin(3, 1, 2, 5),
    // boundaries via Percentiles.exact (discreteRank): slice agg + rank-pivot
    // agg + broadcasts of the tiny bounds/state frames + final bin agg +
    // output sort; the operator's sketch/probe passes hide behind its
    // internal checkpoints (data-scale shuffles audited in PercentileSpec
    // shapes, not here); no per-group window anywhere
    "q_ntile_approx"               -> Pin(8, 4, 6, 11),
    "q_pack_sequences"             -> Pin(2, 0, 0, 4),
    // Percentiles.exact final plan: slice agg on the data (the one
    // data-scale shuffle) + two broadcasts + state⋈slices SMJ + pivot agg
    // + output sort; state/slices frames are group-count-sized, not
    // data-sized; the sketch and probe passes run at build (stored).
    // Execute jobs: four read rows (the stored state's shuffle map stage,
    // the state and sketch broadcasts, the slice agg's partial over the
    // 6,000 scanned lineitem rows); five read only shuffle output, so
    // they count 0 input records: the slice agg's final with its
    // broadcast (AQE turns the SMJ into a broadcast join), the pivot agg's
    // map stage, the output sort's range-bounds sample job, its range
    // shuffle's map stage, and the result stage the noop write runs
    "q_percentile"                 -> Pin(6, 4, 6, 9),
    // the same returned plan as q_percentile: the within_accuracy flag is
    // a literal Percentiles.exact measures while the query is built (its
    // sketch check rides the sketch, probe and state passes), so no flag
    // aggregate or join is left here (was 7), and the nine execute jobs
    // are q_percentile's
    "q_percentile_approx"          -> Pin(6, 4, 6, 9),
    "q_pipeline_decontaminate"     -> Pin(3, 1, 1, 5),
    "q_pipeline_training_prep"     -> Pin(3, 0, 0, 5),
    // r15: spread reverted (the sf0.1 suite ran it at 0.62×), -1 Exchange
    "q_pivot"                      -> Pin(3, 0, 0, 5),
    "q_rollup"                     -> Pin(6, 0, 0, 8),
    "q_sample_hash"                -> Pin(1, 0, 0, 3),
    "q_sample_mixture"             -> Pin(3, 1, 1, 5),
    "q_sample_stratified"          -> Pin(2, 0, 0, 4),
    "q_skew_agg"                   -> Pin(3, 0, 0, 5),
    "q_sql_exists"                 -> Pin(2, 0, 0, 4),
    "q_sql_grouping_sets"          -> Pin(2, 0, 0, 4),
    "q_sql_tpch_q1"                -> Pin(3, 0, 0, 5),
    "q_sql_tpch_q18"               -> Pin(8, 0, 0, 7),
    "q_sql_tpch_q3"                -> Pin(4, 0, 0, 5),
    "q_sql_tpch_q5"                -> Pin(8, 0, 0, 8),
    "q_sql_tpch_q6"                -> Pin(2, 0, 0, 3),
    "q_stats_corr"                 -> Pin(3, 0, 0, 5),
    "q_stream_dedup"               -> Pin(2, 0, 0, 4),
    "q_stream_join"                -> Pin(2, 0, 0, 4),
    "q_stream_session"             -> Pin(2, 0, 0, 4),
    "q_stream_sliding"             -> Pin(2, 0, 0, 4),
    "q_stream_tumbling"            -> Pin(2, 0, 0, 4),
    "q_string_funcs"               -> Pin(1, 0, 0, 3),
    "q_text_chunk"                 -> Pin(1, 0, 0, 3),
    "q_text_contamination"         -> Pin(1, 1, 1, 2),
    "q_text_fingerprint"           -> Pin(1, 0, 0, 3),
    "q_text_langid"                -> Pin(1, 0, 0, 3),
    "q_text_quality"               -> Pin(1, 0, 0, 3),
    // r15: spread reverted (the sf0.1 suite ran it at 0.50×); both
    // explode consumers read it, so -2 plan nodes
    "q_text_repetition"            -> Pin(3, 0, 0, 5),
    "q_text_stats"                 -> Pin(2, 0, 0, 4),
    // 8 = tf shuffle ×2 (the df-count branch re-derives tf — column
    // pruning specializes the subplans past ReuseExchange; the second
    // tokenize pass measured CHEAPER at sf10/sf100 than the window
    // form's full-corpus sort-by-word it replaced, 11.7→5.5 s / 240→153 s)
    // + df word shuffle + its broadcast + the single-row N broadcast +
    // N's scalar agg + doc_id window shuffle + final orderBy range
    "q_text_tfidf"                 -> Pin(8, 0, 0, 9),
    "q_text_tokens"                -> Pin(1, 0, 0, 2),
    "q_text_tokens_bpe"            -> Pin(1, 0, 0, 3),
    // word-count shuffle + scalar-total single partition + its broadcast;
    // top-50 is TakeOrderedAndProject (no sort exchange), and the window
    // runs on the already-single-partition 50-row join output
    "q_text_vocab"                 -> Pin(3, 0, 0, 4),
    "q_topk"                       -> Pin(0, 0, 0, 1),
    "q_udaf_weighted_avg"          -> Pin(3, 0, 0, 5),
    "q_udf_geo_truncate"           -> Pin(2, 0, 0, 4),
    "q_udtf_flatmap"               -> Pin(1, 0, 0, 3),
    "q_union"                      -> Pin(1, 0, 0, 3),
    "q_unpivot"                    -> Pin(4, 0, 0, 6),
    "q_validate"                   -> Pin(1, 0, 0, 2),
    "q_vector_norm"                -> Pin(1, 0, 0, 3),
    "q_window_frame"               -> Pin(2, 0, 0, 4),
    "q_window_rank"                -> Pin(2, 0, 0, 4),
    "q_window_udaf"                -> Pin(2, 0, 0, 4),
    "q_zorder_key"                 -> Pin(1, 0, 0, 3),
    "scan_source"                  -> Pin(1, 0, 0, 3),
    "style_casts"                  -> Pin(1, 0, 0, 3),
    "typed_decode"                 -> Pin(2, 0, 0, 4),
  )
}

/** A spec over some columns of [[Budgets]]' pin table. */
trait BudgetColumns extends SparkSpec {

  /** Fails naming each query over its pin in `cols`, and prints the whole
    * measured table.
    */
  protected def assertPins(cols: Int*): Unit = {
    val c = Budgets.check(cols)
    if (c.lower.nonEmpty) info(s"below their pins (re-record downward):\n${c.lower.mkString("\n")}")
    if (c.failures.nonEmpty) fail(
      s"""${c.failures.mkString("\n")}
         |measured:
         |${c.measured}""".stripMargin)
  }
}

class ShuffleBudgetSpec extends BudgetColumns {
  test("no registry query plans more Exchanges than its recorded budget") {
    assertPins(0)
  }
}

class BuildExchangeBudgetSpec extends BudgetColumns {
  test("dedup, kNN, ntile and percentile builds run no more exchanges than recorded") {
    assertPins(1)
  }
}

/** Build and exec jobs have separate ceilings with no slack. */
class JobBudgetSpec extends BudgetColumns {
  test("census/probe-bearing queries launch no more jobs than recorded") {
    assertPins(2, 3)
  }
}
