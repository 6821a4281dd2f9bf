package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Materialize

/** Distributed EXACT per-group percentiles with bounded executor memory at
  * any group size — the hardened form of the sketch-bracket technique used
  * by `q_percentile` since round 3 (reference behavior target: the
  * reference engine's quantile aggregates; see SURVEY.md §2 B3).
  *
  * The round-3 shape bracketed each target rank with a percentile_approx
  * sketch and collected the ~2·δ·n bracket slice into one aggregation
  * buffer. Two cliffs remained (VERDICT r3 item 5, ADVICE r3):
  *
  *  - δ·n < 1 for small groups — the bracket is narrower than one element
  *    and the sketch endpoints can exclude the target rank (loud NULL);
  *  - 2·δ·n grows LINEARLY with the group — at 10^11 rows/group the slice
  *    is 4·10^8 doubles in a single buffer (OOM). Tightening δ one-shot is
  *    impossible: percentile_approx takes only literal percentages, so the
  *    sketch cannot be re-anchored to a per-group adjusted rank.
  *
  * This operator removes both cliffs with VALUE-DOMAIN BISECTION, the
  * distributed selection algorithm the literal-percentage limitation
  * forces (classic iterative median-finding, the same driver-synced loop
  * discipline as [[Dedup.clusters]]):
  *
  *  1. sketch pass — per group: n, and a [lo, hi] value bracket per target
  *     (percentile_approx at p±δ; groups under `smallFloor` bracket
  *     [min, max] instead, bounding their slice by the floor). The sketch
  *     only ever NARROWS the search — exact ranks are recomputed in pass
  *     2 — so its accuracy buys bracket width, not correctness; the
  *     default 2000 keeps the rank error n/2000 strictly inside the δ·n
  *     bracket at ~3× less sketch-update cost than the r6 default of
  *     10000 (measured 5.2 → 1.8 s over 10 M rows at sf10; the sketch
  *     pass was the single most expensive stage of every percentile
  *     query);
  *  2. probe pass — per (group, target): EXACT count below lo and inside
  *     [lo, hi], computed as ONE 1:1 broadcast join + 2T conditional
  *     aggregates over the wide bracket row (the long alternative —
  *     join the T exploded target rows, then groupBy (g, t) — amplifies
  *     the scan ×T before aggregating: measured 3.3 vs 2.1 s at T=9,
  *     10 M rows). These exact ranks replace the sketch guess entirely:
  *     from here the sketch only ever narrowed the search space;
  *  3. while any (group, target) bracket holds more than `sliceCap`
  *     values: one pass over the materialized in-bracket subset counts
  *     each bracket's two halves around its value midpoint and keeps the
  *     half containing the target ranks (k and k+1 for continuous
  *     interpolation). A straddle (k left of mid, k+1 right) resolves
  *     immediately to max(left half), min(right half). Ties cannot stall:
  *     when the interval collapses (lo == hi, or adjacent doubles where
  *     mid folds onto lo) the branch logic switches to an exact ==lo
  *     split, and every round strictly shrinks either the bracket count
  *     or the value interval. Rounds are O(log(δ·n / cap)) for spread
  *     data and O(64) worst-case for adversarial doubles (`maxRounds`
  *     guards with a loud failure, never a wrong value);
  *  4. final pass — surviving brackets (≤ cap values each) are collected
  *     sorted, and the interpolation indexes into them by exact rank; the
  *     symmetric form lo·(k+1−r) + hi·(r−k) matches DuckDB/Spark
  *     percentile bitwise (memory: graft-determinism-rules).
  *
  * EXECUTION CONTRACT: like [[Dedup.clusters]], calling this runs the
  * sketch/probe/bisection jobs EAGERLY (the driver loop must execute to
  * know the answer) — the returned DataFrame is the small per-group
  * result, already materialized behind checkpoints. Plan-only consumers
  * (.explain, plan audits) therefore pay the computation; the budget
  * specs pin the visible post-operator plan and the build's exchanges and
  * jobs apart.
  *
  * Scale notes: passes 1–2 scan the full data (two-phase aggs, one
  * shuffle each on the group key). The bisection loop scans only the
  * checkpointed in-bracket SUBSET (Σ cnt per target ≈ T·2δn rows — at
  * 10^11-row groups, ~10^8 rows vs the 10^11-row parent), so refinement
  * cost shrinks geometrically. Driver-side control flow sees only
  * counts and booleans folded into each round's materialization job
  * ([[graft.Materialize]]) — never data rows. NULL values are excluded up front
  * (both engines' percentile semantics ignore them). A NULL GROUP KEY is
  * a real group (as in SQL GROUP BY): the machinery carries the key in a
  * one-field struct so the internal equi-joins match null keys, and the
  * group surfaces in the output like any other.
  */
object Percentiles {

  /** Sketch bracket half-width in rank share: each target brackets at
    * p ± delta.
    */
  private[graft] val delta = 0.002

  /** percentile_approx accuracy: the sketch's rank error is at most
    * n/accuracy. 1/accuracy must stay below [[delta]] or the p ± δ
    * bracket endpoints cannot be trusted to enclose the target rank (the
    * enclosure `require` would fire); 2000 leaves a
    * (δ − 1/accuracy)·n = 0.0015·n rank margin.
    */
  private[graft] val accuracy = 2000

  /** Bisection rounds before a loop fails loudly (it converges in at
    * most 64 on doubles or longs).
    */
  private[graft] val maxRounds = 256

  /** The discrete rank rule: the element at 1-based rank ceil(p·n)
    * (quantile_disc, equi-depth bin boundaries).
    */
  val discreteRank: (Column, Column) => Column = (p, n) => ceil(p * n)

  /** TRUE iff a value's true-rank interval [lt+1, le] intersects
    * [target − tol, target + tol] — the GK/KLL sketch guarantee expressed
    * over exact rank counts (lt = values strictly below, le = values at
    * or below; a tied value occupies the whole [lt+1, le] rank run).
    * [[exact]]'s `flag` is this predicate with target = p·n and
    * tol = n/accuracy + 1; ExtraSpec pins its negative arms (an interval
    * strictly left or right of the tolerance window must flip the flag)
    * so a broken sketch cannot pass unnoticed.
    */
  def rankIntervalWithin(lt: Column, le: Column,
      target: Column, tol: Column): Column =
    (le.cast("double") >= target - tol) &&
      (lt.cast("double") + lit(1.0) <= target + tol)

  /** Exact percentiles, one output column per target, one row per group.
    *
    * @param targets   (outputColumn, percentage) pairs, percentage in [0,1]
    * @param rankFor   the rank rule. None: continuous interpolation at
    *                  r = (n−1)·p (SQL percentile()). Some(f): the discrete
    *                  element at the 1-based rank f(p, n), clamped into
    *                  [1, n] — [[discreteRank]] for quantile_disc, or a
    *                  rule no literal percentage expresses (NTILE's
    *                  i·(n div k) + min(i, n mod k), [[Ntile.exact]]).
    *                  The sketch still brackets at p ± δ, so f's rank must
    *                  stay within (δ − 1/accuracy)·n of p·n for groups at
    *                  or above `smallFloor`: a rule that deviates from p·n
    *                  by up to d rows needs `smallFloor` ≥ d/(δ − 1/accuracy)
    *                  (the enclosure `require` fails loudly, never
    *                  silently, if it is lower).
    * @param sliceCap  max values any single aggregation buffer may hold
    * @param smallFloor groups below this collect whole (must be ≤ sliceCap)
    * @param broadcastCells census gate for the machinery's internal
    *                  broadcasts: every boundary-side frame below holds
    *                  O(groups × T) cells — br's row alone carries the
    *                  2T-double qs sketch array — so at extreme group
    *                  counts (10^7 oversized groups on a 10^13-row input
    *                  routed here by [[Ntile.exact]]) a forced broadcast
    *                  is a multi-GB replica on every executor. The hint is
    *                  forced only while groups × rows-and-sketch-cells
    *                  stays under this cap; past it the joins carry no
    *                  hint and AQE picks the side. br is materialized, so
    *                  the group count is its measured row count.
    * @param flag      names an output column that checks the sketch
    *                  itself: the same percentile_approx array also
    *                  evaluates each raw target percentage, the probe
    *                  pass counts the values below (lt) and at or below
    *                  (le) each of them, and the opening state's
    *                  materialization counts the (group, target) pairs
    *                  that fail [[rankIntervalWithin]](lt, le, p·n,
    *                  n/accuracy + 1). The column is the Boolean literal
    *                  "no pair failed" — no extra summary, scan or job.
    */
  def exact(
      df: DataFrame,
      groupCol: Column,
      valueCol: Column,
      targets: Seq[(String, Double)],
      rankFor: Option[(Column, Column) => Column] = None,
      sliceCap: Long = 1000000L,
      smallFloor: Long = 1000L,
      broadcastCells: Long = Materialize.BroadcastCells,
      flag: Option[String] = None): DataFrame = {
    require(targets.nonEmpty && targets.forall { case (_, p) => p >= 0 && p <= 1 })
    require(smallFloor <= sliceCap, "smallFloor must not exceed sliceCap")
    // the group key travels through the machinery wrapped in a one-field
    // struct (same null-safe-join idiom as [[Ntile.exact]]): struct
    // equality matches null fields, so a NULL group key — a real group,
    // as in any SQL GROUP BY — survives every using-column equi-join
    // below instead of silently vanishing from the output at the first
    // base ⋈ brackets join. Unwrapped again at the output select.
    val base = df.select(struct(groupCol.as("__pk")).as("g"),
        valueCol.cast("double").as("v"))
      .filter(col("v").isNotNull)

    // -- pass 1: per-group n + sketch brackets (wide), then explode to the
    //    long (g, t, p, lo, hi) state rows the loop operates on.
    //    ONE sketch per group, not one per bracket endpoint: every
    //    percentile_approx aggregate maintains its own QuantileSummaries
    //    over the full column, so 2T independent calls cost 2T full sketch
    //    update streams — measured 257 s for T=9 over 10 M rows at sf10
    //    (r5) vs ~14 s for the single array-percentage form, which updates
    //    one sketch and evaluates all 2T quantiles from it. Bracket values
    //    can differ slightly from the per-endpoint form (different
    //    compression schedules) but brackets only NARROW the search: the
    //    exact ranks are recomputed in pass 2 and the enclosure `require`
    //    below still guards every target, so the final interpolated result
    //    is identical.
    // bracket endpoints per target; a flag appends the raw target
    // percentages at the END so the tt.ti*2+{1,2} bracket indexing below
    // is unchanged
    val pcts = targets.flatMap { case (_, p) =>
      Seq(math.max(0.0, p - delta), math.min(1.0, p + delta)) } ++
      (if (flag.isDefined) targets.map(_._2) else Nil)
    val sketchAggCols = Seq(
      count(lit(1)).as("n"),
      min(col("v")).as("vmin"), max(col("v")).as("vmax"),
      percentile_approx(col("v"), array(pcts.map(lit): _*), lit(accuracy))
        .as("qs"))
    // materialize the (one-row-per-group) sketch result: it feeds the
    // probe action AND the returned plan — without truncation the
    // expensive sketch aggregation would re-execute once per consumer.
    // The same job counts the groups (r9 VERDICT item 1: at toy SF the
    // suite floor is job round-trips, not data).
    val brM = Materialize(
      base.groupBy(col("g")).agg(sketchAggCols.head, sketchAggCols.tail: _*),
      "Percentiles.exact sketch")
    val br = brM.df
    // measured-count broadcast for every internal join below (see the
    // broadcastCells scaladoc): the group count decides whether the
    // O(groups × T)-cell boundary frames may be forced onto every
    // executor. 8·T cells/group over-counts br's 2T+4 slightly and
    // matches the widest long frame (st0/state at ~8 columns × T rows per
    // group), so one gate covers all five sites.
    val cellsPerGroup = 8L * math.max(1, targets.size)
    val gated = brM.broadcastIf("sketch", brM.rows * cellsPerGroup <= broadcastCells) _
    val targetRows = targets.zipWithIndex.map { case ((name, p), i) =>
      struct(lit(name).as("t"), lit(p).as("p"), lit(i).as("ti"))
    }
    val small = col("n") < lit(smallFloor)
    val st0 = br.select(col("g"), col("n"), col("vmin"), col("vmax"),
        col("qs"), explode(array(targetRows: _*)).as("tt"))
      .select(col("g"), col("n"), col("tt.t").as("t"), col("tt.p").as("p"),
        when(small, col("vmin"))
          .otherwise(element_at(col("qs"), col("tt.ti") * 2 + 1)).as("lo"),
        when(small, col("vmax"))
          .otherwise(element_at(col("qs"), col("tt.ti") * 2 + 2)).as("hi"))
      // 1-based target ranks for symmetric interpolation: r = (n-1)·p,
      // k = floor(r); need elements at ranks k+1 and (k+2 capped at n).
      // A rank rule makes r the exact integer f(p, n)-1 (f clamped into
      // [1, n]), so rk = f(p, n) and the hi-rank element's weight is 0.
      .withColumn("r", rankFor match {
        case Some(f) =>
          (greatest(least(f(col("p"), col("n")), col("n")), lit(1L)) - 1)
            .cast("double")
        case None => (col("n") - 1) * col("p")
      })
      .withColumn("rk", (floor(col("r")) + 1).cast("long"))
      .withColumn("rkhi", least(col("rk") + 1, col("n")))

    // -- pass 2: exact below/inside counts per (g, t) replace the sketch
    //    guess (the sketch from here on has only narrowed the search).
    //    Computed WIDE — one 1:1 broadcast join against the per-group
    //    bracket row and 2T conditional aggregates — then melted long;
    //    joining the exploded st0 instead would scan T copies of every
    //    row. The lo/hi expressions are the SAME formula st0 uses, so the
    //    melted counts align exactly with the long state's brackets.
    def loEx(i: Int): Column =
      when(small, col("vmin")).otherwise(element_at(col("qs"), i * 2 + 1))
    def hiEx(i: Int): Column =
      when(small, col("vmax")).otherwise(element_at(col("qs"), i * 2 + 2))
    // project the 2T bracket bounds to SCALAR columns between the join and
    // the aggregate: leaving the element_at(qs, …) lookups inside the sum
    // expressions makes every aggregate update re-walk the array (and
    // drags the full qs array through the aggregate input row) — measured
    // 17.0 vs 9.1 s (≈ the join's own floor) over a 20 M-row group at
    // T=9 (BASELINE.md r7 "Forced tie-bisection measured at the scale it
    // exists for")
    // a flag's lt/le counts at each raw target estimate ride the same scan
    val counts = Seq("below", "cnt") ++ (if (flag.isDefined) Seq("lt", "le") else Nil)
    val probeProj = Seq(col("g"), col("v")) ++ targets.indices.flatMap { i =>
      Seq(loEx(i).as(s"__plo$i"), hiEx(i).as(s"__phi$i")) ++
        (if (flag.isDefined)
          Seq(element_at(col("qs"), 2 * targets.size + i + 1).as(s"__at$i"))
        else Nil)
    }
    val probeAggs = targets.indices.flatMap { i =>
      def countIf(c: Column): Column = sum(when(c, 1L).otherwise(0L))
      Seq(countIf(col("v") < col(s"__plo$i")).as(s"__below$i"),
        countIf(col("v").between(col(s"__plo$i"), col(s"__phi$i"))).as(s"__cnt$i")) ++
        (if (flag.isDefined)
          Seq(countIf(col("v") < col(s"__at$i")).as(s"__lt$i"),
            countIf(col("v") <= col(s"__at$i")).as(s"__le$i"))
        else Nil)
    }
    val probed = base.join(gated(br), "g")
      .select(probeProj: _*)
      .groupBy(col("g")).agg(probeAggs.head, probeAggs.tail: _*)
      .select(col("g"), explode(array(targets.zipWithIndex.map {
        case ((name, _), i) =>
          struct(lit(name).as("t") +: counts.map(c => col(s"__$c$i").as(c)): _*)
      }: _*)).as("pb"))
      .select(col("g") +: col("pb.t").as("t") +: counts.map(c => col(s"pb.$c").as(c)): _*)
    // a bracket whose interval is ALREADY collapsed (lo >= hi — every
    // in-bracket value equals lo, e.g. a constant-valued mega run) is done
    // before the loop starts: the enclosure require below proves the target
    // ranks sit inside the run, so the element at both ranks IS lo. Without
    // this the loop's first round would materialize the full T·cnt-row
    // subset only to apply the same lo >= hi rule one pass later — measured
    // 258 s → 11 s on a 20 M-row constant group ([[Ntile.exact]]'s forced-
    // bisection measurement, BASELINE.md r7 "Forced tie-bisection")
    val collapsed = col("lo") >= col("hi")
    val enclosureViolated = col("below") >= col("rk") ||
      col("below") + col("cnt") < col("rkhi")
    val active = !col("done") && col("cnt") > lit(sliceCap)

    // Each materialization of the (groups × T)-row state folds the
    // loop's two tests: any bracket still active, any target still
    // pending the pass-4 collect. The first one also folds the enclosure
    // check: a bracket that failed to enclose its target ranks fails
    // LOUDLY here rather than interpolating a wrong value downstream
    // (r8/r9 VERDICT item 1's fixed-cost floor: these were four separate
    // driver-blocking jobs over the same tiny frame). Folds over an EMPTY
    // state (empty input / all-NULL value column) are 0, so the machinery
    // falls through to an empty result.
    var (state, anyActive, anyPending) = (null: DataFrame, false, false)
    def materializeState(d: DataFrame, site: String,
        extraFolds: Materialize.Fold*): Materialize.Materialized = {
      val m = Materialize(d.withColumn("__act", active).withColumn("__pend", !col("done")),
        site, Seq(Materialize.any("__act"), Materialize.any("__pend")) ++ extraFolds: _*)
      state = m.df.drop("__act", "__pend", "__viol", "__miss", "lt", "le")
      anyActive = m.any(0)
      anyPending = m.any(1)
      m
    }
    // the flag's check: the raw target estimate's true-rank interval
    // must meet p·n within the sketch's rank error n/accuracy, +1 row of
    // slack for the target-rank definition (Spark's summary queries rank
    // ceil(p·n); ties to p·n)
    val n = col("n").cast("double")
    val miss = flag.map(_ => !rankIntervalWithin(col("lt"), col("le"),
      col("p") * n, n / lit(accuracy.toDouble) + lit(1.0)))
    val opening = materializeState(miss.foldLeft(st0.join(probed, Seq("g", "t"))
        .withColumn("done", collapsed)
        .withColumn("el_lo", when(collapsed, col("lo")).cast("double"))
        .withColumn("el_hi", when(collapsed, col("lo")).cast("double"))
        .withColumn("__viol", enclosureViolated))(_.withColumn("__miss", _)),
      "Percentiles.exact state",
      Materialize.sum("__viol") +: miss.map(_ => Materialize.sum("__miss")).toSeq: _*)
    require(opening.sum(2) == 0L,
      "percentile bracket missed its target rank (sketch accuracy too low)")

    // -- pass 3: bisection refinement over the materialized subset
    var subset: DataFrame = null
    var rounds = 0
    while (anyActive) {
      require(rounds < maxRounds,
        s"percentile bisection did not converge in $maxRounds rounds")
      if (subset == null) {
        // one-time: materialize only in-bracket rows, tagged per target —
        // every later pass scans this (T·2δn)-row frame, not the parent
        // keep the parent's natural partitioning: the per-round halves
        // aggregate is map-side combinable, so co-locating by (g, t) buys
        // nothing — and hashing (g, t) would concentrate one mega group's
        // bracket into T partitions, re-serializing every round through T
        // tasks (the same concentration defect the r7 review removed from
        // [[Ntile]]'s tied slice)
        subset = Materialize(base.join(gated(st0.select(col("g"), col("t"),
            col("lo").as("lo0"), col("hi").as("hi0"))), "g")
          .filter(col("v").between(col("lo0"), col("hi0")))
          .select(col("g"), col("t"), col("v")), "Percentiles.exact subset").df
      }
      val act = state.where(active)
        .select(col("g"), col("t"), col("lo"), col("hi"),
          (col("lo") + (col("hi") - col("lo")) / 2).as("mid"))
      // degenerate interval (mid folds onto lo for adjacent doubles):
      // split exactly at ==lo so the round still makes progress
      val leftP = when(col("mid") > col("lo"), col("v") < col("mid"))
        .otherwise(col("v") <= col("lo"))
      val halves = subset.join(gated(act), Seq("g", "t"))
        .filter(col("v").between(col("lo"), col("hi")))
        .groupBy(col("g"), col("t"))
        .agg(
          sum(when(leftP, 1L).otherwise(0L)).as("cl"),
          max(when(leftP, col("v"))).as("maxl"),
          min(when(!leftP, col("v"))).as("minr"))
      val bc = col("below") + col("cl")
      val goLeft = bc >= col("rkhi")
      val goRight = bc < col("rk")
      val refined = state.where(active)
        .join(halves, Seq("g", "t"))
        .select(col("g"), col("n"), col("t"), col("p"), col("r"), col("rk"),
          col("rkhi"),
          when(goLeft, col("lo")).when(goRight, col("minr"))
            .otherwise(col("lo")).as("lo"),
          when(goLeft, col("maxl")).when(goRight, col("hi"))
            .otherwise(col("hi")).as("hi"),
          when(goLeft, col("below")).when(goRight, bc)
            .otherwise(col("below")).as("below"),
          when(goLeft, col("cl")).when(goRight, col("cnt") - col("cl"))
            .otherwise(col("cnt")).as("cnt"),
          // straddle: rank k is the left half's max, k+1 the right's min
          (!goLeft && !goRight).as("resolved"),
          when(!goLeft && !goRight, col("maxl")).as("el_lo"),
          when(!goLeft && !goRight, col("minr")).as("el_hi"))
        // an interval collapsed to one value IS the answer at both ranks
        .select(col("g"), col("n"), col("t"), col("p"), col("r"), col("rk"),
          col("rkhi"), col("lo"), col("hi"), col("below"), col("cnt"),
          (col("resolved") || col("lo") >= col("hi")).as("done"),
          coalesce(col("el_lo"), when(col("lo") >= col("hi"), col("lo")))
            .as("el_lo"),
          coalesce(col("el_hi"), when(col("lo") >= col("hi"), col("lo")))
            .as("el_hi"))
      materializeState(state.where(!active).unionByName(refined),
        s"Percentiles.exact round $rounds")
      rounds += 1
    }

    // -- pass 4: collect surviving brackets (≤ cap each), look up exact
    //    ranks, interpolate; bisection-resolved targets skip the collect
    val pending = state.where(!col("done"))
      .select(col("g"), col("t"), col("lo").as("flo"), col("hi").as("fhi"))
    val src0 = if (subset == null) {
      base.join(gated(st0.select(col("g"), col("t"),
          col("lo").as("lo0"), col("hi").as("hi0"))), "g")
        .filter(col("v").between(col("lo0"), col("hi0")))
        .select(col("g"), col("t"), col("v"))
    } else subset
    // when every target resolved (all brackets collapsed — the
    // constant-value case — or resolved by bisection) there is nothing to
    // collect: pin the slice scan to limit(0) so OptimizeLimitZero folds
    // it to an empty relation at plan time instead of relying on AQE to
    // propagate the empty broadcast side through the returned (lazy)
    // plan. The answer rode the last state materialization's fold.
    val collectSrc = if (!anyPending) src0.limit(0) else src0
    val slices = collectSrc
      .join(gated(pending), Seq("g", "t"))
      .filter(col("v").between(col("flo"), col("fhi")))
      .groupBy(col("g"), col("t"))
      .agg(sort_array(collect_list(col("v"))).as("w"))
    def sliceAt(idx: Column): Column =
      when(idx >= 1, try_element_at(col("w"), idx.cast("int")))
    val perTarget = state.join(slices, Seq("g", "t"), "left")
      .select(col("g"), col("t"), col("r"), col("rk"),
        coalesce(col("el_lo"), sliceAt(col("rk") - col("below"))).as("lo_el"),
        coalesce(col("el_hi"),
          when(col("rkhi") === col("rk"),
            coalesce(col("el_lo"), sliceAt(col("rk") - col("below"))))
            .otherwise(sliceAt(col("rkhi") - col("below")))).as("hi_el"))
      .select(col("g"), col("t"),
        (col("lo_el") * (floor(col("r")) + 1 - col("r")) +
          col("hi_el") * (col("r") - floor(col("r")))).as("res"))
    // pivot the long (g, t, res) rows back to one column per target
    val outCols = targets.map { case (name, _) =>
      first(when(col("t") === lit(name), col("res")), ignoreNulls = true)
        .as(name)
    }
    val out = perTarget.groupBy(col("g")).agg(outCols.head, outCols.tail: _*)
      // unwrap the struct key back to the caller's group values (nulls
      // included) so the output contract is unchanged
      .withColumn("g", col("g.__pk"))
    flag.fold(out)(out.withColumn(_, lit(opening.sum(3) == 0L)))
  }
}
