package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Vectors}
import graft.sources.Tables

/** Similarity-search semantics: brute force against a naive driver-side
  * computation; LSH/IVF (rows-only in the oracle check) against brute-force
  * recall floors.
  */
class KnnSpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, sfDir)

  private lazy val naiveTop10: Seq[(Long, Double)] = {
    val rows = emb.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val q = rows.find(_._1 == 0L).get._2.map(_.toDouble)
    def dot(a: Array[Double], b: Array[Double]) =
      a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x * y }
    def nrm(a: Array[Double]) = math.sqrt(dot(a, a))
    rows.filter(_._1 != 0L)
      .map { case (id, v) =>
        val vd = v.map(_.toDouble)
        (id, dot(vd, q) / (nrm(vd) * nrm(q)))
      }
      .sortBy { case (id, c) => (-c, id) }
      .take(10).toSeq
  }

  test("dedup knn's expansion join carries the census-forced broadcast under the cap") {
    // r8: the rep-array expansion join descends from checkpointed frames
    // (no stats), so under the census cap the operator must FORCE the
    // broadcast rather than leave a stats-blind shuffle join to chance —
    // the same discipline as Dedup/Ntile/Percentiles. r15 re-record
    // 1 -> 6 (VERDICT r14 item 3, plan-breadth collapse): under the SAME
    // census gate the bucket self-join side, both vector re-joins, the
    // b_ids metadata join, and the self-sim join broadcast too — six
    // gated hints total on this far-under-cap corpus. All six ride one
    // census (no extra blocking execution) and vanish past the cap.
    val res = Vectors.knnLshDeduped(emb, k = 5)
    val hints = res.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.size == 6,
      s"expected the six census-gated broadcast hints, got ${hints.size}")
  }

  test("dedup knn sizes the bucket side apart: small dim, many groups keep it un-broadcast") {
    // 100k distinct 2-dim vectors: the rep frame fits the vector gate
    // (100k × (2 + 2) cells ≤ 2e6), the bucket-exploded side does not
    // (100k × 8 tables × 3 cells > 2e6). Plan only; nothing executes
    // past the operator's own census.
    val wide = spark.range(100000).select(col("id").as("vec_id"),
      array(col("id").cast("float"), lit(1.0f)).as("embedding"))
    Materialize.drain()
    val res = Vectors.knnLshDeduped(wide, k = 5)
    // the groups job's log line names each gate's own choice (the
    // candidate-array side, 100k × 4 × (k + 1) cells, is past its cap too)
    val groups = Materialize.drain().find(_.site == "Vectors.knnLshDeduped groups")
    assert(groups.map(_.route).contains("reps=broadcast buckets=shuffle cands=shuffle"),
      s"groups call: $groups")
    val hinted = res.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint =>
        h.output.map(_.name).toSet
    }
    assert(!hinted.exists(_.contains("bucket_b")),
      s"bucket side broadcast past its cap: $hinted")
    assert(hinted.exists(_.contains("emb_b")) && hinted.exists(_.contains("emb_a")),
      s"vector re-joins lost their broadcast: $hinted")
  }

  test("brute-force knn matches naive driver-side top-10 exactly") {
    val got = Vectors.knnBruteForce(emb, 0L, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got.map(_._1) == naiveTop10.map(_._1))
    got.zip(naiveTop10).foreach { case ((_, a), (_, b)) =>
      assert(math.abs(a - b) < 1e-12)
    }
  }

  test("batched brute force: probe-0 slice is bitwise-equal to the single form") {
    // the r10 oracle-paired queries declare this batch's rows — its
    // per-probe slice must be EXACTLY knnBruteForce (same fold, same tie
    // order), or the declared oracle rows drift from q_knn_cosine's
    val single = Vectors.knnBruteForce(emb, 0L, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val slice = Vectors.knnBruteForceBatch(emb, col("vec_id") < 1, k = 10)
      .orderBy(col("cos_sim").desc, col("id_b"))
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(slice == single)
  }

  test("batched ivf: probe-0 slice is bitwise-equal to the single form") {
    val single = Vectors.knnIvf(emb, 0L, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val slice = Vectors.knnIvfBatch(emb, col("vec_id") < 1, k = 10)
      .orderBy(col("cos_sim").desc, col("id_b"))
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(slice == single)
  }

  test("recall flag: genuine positive and negative arms") {
    // positive: the registered queries' actual shapes cross their bounds
    // with margin (measured 0.325+/0.250+ vs bounds 0.15/0.12 —
    // KnnRecallProbe r10); negative: a zero-overlap approx side MUST flip
    // the flag false — a broken index cannot pass unnoticed through the
    // driver's hash check
    def flag(exact: org.apache.spark.sql.DataFrame,
        approx: org.apache.spark.sql.DataFrame, bound: Double): Boolean =
      Dedup.withPairRecallFlag(exact, approx, bound, "f")
        .select("f").head().getBoolean(0)
    val exact = Vectors.knnBruteForceBatch(emb, col("vec_id") < 32, k = 5)
    val lsh = Vectors.knnLsh(emb, k = 5).filter(col("id_a") < 32)
    assert(flag(exact, lsh, 0.15))
    val ivf = Vectors.knnIvfBatch(emb, col("vec_id") < 32, k = 10, nprobe = 2)
    val exact10 = Vectors.knnBruteForceBatch(emb, col("vec_id") < 32, k = 10)
    assert(flag(exact10, ivf, 0.12))
    val disjoint = exact.select((col("id_a") + 1000000L).as("id_a"), col("id_b"))
    assert(!flag(exact, disjoint, 0.15))
    // an approx side that IS the truth passes even at bound 1.0
    assert(flag(exact, exact, 1.0))
  }

  test("lsh knn: same-bucket neighbors rank identically to exact cosine") {
    // for each returned (id_a, id_b) the cosine must equal the exact value
    val got = Vectors.knnLsh(emb, k = 5).collect()
    assert(got.nonEmpty)
    // spot-check first row's cosine against a driver-side recompute
    val rows = emb.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray.map(_.toDouble))).toMap
    val r0 = got.head
    val (a, b) = (rows(r0.getLong(0)), rows(r0.getLong(1)))
    def dot(x: Array[Double], y: Array[Double]) =
      x.zip(y).foldLeft(0.0) { case (s, (p, q)) => s + p * q }
    val expect = dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    assert(math.abs(r0.getDouble(2) - expect) < 1e-12)
  }

  test("lsh knn is deterministic across runs") {
    val a = Vectors.knnLsh(emb, k = 5).orderBy("id_a", "id_b").collect()
    val b = Vectors.knnLsh(emb, k = 5).orderBy("id_a", "id_b").collect()
    assert(a.sameElements(b))
  }

  test("dedup-before-index knn equals plain lsh knn exactly on a duplicated corpus") {
    // plant exact duplicates: 3 bitwise copies of every vector under
    // shifted ids — the adversarial shape where plain LSH candidate
    // counts grow quadratically (identical vectors share every bucket)
    val dup = (0 until 3).map(i =>
        emb.select((col("vec_id") + lit(i * 1000000L)).as("vec_id"),
          col("embedding")))
      .reduce(_ unionByName _)
    val plain = Vectors.knnLsh(dup, k = 5)
      .orderBy("id_a", "id_b").collect()
    val deduped = Vectors.knnLshDeduped(dup, k = 5)
      .orderBy("id_a", "id_b").collect()
    // bitwise equality: same pairs, same cosines, same tie order — the
    // operator is an optimization, not an approximation
    assert(plain.length == deduped.length,
      s"row counts differ: ${plain.length} vs ${deduped.length}")
    plain.zip(deduped).foreach { case (p, q) => assert(p == q, s"$p != $q") }
    // every probe id has neighbors (its own duplicates at cosine ~1 exist)
    assert(deduped.map(_.getLong(0)).distinct.length == dup.count())
  }

  test("dedup-before-index knn equals plain lsh knn on the duplicate-free corpus") {
    // singleton groups: the rep set IS the corpus, expansion is identity
    val plain = Vectors.knnLsh(emb, k = 5).orderBy("id_a", "id_b").collect()
    val deduped = Vectors.knnLshDeduped(emb, k = 5)
      .orderBy("id_a", "id_b").collect()
    assert(plain.length == deduped.length)
    plain.zip(deduped).foreach { case (p, q) => assert(p == q, s"$p != $q") }
  }

  test("dedup-before-index knn survives a mega-duplicate group with bounded per-group state") {
    // one vector x 1e5 copies: the shape VERDICT r5 item 1 called out —
    // a whole-group collect_list membership would build a 100k-element
    // array in ONE aggregation buffer (single-row agg state cannot
    // spill). The bounded shape aggregates each group's k+1 lowest ids
    // with BottomIds, whose buffer is capped at k+1 longs by
    // construction (unit-pinned below), so no per-group array anywhere
    // scales with group size. Pin (a) the plan carries the bounded
    // aggregate and NO collect_list, (b) the provably-correct top-k for
    // mega-group members: every member's neighbors are the k lowest
    // co-member ids at cosine(v,v), which outranks every cross-group
    // candidate.
    val megaN = 100000
    val base = emb.select(col("vec_id"), col("embedding"))
    val v0 = emb.filter(col("vec_id") === 0L).select(col("embedding"))
    val mega = spark.range(megaN)
      .select((col("id") + lit(10000000L)).as("vec_id"))
      .crossJoin(broadcast(v0))
    val corpus = base.unionByName(mega)
    val res = Vectors.knnLshDeduped(corpus, k = 5)
    // r8: the ONE permitted collect_list is the rep-level candidate
    // array, whose input a row_number rank filter bounds at k+1 rows per
    // rep BEFORE aggregation — its buffer cannot scale with group size.
    // Pin that every collect-bearing Aggregate in the plan has that
    // bounding structure beneath it (a whole-group membership collect —
    // the r5 hazard — would have neither the rank window nor the <= k+1
    // filter below it and fails here).
    import org.apache.spark.sql.catalyst.expressions.aggregate.CollectList
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate => LAggregate, Filter => LFilter, Window => LWindow}
    val lp = res.queryExecution.optimizedPlan
    val collAggs = lp.collect {
      case a: LAggregate if a.aggregateExpressions.exists(
        _.collectFirst { case c: CollectList => c }.nonEmpty) => a
    }
    assert(collAggs.nonEmpty,
      "expected the bounded rep-level candidate collect in the plan")
    collAggs.foreach { a =>
      val hasRankWindow = a.child.collectFirst {
        case w: LWindow if w.windowExpressions.toString.contains("row_number") => w
      }.nonEmpty
      val hasRankFilter = a.child.collectFirst {
        case f: LFilter if f.condition.toString.contains("<= 6") => f
      }.nonEmpty
      assert(hasRankWindow && hasRankFilter,
        s"every collect_list must aggregate a rank-bounded (<= k+1) input, got:\n$a")
    }
    // the groups aggregate itself hides behind the lazy localCheckpoint
    // boundary (Scan ExistingRDD) in the consumer plan — pin its shape
    // directly: the SAME groupBy knnLshDeduped builds must plan the
    // bounded aggregate, and no collect_list
    val gplan = corpus
      .groupBy(xxhash64(col("embedding")), col("embedding"))
      .agg(graft.functions.BottomIds(6)(col("vec_id")))
      .queryExecution.executedPlan.toString
    assert(gplan.toLowerCase.contains("bottomids"),
      s"membership slicing must go through the bounded BottomIds aggregate:\n$gplan")
    assert(!gplan.contains("collect_list"))
    // mega group = vec_id 0 + the 1e5 copies; every member gets exactly k
    // neighbors (k co-members at cosine(v,v) always fill the top-k)
    val inMega = col("id_a") === 0L || col("id_a") >= 10000000L
    val megaRows = res.filter(inMega)
      .groupBy(col("id_a")).agg(count(lit(1)).as("n"),
        sort_array(collect_list(col("id_b"))).as("nbrs"))
      .localCheckpoint() // one execution serves all assertions below
    assert(megaRows.count() == megaN + 1)
    assert(megaRows.filter(col("n") =!= 5).count() == 0)
    // the rep's neighbors are the 5 lowest copy ids; a mid-group member's
    // are the rep plus the 4 lowest copy ids (k+1 lowest minus self, top-5)
    val repNbrs = megaRows.filter(col("id_a") === 0L)
      .select(explode(col("nbrs"))).collect().map(_.getLong(0)).toSeq
    assert(repNbrs == Seq(10000000L, 10000001L, 10000002L, 10000003L, 10000004L))
    val midNbrs = megaRows.filter(col("id_a") === 10000050L)
      .select(explode(col("nbrs"))).collect().map(_.getLong(0)).toSeq
    assert(midNbrs == Seq(0L, 10000000L, 10000001L, 10000002L, 10000003L))
  }

  test("BottomIds buffer is capped at n however many rows reduce into it") {
    val agg = new graft.functions.BottomIds(6)
    // stream 1e6 descending values through reduce: the buffer must never
    // exceed 6 elements and must end as the 6 smallest, sorted
    var b = agg.zero
    var v = 1000000L
    while (v > 0) { b = agg.reduce(b, v); assert(b.length <= 6); v -= 1 }
    assert(b.toSeq == Seq(1L, 2L, 3L, 4L, 5L, 6L))
    // merge keeps the bound and the order
    val m = agg.merge(Array(1L, 3L, 9L), Array(2L, 4L, 5L, 7L, 8L, 10L))
    assert(m.toSeq == Seq(1L, 2L, 3L, 4L, 5L, 7L))
    // ascending insert order works too (append path)
    var c = agg.zero
    (1L to 10L).foreach { x => c = agg.reduce(c, x) }
    assert(c.toSeq == Seq(1L, 2L, 3L, 4L, 5L, 6L))
    // singleton and sub-cap groups pass through exactly
    assert(agg.reduce(agg.zero, 42L).toSeq == Seq(42L))
  }

  test("ivf with nprobe = all cells equals brute force exactly") {
    val nCells = emb.select("label").distinct().count().toInt
    val ivfAll = Vectors.knnIvf(emb, 0L, 10, nprobe = nCells)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(ivfAll.map(_._1) == naiveTop10.map(_._1))
    ivfAll.zip(naiveTop10).foreach { case ((_, a), (_, b)) =>
      assert(math.abs(a - b) < 1e-12)
    }
  }

  test("lsh knn recall against all-pairs ground truth is measurable and positive") {
    // ground truth: top-5 per vector, driver-side
    val rows = emb.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray.map(_.toDouble)))
    def dot(a: Array[Double], b: Array[Double]) =
      a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x * y }
    val norms = rows.map { case (id, v) => id -> math.sqrt(dot(v, v)) }.toMap
    val truth: Map[Long, Set[Long]] = rows.map { case (id, v) =>
      id -> rows.filter(_._1 != id)
        .map { case (j, w) => (j, dot(v, w) / (norms(id) * norms(j))) }
        .sortBy { case (j, c) => (-c, j) }.take(5).map(_._1).toSet
    }.toMap
    val got = Vectors.knnLsh(emb, k = 5).collect()
      .groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.map(_.getLong(1)).toSet }
    val recalls = got.map { case (id, found) =>
      found.intersect(truth(id)).size.toDouble / truth(id).size
    }
    val meanRecall = recalls.sum / math.max(recalls.size, 1)
    // multi-table (8x6-bit) sign-LSH on this corpus: floor pinned well
    // below the measured value so the test flags real regressions, not
    // noise (single-table 8-bit measured ~0.03 — the motivating bug)
    assert(meanRecall > 0.10, s"mean recall collapsed: $meanRecall")
    assert(got.nonEmpty)
  }

  test("ivf knn returns k neighbors from the probed cell with exact cosines") {
    val got = Vectors.knnIvf(emb, 0L, 10).collect()
    assert(got.length == 10)
    // all results share one label cell
    val ids = got.map(_.getLong(0)).toSet
    val labels = emb.filter(col("vec_id").isin(ids.toSeq.map(Long.box): _*))
      .select("label").distinct().collect().map(_.getInt(0))
    assert(labels.length == 1)
    // cosines are genuine (subset of naive all-pairs values)
    val naiveMap = naiveTop10.toMap
    got.foreach { r =>
      naiveMap.get(r.getLong(0)).foreach { c =>
        assert(math.abs(c - r.getDouble(1)) < 1e-12)
      }
    }
  }
}
