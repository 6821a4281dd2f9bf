package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.TextExprs
import graft.operators.Dedup
import graft.sources.Tables

/** MinHash-LSH / SimHash semantics pinned on planted near-duplicates (these
  * operators are rows-only in the driver's oracle check, so this spec is
  * their correctness gate).
  */
class DedupSpec extends SparkSpec {

  private def corpus = {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and runs far away into the deep green forest tonight"
    Seq(
      (1L, base),
      (2L, base),                                           // exact dup of 1
      (3L, base.replace("lazy", "sleepy")),                 // near dup of 1
      (4L, "completely different words about spark query engines and shuffle partitions at massive scale"),
      (5L, "yet another unrelated document mentioning parquet files column pruning and predicate pushdown"),
      (6L, base.split(' ').reverse.mkString(" "))            // word-shuffled 1
    ).toDF("id", "text")
  }

  test("minhash: exact + near dups found, unrelated docs not paired") {
    val pairs = Dedup.minhashPairs(corpus, threshold = 0.5)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("pair recall flag: true on the real candidate set, false on an empty one") {
    // the r10 oracle-pairing machinery for q_dedup_minhash/q_dedup_simhash:
    // truth = exact window pairs; flag = genuine recall of the candidates
    val truth = Dedup.exactJaccardWindowPairs(corpus.select(
      col("id"), col("text")), tau = 0.5, window = 200)
    assert(truth.count() >= 2, "fixture must plant window truth pairs")
    // positive arm: the real minhash candidates catch the planted dups
    val flagged = Dedup.withPairRecallFlag(truth,
      Dedup.minhashPairs(corpus, threshold = 0.5), 0.7, "ok")
    val rows = flagged.collect()
    assert(rows.length == truth.count())
    assert(rows.forall(_.getAs[Boolean]("ok")), "real candidates must pass 0.7")
    // negative arm: an empty candidate set must flip the flag on every row
    val none = Dedup.minhashPairs(corpus, threshold = 0.5).filter(lit(false))
    val failed = Dedup.withPairRecallFlag(truth, none, 0.25, "ok").collect()
    assert(failed.nonEmpty && failed.forall(!_.getAs[Boolean]("ok")),
      "zero recall must fail even the loosest declared bound")
    // truth rows carry the exact jaccard, not the estimate: planted exact
    // dup (1,2) is jaccard 1.0
    val j12 = rows.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(j12.exists(_.getAs[Double]("jaccard") == 1.0))
  }

  test("minhash: exact dup pair has estimated jaccard 1.0") {
    val est = Dedup.minhashPairs(corpus, threshold = 0.5)
      .filter(col("id_a") === 1 && col("id_b") === 2)
      .select("est_jaccard").first().getDouble(0)
    assert(est == 1.0)
  }

  test("minhash signatures are stable across partitionings") {
    val one = Dedup.minhashSignatures(corpus.repartition(1)).orderBy("id").collect()
    val four = Dedup.minhashSignatures(corpus.repartition(4)).orderBy("id").collect()
    assert(one.sameElements(four))
  }

  test("simhash: identical text and word-shuffled text => distance 0; unrelated not paired") {
    // simhash is a word-multiset fingerprint: reordering must not move it.
    // (Single-word edits on short docs flip O(sqrt(n)) bits — near-dup
    // recall for edits is minhash's job, pinned above.)
    val pairs = Dedup.simhashPairs(corpus, maxDist = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs.get((1L, 2L)).contains(0))
    assert(pairs.get((1L, 6L)).contains(0))
    assert(!pairs.keys.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("clusters: chains collapse to min-id components (both routes)") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (3L, 7L))
      .toDF("id_a", "id_b")
    // driverCap=0 forces the distributed pointer-jumping loop; the default
    // routes this small graph to driver-side union-find — both must give
    // the same min-id labels
    Seq(0L, 1L << 20).foreach { cap =>
      val got = Dedup.clusters(pairs, driverCap = cap).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 1L,
        10L -> 10L, 11L -> 10L), s"driverCap=$cap")
    }
  }

  test("clusters: a chain deeper than the old 8-round bound still converges (distributed route)") {
    import spark.implicits._
    // a 700-node path graph has diameter 699 > 2^8: under the former
    // fixed maxIter=8 exit the distributed loop returned UNCONVERGED
    // multi-label components silently, diverging from the driver route the
    // scaladoc declares identical (r7 review). The loop now runs to its
    // `changed`-flag fixpoint (~log2(diameter) rounds), so both routes
    // must agree on the single min-id component.
    val chain = (1 to 699).map(i => (i.toLong, i.toLong + 1)).toDF("id_a", "id_b")
    Seq(0L, 1L << 20).foreach { cap =>
      val got = Dedup.clusters(chain, driverCap = cap).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got.size == 700 && got.values.forall(_ == 1L), s"driverCap=$cap")
    }
  }

  test("clusters over minhash pairs group the planted dups under the min id") {
    val got = Dedup.clusters(Dedup.minhashPairs(corpus, threshold = 0.5))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // docs 1, 2 (exact), 3 (near), 6 (shuffled multiset: distinct shingles
    // differ, may or may not pair) — at minimum 1,2,3 share cluster 1
    assert(got(1L) == 1L && got(2L) == 1L && got(3L) == 1L)
    assert(!got.contains(4L) && !got.contains(5L))
  }

  test("clusters equal a union-find reference on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(42L) // fixed seed: deterministic
    for (trial <- 1 to 3) {
      // random graphs with long chains and dense pockets — the shapes
      // that stress pointer-jumping convergence within maxIter
      val n = 120
      val edges = (1 to 150).map { _ =>
        val a = rnd.nextInt(n).toLong; val b = rnd.nextInt(n).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(e => e._1 != e._2).distinct
      // driver-side union-find reference
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(id => id -> {
          // canonical label: min node id in the component
          val root = find(id.toInt)
          edges.flatMap(e => Seq(e._1, e._2)).distinct
            .filter(o => find(o.toInt) == root).min
        }).toMap
      // the DISTRIBUTED route against the reference (driverCap=0 — the
      // default would route these small graphs to driver union-find and
      // this test would stop covering pointer-jumping), then the driver
      // route against the same reference: the two routes are pinned equal
      // through it
      Seq(0L, 1L << 20).foreach { cap =>
        val got = Dedup.clusters(edges.toDF("id_a", "id_b"), driverCap = cap)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == expected, s"trial $trial driverCap=$cap")
      }
    }
  }

  test("survivors pipeline: near-dup group keeps only its min id, unpaired docs pass through") {
    val sv = Dedup.survivors(corpus).select("id").collect()
      .map(_.getLong(0)).toSet
    // 1,2,3 cluster under 1 (pinned above): only 1 survives of them;
    // 4 and 5 are unpaired and must pass through; 6 (word-shuffled) may
    // or may not have paired, so it's unconstrained here
    assert(sv.contains(1L) && sv.contains(4L) && sv.contains(5L))
    assert(!sv.contains(2L) && !sv.contains(3L))
  }

  test("exact-first survivors equal plain survivors on a replicated corpus") {
    // 3 bitwise copies of every doc under shifted ids — the
    // duplicate-heavy shape where plain survivors pays quadratic
    // in-bucket pairs; result must be IDENTICAL (no bucket trips the
    // MaxBucket cap on this corpus, the only divergence the scaladoc
    // permits — and there exact-first recall would be strictly higher)
    import spark.implicits._
    // include DEGENERATE texts (empty / whitespace-only / null): they
    // yield no shingles, so plain survivors can never pair them and ALL
    // copies must pass through — the collapse has to bypass them
    // (r4 review finding)
    val withDegenerate = corpus.unionByName(Seq(
      (50L, ""), (51L, ""), (52L, "   "), (53L, "   "),
      (54L, null.asInstanceOf[String])).toDF("id", "text"))
    val dup = (0 until 3).map(i =>
        withDegenerate.select((col("id") + lit(i * 1000L)).as("id"), col("text")))
      .reduce(_ unionByName _)
    val plain = Dedup.survivors(dup).select("id").collect()
      .map(_.getLong(0)).sorted
    val fast = Dedup.survivorsExactFirst(dup).select("id").collect()
      .map(_.getLong(0)).sorted
    assert(plain.sameElements(fast),
      s"plain=${plain.mkString(",")} fast=${fast.mkString(",")}")
    // and the composition still behaves like survivors on the base corpus
    val base = Dedup.survivorsExactFirst(corpus).select("id").collect()
      .map(_.getLong(0)).toSet
    assert(base.contains(1L) && base.contains(4L) && base.contains(5L))
    assert(!base.contains(2L) && !base.contains(3L))
  }

  test("exact-first clusters equal plain clusters on a replicated corpus") {
    // Same replicated shape as the survivors pin: 3 bitwise copies of
    // every doc (plus degenerate texts) under shifted ids. Cluster label
    // MAPS must be identical — not just up to representative renaming,
    // because both variants label a component by its min id and the
    // exact-first reps ARE the group minima.
    import spark.implicits._
    val withDegenerate = corpus.unionByName(Seq(
      (50L, ""), (51L, ""), (52L, "   "), (53L, "   "),
      (54L, null.asInstanceOf[String])).toDF("id", "text"))
    val dup = (0 until 3).map(i =>
        withDegenerate.select((col("id") + lit(i * 1000L)).as("id"), col("text")))
      .reduce(_ unionByName _)
    val plain = Dedup.clusters(Dedup.minhashPairs(dup, threshold = 0.5))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fast = Dedup.clustersExactFirst(dup, threshold = 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(plain == fast,
      s"only-plain=${(plain.toSet -- fast.toSet).toSeq.sorted.take(10)} " +
        s"only-fast=${(fast.toSet -- plain.toSet).toSeq.sorted.take(10)}")
    // sanity on the base corpus: 1,2,3 share cluster 1; 4,5 unlabeled
    val base = Dedup.clustersExactFirst(corpus)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(base(1L) == 1L && base(2L) == 1L && base(3L) == 1L)
    assert(!base.contains(4L) && !base.contains(5L))
  }

  test("restricted cluster-agreement flag equals the unrestricted form") {
    // r12 (VERDICT r11 item 1): the flag's endpoint joins semi-filter the
    // corpus-sized assignment to truth-pair ids first. A left join only
    // reads assignment rows at truth ids, so the value must be identical —
    // pinned on a replicated corpus (every doc labeled, the adversarial
    // decade shape) for an agreeing assignment, a disagreeing one, and an
    // empty truth frame.
    import spark.implicits._
    val dup = (0 until 3).map(i =>
        corpus.select((col("id") + lit(i * 1000L)).as("id"), col("text")))
      .reduce(_ unionByName _)
    val truth = Dedup.exactJaccardWindowPairs(
      dup.select(col("id"), col("text")), tau = 0.5, window = 200)
      .localCheckpoint(false)
    assert(truth.count() >= 2, "fixture must plant truth pairs")
    def unrestricted(assign: org.apache.spark.sql.DataFrame,
        name: String): Boolean = truth
      .join(assign.select(col("id").as("id_a"), col("cluster").as("__ca")),
        Seq("id_a"), "left")
      .join(assign.select(col("id").as("id_b"), col("cluster").as("__cb")),
        Seq("id_b"), "left")
      .agg((count(when(col("__ca") === col("__cb"), 1)) >=
        count(lit(1)).cast("double") * lit(0.7)).as(name))
      .collect().head.getBoolean(0)
    val good = Dedup.clustersExactFirst(dup, threshold = 0.5)
      .localCheckpoint(false)
    // a deliberately wrong assignment: every id its own cluster
    val bad = dup.select(col("id"), col("id").as("cluster"))
      .localCheckpoint(false)
    for ((assign, label) <- Seq((good, "agreeing"), (bad, "disagreeing"))) {
      val restricted = Dedup.clusterAgreementFlag(truth, assign, 0.7, "ok")
      assert(restricted == unrestricted(assign, "ok"),
        s"$label assignment: restricted flag diverged")
    }
    assert(!Dedup.clusterAgreementFlag(truth, bad, 0.7, "ok"),
      "disagreeing assignment must fail")
    // the sub-broadcast-cap census arm too (cap 0 forces the plain join)
    assert(Dedup.clusterAgreementFlag(truth, good, 0.7, "ok",
      broadcastCap = 0L))
    // empty truth: vacuously true in both forms (0 >= 0)
    val emptyTruth = truth.filter(lit(false)).localCheckpoint(false)
    assert(Dedup.clusterAgreementFlag(emptyTruth, good, 0.7, "ok"))
  }

  test("clusters: an unmeasured pair frame under the cap is stored, counted and collected in one job") {
    // a 41-node chain over 4 partitions whose count no one has measured
    val chain = spark.range(0L, 40L, 1L, 4)
      .select(col("id").as("id_a"), (col("id") + 1L).as("id_b"))
    assert(Materialize.knownRows(chain).isEmpty)
    val (labels, run) = Trace(spark)(_.phase(Dedup.clusters(chain)))
    assert(run.jobs.size == 1, s"the driver route ran ${run.jobs.size} jobs (want one)")
    val call = run.calls.find(_.site == "Dedup.clusters pairs")
    assert(call.exists(c => c.how == "stored" && c.rows == 40L && c.collected == 40L &&
      c.route == "cc=driver"), s"pair frame call: $call")
    assert(labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      (0L to 40L).map(_ -> 0L).toMap)
    // the driver-route labels are one partition: a sort over them plans
    // no range exchange
    val sorted = labels.orderBy("id")
    sorted.collect()
    assert(Materialize.exchanges(sorted.queryExecution.executedPlan) == 0,
      sorted.queryExecution.executedPlan.toString)
  }

  test("clusters: a materialized pair frame routes on its measured count, same labels") {
    // a caller that already materialized its pair frame passes it as is.
    // Under the cap the one bounded job stores it again and hands its
    // rows to the driver; over the cap its measured count routes the call
    // to the distributed loop with no job of its own. Labels must be
    // identical on BOTH routes.
    import spark.implicits._
    val plain = Seq((1L, 2L), (2L, 3L), (10L, 11L), (3L, 7L)).toDF("id_a", "id_b")
    val pairs = Materialize(plain, "DedupSpec pairs")
    assert(pairs.rows == 4L && Materialize.knownRows(pairs.df).contains(4L))
    val expected = Dedup.clusters(plain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // driver route (n ≤ default cap) and distributed route (cap below n)
    for (cap <- Seq(1L << 20, pairs.rows - 1)) {
      val got = Dedup.clusters(pairs.df, driverCap = cap).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"driverCap=$cap")
    }
    val (_, driver) = Trace(spark)(_.phase(Dedup.clusters(pairs.df)))
    assert(driver.jobs.size == 1, s"driver route ran ${driver.jobs.size} jobs " +
      "(want the one bounded job)")
    val call = driver.calls.find(_.site == "Dedup.clusters pairs")
    assert(call.exists(c => c.how == "stored" && c.collected == 4L && c.route == "cc=driver"),
      s"pair frame call: $call")
    val (_, over) = Trace(spark)(_.phase(Dedup.clusters(pairs.df, driverCap = 3L)))
    val overCall = over.calls.find(_.site == "Dedup.clusters pairs")
    assert(overCall.exists(c => c.how == "known" && c.route == "cc=distributed"),
      s"over-cap pair frame call: $overCall")
    assert(!over.jobs.exists(_.what.contains("Dedup.clusters pairs")),
      over.jobs.map(_.what).mkString("\n"))
  }

  test("agreement flag: measured truth and LocalRelation gates equal the measured-census form") {
    // (a) a materialized truth frame bounds the tids broadcast by its
    // measured count — |tids| ≤ 2·|truth| — so the tids frame is never
    // stored or counted; (b) a LocalRelation-backed assignment (the
    // driver-route clusters output) under the cap skips the semi-join
    // restriction and its materialization. Each path must equal the flag
    // over frames with no known count (a plain checkpoint's statistics are
    // estimates, so both are measured inside the operator), on agreeing
    // and disagreeing assignments.
    import spark.implicits._
    val dup = (0 until 3).map(i =>
        corpus.select((col("id") + lit(i * 1000L)).as("id"), col("text")))
      .reduce(_ unionByName _)
    val truthPlan = Dedup.exactJaccardWindowPairs(
      dup.select(col("id"), col("text")), tau = 0.5, window = 200)
    val truth = Materialize(truthPlan, "DedupSpec truth")
    assert(truth.rows >= 2, "fixture must plant truth pairs")
    val truthCk = truthPlan.localCheckpoint(false)
    assert(Materialize.knownRows(truthCk).isEmpty)
    // LocalRelation assignment straight from the driver-route clusters
    val goodLocal = Dedup.clusters(Dedup.minhashPairs(dup, threshold = 0.5))
    assert(Materialize.knownRows(goodLocal).isDefined,
      "fixture must exercise the LocalRelation gate")
    // the same labels with the gate defeated (checkpoint -> LogicalRDD)
    val goodCk = goodLocal.localCheckpoint(false)
    val badLocal = dup.select(col("id"), col("id").as("cluster"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      .toDF("id", "cluster")
    val badCk = badLocal.localCheckpoint(false)
    def flag(t: org.apache.spark.sql.DataFrame,
        a: org.apache.spark.sql.DataFrame): Boolean =
      Dedup.clusterAgreementFlag(t, a, 0.7, "ok")
    for (((gated, ungated), label) <- Seq(
        (goodLocal, goodCk) -> "agreeing", (badLocal, badCk) -> "disagreeing")) {
      val self = flag(truthCk, ungated)
      assert(flag(truthCk, gated) == self, s"$label: LocalRelation gate diverged")
      assert(flag(truth.df, ungated) == self, s"$label: measured truth gate diverged")
    }
  }

  test("minhashSignaturesArr over gramHashSets is bitwise-identical to minhashSignatures") {
    // ADVICE r14: the gramArr sharing plumbing guards a strong
    // correctness claim (same filter, same expression, row-local
    // explode) — pin it so re-enablement after an sf10 probe is safe.
    val viaArr = Dedup.minhashSignaturesArr(Dedup.gramHashSets(corpus))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val direct = Dedup.minhashSignatures(corpus)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(viaArr == direct)
  }

  /** The explode → groupBy(id) → 64 × min(xxhash64(h, p)) aggregate the
    * native MinHash kernel replaced: the reference it must equal.
    */
  private def aggregateMinhash(docs: org.apache.spark.sql.DataFrame) =
    docs.filter(trim(coalesce(col("text"), lit(""))) =!= "")
      .select(col("id"), explode(TextExprs.gramHashes(col("text"))).as("h"))
      .groupBy(col("id"))
      .agg(array((0 until 64).map(p => min(xxhash64(col("h"), lit(p)))): _*).as("mh"))

  /** 64-bit SimHash of a words array in built-in, higher-order form (its
    * lambdas run interpreted): bit b is set when the sum of per-word
    * contributions (+1 when bit b of xxhash64(word) is 1 else -1) is
    * positive; 0 for an empty array. The per-row reference the native
    * SimHash kernel must equal.
    */
  private def simhash(ws: Column): Column = {
    // SQL shifts with a column shift amount: the typed API only accepts
    // Int literals, and inside the lambdas the amount is a lambda variable
    def shr(e: Column, n: Column) = call_function("shiftright", e, n)
    def shl(e: Column, n: Column) = call_function("shiftleft", e, n)
    val bits = sequence(lit(0), lit(63))
    val counters = aggregate(
      transform(ws, w => xxhash64(w)),
      transform(bits, _ => lit(0)),
      (acc, h) => zip_with(acc, bits,
        (c, b) => c + when(shr(h, b).bitwiseAND(1) === 1, 1).otherwise(-1)))
    aggregate(
      zip_with(counters, bits,
        (c, b) => when(c > 0, shl(lit(1L), b)).otherwise(lit(0L))),
      lit(0L), (acc, v) => acc.bitwiseOR(v))
  }

  /** The words explode → groupBy(id) → 64 per-bit sign sums the native
    * SimHash kernel replaced: the reference it must equal.
    */
  private def aggregateSimhash(docs: org.apache.spark.sql.DataFrame) = {
    val h = xxhash64(col("w"))
    val sums = (0 until 64).map { b =>
      sum(when(shiftright(h, b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"c$b")
    }
    docs.select(col("id"), explode(Dedup.words(col("text"))).as("w"))
      .groupBy(col("id"))
      .agg(sums.head, sums.tail: _*)
      .select(col("id"), (0 until 64).map(b =>
          when(col(s"c$b") > 0, lit(1L << b)).otherwise(lit(0L)))
        .reduce(_ bitwiseOR _).as("sh"))
  }

  /** Texts at the kernels' edges: null, wordless (tab/newline-only passes
    * the trim filter, which strips only spaces), 1 and 2 words, repeated
    * words, unicode, mixed whitespace.
    */
  private def edgeDocs = {
    // ids 1000001.. stay clear of the test corpus' doc ids
    import spark.implicits._
    Seq(
      1000001L -> null.asInstanceOf[String],
      1000002L -> "\t\n\t",
      1000003L -> "",
      1000004L -> "   ",
      1000005L -> "word",
      1000006L -> "two words",
      1000007L -> "same same same same same",
      1000008L -> "to be or not to be to be",
      1000009L -> "MiXeD CaSe ÅÄÖ ß İstanbul ΣΊΣΥΦΟΣ 🙂 𝔘𝔫𝔦𝔠𝔬𝔡𝔢",
      1000010L -> "tabs\tand\nnewlines\r\nmixed   spaces",
      1000011L -> "  leading and trailing   ").toDF("id", "text")
  }

  private def corpusAndEdges = Tables.documents(spark, sfDir)
    .select(col("doc_id").as("id"), col("text")).unionByName(edgeDocs)

  private def minhashMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
  private def simhashMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("native minhash signatures equal the min-aggregate form bitwise") {
    val docs = corpusAndEdges
    val ref = minhashMap(aggregateMinhash(docs))
    assert(ref.size > 100 && !ref.contains(1000001L) && !ref.contains(1000002L) &&
      ref.contains(1000005L) && ref.contains(1000006L), "fixture must cover the edge docs")
    assert(minhashMap(Dedup.minhashSignatures(docs)) == ref)
    // the shared gram-frame form, live and materialized
    assert(minhashMap(Dedup.minhashSignaturesArr(Dedup.gramHashSets(docs))) == ref)
    assert(minhashMap(Dedup.minhashSignaturesArr(
      Dedup.gramHashSets(docs).localCheckpoint(true))) == ref)
  }

  test("native simhash equals the per-bit-sum aggregate and the higher-order form per row") {
    val docs = corpusAndEdges
    val ref = simhashMap(aggregateSimhash(docs))
    assert(ref.size > 100 && !ref.contains(1000001L) && !ref.contains(1000002L) &&
      ref.contains(1000005L), "fixture must cover the edge docs")
    assert(simhashMap(Dedup.simhashSignatures(docs)) == ref)
    // the higher-order row form, over the docs that have words
    val perRow = simhashMap(docs.filter(size(Dedup.words(col("text"))) > 0)
      .select(col("id"), simhash(Dedup.words(col("text")))))
    assert(perRow == ref)
  }

  test("signature plans are row-local and run each kernel once") {
    import org.apache.spark.sql.catalyst.expressions.Expression
    val docs = corpusAndEdges
    def kernels(df: org.apache.spark.sql.DataFrame): Map[String, Int] =
      df.queryExecution.optimizedPlan.collect { case n =>
        n.expressions.flatMap(_.collect { case e: Expression => e.getClass.getSimpleName })
      }.flatten.groupBy(identity).map { case (k, v) => k -> v.size }
    val plans = Seq(
      ("minhashSignatures", Dedup.minhashSignatures(docs),
        Map("GramHashes" -> 1, "MinHashSignature" -> 1)),
      ("minhashSignaturesArr (live)", Dedup.minhashSignaturesArr(Dedup.gramHashSets(docs)),
        Map("GramHashes" -> 1, "MinHashSignature" -> 1)),
      ("minhashSignaturesArr (checkpointed)",
        Dedup.minhashSignaturesArr(Dedup.gramHashSets(docs).localCheckpoint(true)),
        Map("GramHashes" -> 0, "MinHashSignature" -> 1)),
      ("simhashSignatures", Dedup.simhashSignatures(docs),
        Map("SimHashSignature" -> 1)))
    for ((name, df, want) <- plans) {
      val physical = df.queryExecution.executedPlan.toString
      assert(!physical.contains("Exchange") && !physical.contains("HashAggregate"),
        s"$name is not row-local:\n$physical")
      val got = kernels(df)
      want.foreach { case (k, n) =>
        assert(got.getOrElse(k, 0) == n, s"$name: $k appears ${got.getOrElse(k, 0)}x, want $n\n" +
          df.queryExecution.optimizedPlan)
      }
    }
  }

  test("embedding pairs: planted near-identical vectors found above a sharp threshold, orthogonal not paired") {
    import spark.implicits._
    // 21 is 20 + tiny noise (cosine ~0.9999); 22 is orthogonal to 20;
    // 23 is anti-parallel (cosine -1). With threshold 0.95 only the
    // planted near-dup pair must survive — far sharper than the synthetic
    // corpus's 0.3 gate (VERDICT r1 next-round item 9).
    val emb = Seq(
      (20L, Array(1.0f, 0.0f, 2.0f, 0.5f)),
      (21L, Array(1.001f, 0.002f, 1.999f, 0.5f)),
      (22L, Array(0.0f, 1.0f, 0.0f, -4.0f)),
      (23L, Array(-1.0f, 0.0f, -2.0f, -0.5f))
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingPairs(emb, window = 10, threshold = 0.95)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((20L, 21L)))
  }

  test("an over-cap bucket's pairs are dropped, an in-cap pair is kept") {
    import spark.implicits._
    // MaxBucket + 1 identical docs share every band (minhash) and chunk
    // (simhash) bucket, so each of their buckets is over the cap and none
    // of their pairs is emitted; an identical pair next to them has
    // buckets of 2 and is kept. The declared queries' recall flags
    // measure what the cap costs on a real corpus.
    val overCap = (1 to Dedup.MaxBucket + 1).map(i =>
      (1000L + i, "alpha beta gamma delta epsilon zeta"))
    val corpus = (overCap ++ Seq(
      (21L, "omicron sigma tau upsilon phi chi"),
      (22L, "omicron sigma tau upsilon phi chi"))).toDF("id", "text")
    for ((name, df) <- Seq(
        "simhash" -> Dedup.simhashPairs(corpus),
        "minhash" -> Dedup.minhashPairs(corpus))) {
      val pairs = df.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == Set((21L, 22L)),
        s"$name: over-cap pairs dropped, in-cap pair kept — got ${pairs.size}, " +
          s"e.g. ${pairs.take(3)}")
    }
  }

  test("EqualSlots counts null slots as not-equal in both eval modes") {
    // ADVICE r4: the unguarded getLong read a null slot as raw 0, so two
    // null slots counted as equal — diverging from the zip_with fold it
    // replaced (x === y is NULL there, counted as not-equal). Unreachable
    // from minhash signatures (min-aggregates of non-null hashes), but
    // the kernel is public: pin the fold semantics on null-bearing input.
    val df = spark.sql(
      "SELECT array(1L, 2L, NULL, 7L) AS a, array(1L, NULL, NULL, 8L) AS b")
    // codegen path (plain projection)
    val cg = df.select(graft.functions.VectorExprs
        .equalSlots(col("a"), col("b")).as("c"))
      .first().getInt(0)
    assert(cg == 1, s"codegen: $cg")
    // interpreted path — inside a HOF lambda, exactly how minhashPairs
    // evaluates it during pair emission
    val interp = df.select(element_at(
        transform(array(struct(col("a"), col("b"))), s =>
          graft.functions.VectorExprs.equalSlots(
            s.getField("a"), s.getField("b"))), 1).as("c"))
      .first().getInt(0)
    assert(interp == 1, s"interpreted: $interp")
  }

  test("shingles: short docs degrade to whole-text shingle") {
    import spark.implicits._
    val rows = Seq((1L, "one two"), (2L, "one")).toDF("id", "text")
      .select(col("id"), Dedup.shingles(Dedup.words(col("text"))).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(rows(1L) == Seq("one two"))
    assert(rows(2L) == Seq("one"))
  }

  test("oracle-harness SFs plant non-empty truth; measured recall near recorded") {
    // ADVICE r10 (two items). (a) withPairRecallFlag is vacuously TRUE on
    // an EMPTY truth frame — zero declared rows would pass the driver's
    // hash gate while a dead candidate path went unchecked. Guard every SF
    // the oracle harness actually runs (sf0.01 Verify, sf0.1 Bench,
    // sf0.001 specs): each must plant window truth pairs, keeping the
    // flag's trip-wire armed.
    def truthAt(sf: String) = Dedup.exactJaccardWindowPairs(
      spark.read.parquet(s"/root/testdata/sf$sf/documents.parquet")
        .select(col("doc_id").as("id"), col("text")),
      tau = 0.5, window = 200)
    Seq("0.01", "0.1").foreach { sf =>
      assert(truthAt(sf).limit(2).count() == 2,
        s"sf$sf truth frame must plant >=2 window pairs")
    }
    // (b) the declared simhash bound (0.25) is deliberately loose for
    // unknown corpora, so a regression that halves recall keeps the query
    // flag green. Pin MEASURED recall on this corpus near its recorded
    // value instead (DedupRecallProbe r10: minhash 1.0, simhash 0.722 at
    // sf0.001) — a broken band/chunk moves these; the loose bound stays
    // for corpora with genuine boundary pairs.
    val truth = truthAt("0.001").select("id_a", "id_b").localCheckpoint()
    val nTruth = truth.count()
    assert(nTruth >= 2, "sf0.001 truth frame must plant >=2 window pairs")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id").as("id"), col("text"))
    def recall(cand: org.apache.spark.sql.DataFrame): Double =
      truth.join(cand.select("id_a", "id_b").filter(
          col("id_b") - col("id_a") <= 200),
        Seq("id_a", "id_b"), "left_semi").count().toDouble / nTruth
    val mh = recall(Dedup.minhashPairs(docs, threshold = 0.5))
    val sh = recall(Dedup.simhashPairs(docs, maxDist = 3))
    assert(mh >= 0.9, s"minhash recall $mh regressed from recorded 1.0")
    assert(sh >= 0.6, s"simhash recall $sh regressed from recorded 0.722")
  }
}
