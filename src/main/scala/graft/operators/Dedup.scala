package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Materialize

/** Near-duplicate detection for LLM training-data pipelines (SURVEY.md §2
  * B20). Everything is codegen'd — no UDFs on the hot path — so it stays
  * inside whole-stage codegen and scales by partitioning alone:
  *
  *  - exact:   hash-groupBy on normalized text (one shuffle on the hash).
  *  - minhash: shingle -> 64 minhashes -> LSH bands -> candidate pairs via a
  *             self-equi-join on (band_id, band_hash). The signature is a
  *             row-local native kernel, so at 100 TB the band
  *             join is the only shuffle and its key space is uniform by
  *             construction (hashes); the quadratic blowup inside a bucket
  *             is bounded because equal band-hashes imply near-identical
  *             docs (AQE skew-join splits any residual hot bucket).
  *  - simhash: 64-bit sign-aggregated fingerprint (row-local native
  *             kernel), banded into 4x16-bit chunks for Hamming-near
  *             candidate generation.
  *
  * The gram and signature kernels are native codegen'd expressions
  * ([[graft.functions.TextExprs]]); the rest is built-ins.
  *
  * Determinism: all hashing is Spark's xxhash64 (seed fixed) — stable across
  * runs/partitionings; pair outputs are canonically ordered (id_a < id_b).
  */
object Dedup {

  /** SQL shiftright with a column shift amount (the typed API only accepts
    * Int literals; inside HOF lambdas the amount is a lambda variable).
    */
  private def shr(e: Column, n: Column): Column =
    call_function("shiftright", e, n)

  /** MinHash permutations per signature. */
  private val NumPerm = 64
  /** Signature slots per LSH band: 16 bands of 4. */
  private val BandRows = 4
  /** Bound on [[clusters]]' pointer-jumping rounds: 64 rounds cover chains
    * 2^64 deep, so it is a pathology guard, never a truncation.
    */
  private val MaxRounds = 64
  /** [[survivorsExactFirst]]' keep-side broadcast cap: 2^22 bare long ids,
    * about 32 MB.
    */
  private val KeepBroadcastRows = 1L << 22
  /** [[clustersExactFirst]]' expansion-side broadcast cap: 2^17 (text,
    * cluster) rows, 100–300 MB at typical document sizes.
    */
  private val ExpandBroadcastRows = 1L << 17
  /** [[bucketPairs]]' bucket cap: a larger LSH bucket is dropped, not
    * paired (the recall trade of [[minhashPairs]] and [[simhashPairs]]).
    */
  val MaxBucket = 256

  /** Lowercased, whitespace-split, empty-dropped words of a text column. */
  def words(text: Column): Column =
    filter(split(lower(trim(text)), "\\s+"), w => length(w) > 0)

  /** w-word shingles of a words array (distinct), as strings. */
  def shingles(ws: Column, w: Int = 3): Column = {
    val n = size(ws)
    array_distinct(
      when(n >= w,
        transform(sequence(lit(0), n - w),
          i => array_join(slice(ws, i + 1, lit(w)), " ")))
        .otherwise(array(array_join(ws, " "))))
  }

  /** (id, g): per-doc DISTINCT gram-hash arrays, computed entirely
    * row-locally — ZERO shuffles (r11; replaces the explode +
    * lead()-window shape, which shuffled EVERY gram occurrence by id
    * just to line up consecutive word hashes — the ~21.5 GB sort spill
    * of the sf100 truth-frame cell was exactly that exchange). The gram
    * pass is the native [[graft.functions.TextExprs.gramHashes]] kernel:
    * each word hashed once, a gram's hash the fixed-width combination of
    * the 3 consecutive word hashes, no gram STRING ever built, one tight
    * codegen'd loop per doc (the HOF transform()/element_at formulation
    * kept the values but ran interpreted — measured 2–12× slower
    * depending on how the optimizer duplicated it; rationale at the
    * kernel). Values are IDENTICAL to the window shape's (same xxhash64
    * compositions; GramHashSpec pins the per-row equality, PropertySpec
    * the brute-force jaccard, and all oracle rows are unchanged): docs
    * >= 3 words get their word trigram hashes, shorter docs one
    * whole-text gram (mirrors [[shingles]]' degenerate case), null/blank
    * texts are absent — matching the old aggregate's no-rows-no-group
    * domain. Hashing is injective-in-practice (64-bit), so set sizes and
    * intersections over hashes equal those over the gram strings.
    *
    * The blank filter runs on trim(text) — cheap and pushdown-safe; a
    * size(g) > 0 filter instead would let predicate pushdown substitute
    * the gram kernel into the filter and evaluate it twice per row.
    */
  def gramHashSets(docs: DataFrame): DataFrame =
    docs.filter(trim(coalesce(col("text"), lit(""))) =!= "")
      .select(col("id"),
        graft.functions.TextExprs.gramHashes(col("text")).as("g"))

  /** Exact word-trigram Jaccard pairs inside a doc-id blocking window —
    * the SQL-expressible exact near-dup shape (`q_dedup_ngram_jaccard`,
    * and since r10 the declared truth frame of the minhash/simhash pair
    * queries). Grams are 64-bit hashes, never gram strings — 1-1 with
    * string trigrams on this corpus (TextSpec asserts the preconditions),
    * so intersection/set sizes and therefore jaccard are bitwise-equal to
    * a string-gram oracle.
    *
    * Shape: an INVERTED-INDEX self-equi-join on (gram hash, id BLOCK) —
    * the classic exact set-similarity join with the blocking window
    * folded INTO the join key. `|a ∩ b|` is the per-pair count of
    * matching gram rows, so no gram array is ever materialized or
    * intersected, and pairs sharing zero grams (the overwhelming bulk of
    * a window: 91% on this corpus) never exist at all. The first r10 form
    * exploded every in-window id and array_intersect'ed full gram sets —
    * O(window × corpus) intersect calls put q_dedup_minhash at 5.1 s
    * (sf0.1); the plain hash-only join that replaced it was measured 3.2×
    * cheaper there but left the window as a RESIDUAL filter, so a
    * duplication-heavy corpus (sf100's 1000 identical copies per text)
    * still paid O(df²) hash-matched candidates per gram before the filter
    * dropped them. Folding `floor(id/window)` into the key (the a-side
    * explodes to its own and the next block; an in-window pair lands in
    * exactly one of the two) bounds in-bucket work to the ids inside a
    * 2×window span SHARING THE GRAM — O(window) per occurrence even for
    * a stop gram shared by every doc, duplication-immune by construction.
    * `docs` must have (id, text); output (id_a, id_b, jaccard), unordered.
    */
  def exactJaccardWindowPairs(docs: DataFrame, tau: Double,
      window: Int): DataFrame = {
    // What's materialized ONCE is the PER-DOC GRAM ARRAY frame (r11) —
    // one row per doc, array-encoded longs, no id repeated per gram —
    // not the exploded (id, h) rows the r10 form checkpointed. Both join
    // sides and the sizes projection read it; consumers explode
    // ROW-LOCALLY from the checkpoint, so the gram-occurrence shuffle
    // that dominated the sf100 cell (the r10 shape's lead()-window
    // needed every gram row shuffled by id BEFORE the checkpoint: the
    // ~21.5 GB of sort spill in BASELINE.md r11 "Truth-frame
    // checkpoint-vs-recompute A/B" was exactly that exchange) is gone,
    // and `sizes` is a plain size(g) projection — the per-doc count
    // aggregate and its shuffle with it.
    // EAGER since r12: a lazy checkpoint here is NOT materialized once —
    // AQE submits the join's a-side and b-side map stages together, they
    // RACE to compute the lazy checkpoint's partitions, and each runs
    // the full gram kernel for blocks the other also computes (the
    // losing store is discarded — the `Block rdd_N already exists`
    // warnings every truth construct logged). BASELINE.md r12 "Eager
    // gram-array checkpoint", order-controlled A/B at sf10: eager 9.5 s
    // warm-min vs lazy 11.6 s, and 13.3 vs 58.2 s in a cold-FS window
    // (the race doubles exactly the file-create-storm-prone work this
    // host class hates).
    // The price is one dedicated driver round-trip per truth construct
    // (~tens of ms; JobBudgetSpec ceilings re-recorded deliberately).
    // Recomputing the gram subplan per consumer instead measured 1.7× the
    // wall at identical peak disk (BASELINE.md r11).
    val arr = Materialize(gramHashSets(docs), "Dedup.exactJaccardWindowPairs grams").df
    val sizes = arr.select(col("id"), size(col("g")).as("n"))
    val rows = arr.select(col("id"), explode(col("g")).as("h"))
    val blk = floor(col("id") / window).cast("long")
    // a-side rows carry (own block, next block): pair (a,b) with
    // a < b ≤ a+window has floor(b/w) ∈ {floor(a/w), floor(a/w)+1} and
    // matches on exactly ONE of the two (blk_b is single-valued), so no
    // pair dedup is needed
    val inter = rows
      .select(col("id").as("id_a"), col("h"),
        explode(array(blk, blk + 1)).as("blk"))
      .join(rows.select(col("id").as("id_b"), col("h"), blk.as("blk")),
        Seq("h", "blk"))
      .filter(col("id_b") > col("id_a") &&
        col("id_b") <= col("id_a") + window)
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select(col("id").as("id_a"), col("n").as("n_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("n").as("n_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        (col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter"))).as("jaccard"))
      .filter(col("jaccard") >= tau)
  }

  /** Truth rows + a genuine recall flag of a candidate pair set — the
    * flag of the exact-plus-genuine-flag oracle pattern, for the dedup
    * pair queries (a corpus-blocking truth frame against minhash/simhash
    * candidates) and the kNN queries (a sampled exact top-k against the
    * LSH/IVF top-k). The marked join is materialized once, and the same
    * job counts its rows and its hits (a sum fold over the hit mark), so
    * the flag is a literal: no flag aggregate, window or broadcast runs in
    * the returned plan, and the hit count is retry-safe. `candidates` must
    * be unique per (id_a, id_b) — true of minhashPairs/simhashPairs'
    * dropDuplicates outputs and of every top-k. Empty truth ⇒ zero output
    * rows (the flag is vacuous). Makes the caller eager.
    */
  def withPairRecallFlag(truth: DataFrame, candidates: DataFrame,
      bound: Double, name: String): DataFrame = {
    val marked = Materialize(truth.join(
        candidates.select(col("id_a"), col("id_b"), lit(true).as("__hit")),
        Seq("id_a", "id_b"), "left"),
      s"Dedup.withPairRecallFlag $name", Materialize.sum("__hit"))
    // the aggregate's own arithmetic: hits >= double(rows) * bound
    val ok = marked.sum(0) >= marked.rows.toDouble * bound
    marked.route(name, ok.toString)
    marked.df.drop("__hit").withColumn(name, lit(ok))
  }

  /** Measured cluster-agreement flag of a cluster `assignment` against
    * a `truth` pair frame: TRUE when ≥ `bound` of the truth pairs get the
    * same assignment cluster on both endpoints (null-safe =: an endpoint
    * missing from the assignment compares unequal, counting against the
    * bound — the genuine-risk arm of the oracle pattern). The assignment
    * side is RESTRICTED to the ids the truth frame mentions before the
    * two endpoint joins, via a census-gated broadcast left-semi: the
    * truth frame is pairs-sized (×10/decade by construction at the
    * declared blocking window) while the assignment is CORPUS-sized on a
    * duplication-adversarial corpus (with d copies of every text, every
    * doc sits in an exact clique, so every doc carries a label — at sf100
    * that is 5 M assignment rows against 21 k truth pairs). The r11 query
    * shape joined the full assignment twice — two corpus-sized shuffle
    * joins plus a corpus-sized caller checkpoint, probe-attributed this
    * round as the ×1.4/decade excess of `q_dedup_clusters_exact_first`
    * over its additive-linear sibling (VERDICT r11 item 1). A left join
    * only ever READS assignment rows at truth ids, so the restriction is
    * value-identical (DedupSpec pins it against the unrestricted form).
    *
    * Truth ⋈ both endpoints is materialized once, and the same job counts
    * its rows and sums "same cluster" (retry-safe), so the caller gets the
    * measured Boolean and declares it as a literal column.
    *
    * `truth` must expose (id_a, id_b) and should be materialized by the
    * caller (it usually also feeds the declared CC). `assignment` must
    * expose (id, cluster) and needs NO caller-side materialization: the
    * restricted frame is materialized here and is the assignment's only
    * consumer, so its subplan — including [[clustersExactFirst]]'s
    * corpus-wide expansion join — still executes exactly once.
    *
    * `broadcastCap` is a ROW count, and the broadcast rows are (id,
    * cluster) pairs of 2 longs: the default 2^22 admits ~64 MB at worst
    * (the tids side, bare longs, ~32 MB) — past the 10 MB
    * autoBroadcastJoinThreshold, so the measured counts drive explicit
    * broadcast hints.
    */
  def clusterAgreementFlag(truth: DataFrame, assignment: DataFrame,
      bound: Double, name: String,
      broadcastCap: Long = 1L << 22): Boolean = {
    // the measured endpoint-join tail: `small` must expose (id, cluster);
    // `endpoint` is the gate deciding whether both endpoint sides broadcast
    def agreement(small: DataFrame, endpoint: DataFrame => DataFrame): Boolean = {
      val same = Materialize(truth
          .join(endpoint(small.select(col("id").as("id_a"), col("cluster").as("__ca"))),
            Seq("id_a"), "left")
          .join(endpoint(small.select(col("id").as("id_b"), col("cluster").as("__cb"))),
            Seq("id_b"), "left")
          .select((col("__ca") === col("__cb")).as("__same")),
        s"Dedup.clusterAgreementFlag $name", Materialize.sum("__same"))
      // the former aggregate's arithmetic: same >= double(rows) * bound
      val ok = same.sum(0) >= same.rows.toDouble * bound
      same.route(name, ok.toString)
      ok
    }
    // An assignment whose exact row count the driver already has — the
    // driver route of clusters() returns a LocalRelation — is broadcast
    // directly when it fits: the semi-join restriction exists only to
    // shrink a CORPUS-sized distributed assignment, and a left join reads
    // the same assignment rows either way (DedupSpec pins this path
    // against the restricted one). Two consumers re-read literal rows,
    // never a subplan.
    if (Materialize.knownRows(assignment).exists(_ <= broadcastCap))
      return agreement(assignment, broadcast(_))
    val tidsPlan = truth.select(col("id_a").as("id"))
      .union(truth.select(col("id_b").as("id")))
      .distinct()
    // |tids| ≤ 2 × |truth pairs| by construction, so a measured truth
    // frame bounds the tids broadcast without a job, and the semi join is
    // the distinct subplan's only consumer (it executes once, inside the
    // restricted frame's materialization). Otherwise tids is measured.
    val keys =
      if (Materialize.knownRows(truth).exists(_ <= broadcastCap / 2)) broadcast(tidsPlan)
      else {
        val tids = Materialize(tidsPlan, s"Dedup.clusterAgreementFlag $name tids")
        tids.broadcastIf("tids", tids.rows <= broadcastCap)(tids.df)
      }
    // Materialized: both endpoint joins below read it in one query
    // execution, and without it the whole assignment subplan would run
    // once per side. The endpoint broadcasts are gated on the restricted
    // frame's OWN count, not the tids one (ADVICE r12): the semi join
    // bounds |small| ≤ |tids| only when the assignment carries at most
    // one row per id — true of every current caller (cluster labelings),
    // but a caller with duplicated labels would otherwise blow a
    // tids-derived broadcast budget silently.
    val small = Materialize(assignment.join(keys, Seq("id"), "left_semi"),
      s"Dedup.clusterAgreementFlag $name restricted")
    agreement(small.df, small.broadcastIf("endpoints", small.rows <= broadcastCap) _)
  }

  /** (id, name) rows of a row-local signature `sig`, without the rows
    * where it is null (a doc with no grams or words: the aggregates these
    * kernels replaced had no group for it). The null rows are dropped
    * AFTER a generator: a filter on a generator's output cannot be pushed
    * below it, so the kernel runs once per row. A plain isNotNull (or
    * size > 0) filter over the projection would be rewritten by predicate
    * pushdown into a second kernel call inside the filter.
    */
  private def signatureRows(df: DataFrame, sig: Column, name: String): DataFrame =
    df.select(col("id"), explode(array(sig)).as(name))
      .filter(col(name).isNotNull)

  /** (id, mh) signature table: slot p of a doc's signature is the minimum
    * over its distinct gram hashes h of xxhash64(h, p). One row-local
    * pass — the gram kernel feeding the native
    * [[graft.functions.TextExprs.minhash]] kernel, with no per-gram rows,
    * exchange or aggregate. The former explode → groupBy(id) → 64 × min(xxhash64(h,
    * p)) aggregate gave bitwise-identical signatures (DedupSpec keeps it as
    * the reference) but paid a doc-sized shuffle, its stage job and one of
    * the two largest generated classes of a dedup query. Docs with no
    * grams (null or whitespace-only text) have no row.
    */
  def minhashSignatures(docs: DataFrame): DataFrame =
    signatureRows(docs, graft.functions.TextExprs.minhash(
      graft.functions.TextExprs.gramHashes(col("text")), NumPerm), "mh")

  /** [[minhashSignatures]] from a caller-supplied gram-array frame (the
    * [[gramHashSets]] shape): the same kernel over `g`, so the signatures
    * are bitwise-identical while the gram kernel pass is shared with the
    * truth frame (r14 — see [[exactJaccardWindowPairs]]). Rows with an
    * empty `g` have no signature row.
    */
  def minhashSignaturesArr(arr: DataFrame): DataFrame =
    signatureRows(arr, graft.functions.TextExprs.minhash(col("g"), NumPerm), "mh")

  /** LSH band keys: split the signature into bands of `BandRows` values
    * and hash each band; a shared (band index, band hash) pair => candidate
    * pair. The band hash feeds the band's longs to xxhash64 directly — no
    * string materialization per band.
    */
  def bandKeys(mh: Column): Column =
    transform(sequence(lit(0), (size(mh) / lit(BandRows)).cast("int") - 1),
      b => struct(b.as("band"),
        xxhash64((1 to BandRows).map(i => element_at(mh, b * BandRows + i)): _*).as("bh")))

  /** Candidate near-dup pairs (id_a < id_b) whose estimated Jaccard (equal
    * minhash fraction) is >= threshold. `docs` must have (id, text).
    *
    * Shape: one signature pass, explode band keys, group by band key, and
    * emit in-bucket pairs from the collected member list — the signature
    * subplan runs ONCE (a band-key self-join recomputed it per side,
    * measured ~2x the total cost). Buckets larger than [[MaxBucket]] are
    * dropped: a mega-bucket means hundreds of near-identical docs, and
    * the quadratic pair blowup inside it is exactly what kills the job
    * at 100 TB. NOTE this is a deliberate recall trade: a pair whose
    * every shared band lands in a >MaxBucket bucket is LOST — run exact
    * dedup first (it collapses identical text, the main mega-bucket
    * source) where completeness matters more than the worst-case blowup.
    * The trade is never silent: the declared queries measure its recall
    * against an exact truth frame ([[withPairRecallFlag]],
    * [[clusterAgreementFlag]]), each flag a [[graft.Materialize]] fold
    * whose route is in the trace.
    */
  def minhashPairs(docs: DataFrame, threshold: Double = 0.5): DataFrame =
    bucketPairs(
      minhashSignatures(docs)
        .select(col("id"), col("mh"), explode(bandKeys(col("mh"))).as("bk")),
      "bk", "mh",
      // signature agreement via the native EqualSlots kernel — the HOF
      // zip_with/aggregate fold paid ~64 interpreted lambda dispatches
      // plus an intermediate array PER CANDIDATE PAIR, which dominates
      // once duplication inflates pair counts (same count, same cast,
      // bitwise-equal est_jaccard)
      "est_jaccard", (a, b) =>
        graft.functions.VectorExprs.equalSlots(a, b).cast("double") / NumPerm,
      _ >= threshold)

  /** In-bucket candidate pairs: group `keyed` (id, `sig`, `key`) by `key`,
    * drop buckets outside [2, [[MaxBucket]]], and emit every (id_a < id_b)
    * pair of a bucket's members with `score` computed from the two
    * signatures, keeping those that pass `keep`. A pair that shares
    * several buckets is emitted once.
    */
  private def bucketPairs(keyed: DataFrame, key: String, sig: String,
      score: String, scoreOf: (Column, Column) => Column,
      keep: Column => Column): DataFrame = {
    val m = col("members")
    keyed.groupBy(col(key))
      .agg(collect_list(struct(col("id"), col(sig))).as("members"))
      .filter(size(m).between(2, MaxBucket))
      .select(explode(flatten(
        transform(m, (a, i) =>
          transform(slice(m, i + 2, size(m)), b =>
            struct(
              least(a.getField("id"), b.getField("id")).as("id_a"),
              greatest(a.getField("id"), b.getField("id")).as("id_b"),
              scoreOf(a.getField(sig), b.getField(sig)).as(score)))))).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
        col(s"p.$score").as(score))
      .filter(keep(col(score)))
      .dropDuplicates("id_a", "id_b")
  }

  /** (id, sh) simhash table: the 64-bit SimHash of each doc's [[words]], one
    * row-local projection through the native
    * [[graft.functions.TextExprs.simhash]] kernel. The former words
    * explode → groupBy(id) → 64 per-bit sign sums gave bitwise-identical
    * fingerprints (DedupSpec keeps it as the reference) at the cost of a
    * doc-sized shuffle, its stage job and one of the two largest
    * generated classes of a dedup query. Docs with no words (null or
    * whitespace-only text) have no row.
    */
  def simhashSignatures(docs: DataFrame): DataFrame =
    signatureRows(docs, graft.functions.TextExprs.simhash(col("text")), "sh")

  /** Min-id components of collected (id_a, id_b) long pairs by driver-side
    * union-find (path-halving, then a min-id relabel) — [[clusters]]'
    * driver route. The labels are one partition, so a sort or an
    * aggregate over them plans no exchange.
    */
  private def driverComponents(spark: org.apache.spark.sql.SparkSession,
      rows: Seq[org.apache.spark.sql.Row]): DataFrame = {
    import spark.implicits._
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    rows.foreach { row =>
      val a = row.getLong(0); val b = row.getLong(1)
      if (!parent.contains(a)) parent(a) = a
      if (!parent.contains(b)) parent(b) = b
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(ra) = rb
    }
    val minOf = scala.collection.mutable.LongMap.empty[Long]
    parent.keys.foreach { id =>
      val r = find(id)
      minOf(r) = math.min(minOf.getOrElse(r, id), id)
    }
    parent.keys.toSeq.map(id => (id, minOf(find(id)))).toDF("id", "cluster").coalesce(1)
  }

  /** Connected components over a near-dup pair list (id_a < id_b): each
    * node's cluster id is the minimum id reachable from it — the "keep one
    * doc per near-dup CLUSTER" step after pair generation. Iterative
    * min-label propagation: O(cluster diameter) joins, each a shuffled
    * equi-join on id; near-dup clusters are shallow (dups of dups of one
    * original), so few iterations in practice; `MaxRounds` bounds
    * pathology.
    *
    * ADAPTIVE ROUTING (r7, same census discipline as [[Ntile.exact]]):
    * the distributed loop costs ~0.6 s/round in driver-synced job
    * overhead REGARDLESS of graph size — profiled 1.7 s on a 256-edge
    * graph, pure fixed cost across the 4 dedup-family bench queries.
    * The pair frame is stored before the loop anyway, in one
    * [[graft.Materialize.bounded]] job that also counts it and hands the
    * driver its pairs when at most `driverCap` exist (default 2^20 — at
    * most 2^20 + P long pairs, about 16 MB, the same order Spark itself
    * moves for a broadcast join). With long-typed ids those pairs go
    * straight to driver-side union-find (path-halving + min-id relabel,
    * microseconds at that size); the bidirectional explode, distinct and
    * dst repartition are built only on the distributed route (r14).
    * Larger graphs — the 100 TB case — take the unchanged pointer-jumping
    * loop. Identical labels by construction (both compute
    * min-id-per-component; DedupSpec pins the two routes equal on the same
    * graph). `driverCap = 0` forces the distributed loop.
    *
    * `driverCap` bounds RAW PAIRS as passed: the contract allows duplicate
    * pairs, so a duplicate-heavy input can exceed the cap and take the
    * distributed loop even when its DISTINCT graph would fit (perf-only,
    * ADVICE r14).
    *
    * A `pairs` frame whose count the driver already has over the cap (a
    * frame the caller materialized, or a local relation) is not stored
    * again: its count routes the call to the loop with no job of its own.
    */
  def clusters(pairs: DataFrame, driverCap: Long = 1L << 20): DataFrame = {
    val ab = pairs.select(col("id_a"), col("id_b"))
    val longIds = Seq("id_a", "id_b").forall(c =>
      ab.schema(c).dataType == org.apache.spark.sql.types.LongType)
    val pairsM =
      if (driverCap > 0 && longIds && !Materialize.knownRows(ab).exists(_ > driverCap))
        Materialize.bounded(ab, "Dedup.clusters pairs", math.min(driverCap, Int.MaxValue).toInt)
      else Materialize(ab, "Dedup.clusters pairs")
    if (pairsM.local.nonEmpty) {
      pairsM.route("cc", "driver")
      return driverComponents(pairs.sparkSession, pairsM.local.get)
    }
    pairsM.route("cc", "distributed")
    val pairsCk = pairsM.df

    // ---- distributed route (the 100 TB path) -------------------------
    // Both edge directions explode from the materialized pair frame (one
    // evaluation of the pair-generation subplan either way; a union of
    // pairs with pairs-swapped would have executed it once PER UNION
    // SIDE — measured ~2s of the dedup family's bench time in r7).
    // distinct() stays: the operator's contract only asks for
    // (id_a < id_b) pairs, not uniqueness.
    // Pointer-jumping propagation: each round takes (a) the min over
    // 1-hop neighbors AND (b) the label OF the current label (path
    // compression) — chains collapse in O(log diameter) rounds, so
    // `MaxRounds` rounds cover chains up to ~2^MaxRounds deep.
    // Materializing each round truncates the lineage (without it round
    // N's plan embeds all previous rounds and both Catalyst analysis and
    // re-execution blow up — measured). Round-cost design
    // (the r1 shape ran 15x SLOWER with 8x more cores — fixed per-job
    // overhead, VERDICT r1 §wrong.5):
    //  - edges are hash-partitioned by dst BEFORE the one-time
    //    checkpoint, so the per-round edge⋈label join never re-shuffles
    //    the (bigger) edge side;
    //  - the jump joins through the PREVIOUS generation's materialized
    //    labels, not the round's own hop frame — a hop-with-hop self-join
    //    re-executed the whole round subplan per side. Labels only ever
    //    decrease and old labels are still reachable-from ancestors, so
    //    jumping through the previous generation stays monotone-correct;
    //  - convergence is a per-row `changed` flag computed inside the
    //    round and folded ("any changed") into the round's own
    //    materialization job — the exceptAll comparison launched an extra
    //    full two-sided shuffle job every round, and the limit-1 probe
    //    that replaced it one more job per round.
    val edgesCk = Materialize.deferred(pairsCk
      .select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()
      .repartition(col("dst")), "Dedup.clusters edges")

    var labels = Materialize(edgesCk.select(col("src").as("id")).distinct()
      .withColumn("cluster", col("id")), "Dedup.clusters labels").df
    var iter = 0
    var done = false
    // run TO CONVERGENCE — the per-row `changed` flag is the exit, and
    // MaxRounds is a loud pathology bound, never a silent truncation: at 8
    // rounds a >2^8-deep chain would have returned multi-label components
    // and quietly broken the "identical labels by construction" contract
    // with the driver route. 64 rounds cover 2^64-deep chains (more nodes
    // than long ids), so the require is unreachable for any real graph;
    // converged graphs still exit at their own round count, so the
    // common-case cost is unchanged.
    while (!done) {
      require(iter < MaxRounds,
        s"connected components did not converge in $MaxRounds rounds")
      val nbrMin = edgesCk
        .join(labels.select(col("id").as("dst_id"), col("cluster").as("dst_cluster")),
          col("dst") === col("dst_id"))
        .groupBy(col("src")).agg(min(col("dst_cluster")).as("nbr_cluster"))
      val hop = labels
        .join(nbrMin, labels("id") === nbrMin("src"), "left")
        .select(labels("id"), col("cluster").as("old_cluster"),
          least(col("cluster"), coalesce(col("nbr_cluster"), col("cluster")))
            .as("hop_cluster"))
      val anc = labels
        .select(col("id").as("anc_id"), col("cluster").as("anc_cluster"))
      val jumped = hop
        .join(anc, col("hop_cluster") === col("anc_id"), "left")
        .select(col("id"), col("old_cluster"),
          least(col("hop_cluster"), coalesce(col("anc_cluster"), col("hop_cluster")))
            .as("cluster"))
        .select(col("id"), col("cluster"),
          (col("cluster") =!= col("old_cluster")).as("changed"))
      val round = Materialize(jumped, s"Dedup.clusters round $iter",
        Materialize.any("changed"))
      done = !round.any(0)
      labels = round.df.select(col("id"), col("cluster"))
      iter += 1
    }
    labels
  }

  /** The whole near-dedup pipeline as one operator: MinHash-LSH candidate
    * pairs -> connected components -> keep the minimum id per cluster
    * (docs in no cluster survive untouched). `docs` needs (id, text);
    * passthrough columns survive with the rows. This is the composition a
    * training pipeline actually runs — at 100 TB every stage is the
    * bucketed/keyed shape pinned by its own spec, and the final keep is a
    * left join against the (far smaller) label table.
    */
  def survivors(docs: DataFrame, threshold: Double = 0.5): DataFrame = {
    val labels = clusters(minhashPairs(docs.select(col("id"), col("text")), threshold))
    docs.join(labels, Seq("id"), "left")
      .filter(col("cluster").isNull || col("cluster") === col("id"))
      .drop("cluster")
  }

  /** [[survivors]] with EXACT dedup run first — the documented mitigation
    * for duplicate-heavy corpora made into an operator (the minhash
    * scaladoc above has always said "run exact dedup first"; this is that
    * composition, result-pinned). Identical texts are collapsed to their
    * min-id representative BEFORE shingling, so the signature pass sees
    * each distinct text once and LSH buckets hold one member per distinct
    * near-dup text instead of one per copy — on a corpus where every doc
    * has d exact copies, in-bucket candidate pairs shrink ~d² and the
    * whole pipeline returns to unique-corpus cost.
    *
    * RESULT-IDENTICAL to [[survivors]] whenever no bucket tripped the
    * [[MaxBucket]] cap (DedupSpec pins equality on a replicated corpus):
    * a representative is its identical-group's min id, identical texts
    * yield identical shingle sets (est. Jaccard 1 ≥ any threshold), so
    * plain survivors puts a group's members in their rep's cluster and
    * keeps only the cluster-min id — which IS the min rep id this
    * composition keeps. DEGENERATE texts (null/whitespace-only) produce
    * no shingles, so plain survivors can never pair them and they all
    * pass through — collapsing them would wrongly keep one per identical
    * group, so they bypass the collapse entirely (r4 review). Where the
    * corpora may still differ is exactly the cap: collapsed buckets stay
    * under it where the duplicated corpus overflowed and silently
    * DROPPED pairs — so exact-first recall is strictly ≥ plain, never
    * below.
    */
  def survivorsExactFirst(docs: DataFrame, threshold: Double = 0.5): DataFrame = {
    // shingle-less texts can never pair in plain survivors — they ALL
    // survive there, so they must not be collapsed to a representative
    val degenerate = trim(coalesce(col("text"), lit(""))) === ""
    // Materialized for the same reason as [[clustersExactFirst]]'s
    // groups: [[survivors]] consumes reps once inside [[clusters]]' pair
    // materialization and once in the keep-ids join — separate query
    // executions, so without it the collapse aggregate runs twice.
    // Deferred: the first of those jobs stores it.
    val reps = Materialize.deferred(docs.select(col("id"), col("text"))
      .filter(!degenerate)
      .groupBy(col("text")).agg(min(col("id")).as("id"))
      .select(col("id"), col("text")), "Dedup.survivorsExactFirst reps")
    // Measured-count broadcast of the keep side (same discipline as
    // [[clustersExactFirst]]'s expansion join): keepIds is one bare long
    // per surviving DISTINCT text, and without the hint the semi-join
    // shuffles the whole corpus by id against it whenever it is over the
    // 10 MB auto-broadcast threshold. 2^22 ids ≈ 32 MB broadcast.
    val keepIds = Materialize(survivors(reps, threshold).select(col("id")),
      "Dedup.survivorsExactFirst keep")
    val keep = keepIds.broadcastIf("keep", keepIds.rows <= KeepBroadcastRows)(keepIds.df)
    docs.filter(!degenerate).join(keep, Seq("id"), "left_semi")
      .unionByName(docs.filter(degenerate))
  }

  /** [[clusters]] over exact-collapsed pairs — the duplicate-heavy-corpus
    * shape of cluster ASSIGNMENT, mirroring [[survivorsExactFirst]] (r4
    * VERDICT item 1: CC over the un-collapsed pair graph was the last
    * minutes-vs-seconds duplication cliff — a d-copy corpus feeds CC a
    * ~d²-inflated clique graph; collapsing first returns it to
    * unique-corpus cost). Identical texts collapse to their min-id
    * representative, minhash-LSH + CC run at REP level only, and the
    * rep labels expand back over the membership map.
    *
    * RESULT-IDENTICAL to plain [[clusters]]([[minhashPairs]](docs))
    * whenever no bucket tripped [[MaxBucket]] (DedupSpec pins equality on a
    * replicated corpus), by the same argument as [[survivorsExactFirst]]:
    *  - a rep is its identical-group's min id, so group minima ARE rep
    *    ids, and every member of a dup group connects to every other
    *    (est. Jaccard 1 ≥ threshold) — the full graph's components are
    *    the rep-level components with each rep's group glued on;
    *  - a component's min id = min over its reps' ids = the rep-level
    *    cluster label, so member m of rep r gets label cluster(r);
    *  - a rep in NO rep-level pair but with group size ≥ 2 forms its own
    *    component in the full graph (the intra-group clique) labeled by
    *    the rep itself; a singleton unpaired rep appears in no pair and
    *    gets no label — exactly plain clusters' domain;
    *  - degenerate (null/blank) texts produce no shingles, never pair,
    *    and get no label in plain clusters — so they are excluded here
    *    rather than collapsed.
    * Where the corpora CAN differ is the cap: collapsed buckets stay
    * under [[MaxBucket]] where the duplicated corpus overflowed and
    * silently dropped pairs — exact-first labels are a superset, never
    * fewer.
    *
    * The collapse is a `groupBy(text)` AGGREGATE, not a window: partial
    * aggregation folds a d-copy group to one row map-side, so the only
    * thing shuffled by text is one row per DISTINCT text — the corpus
    * itself is never sorted (the former window shape shuffled AND sorted
    * every member row by its full text). Labels expand back over one
    * equi-join on text, which AQE broadcasts when the distinct-text side
    * is small; the corpus-side aggregate is evaluated once per consumer
    * (same trade as the tfidf df-branch — the collapse is d× cheaper than
    * the sort it replaces).
    */
  def clustersExactFirst(docs: DataFrame, threshold: Double = 0.5): DataFrame = {
    val nonDegenerate = docs.select(col("id"), col("text"))
      .filter(trim(coalesce(col("text"), lit(""))) =!= "")
    // Materialized: [[clusters]] stores its pair frame in its own job, so
    // the two consumers of `groups` (pair generation there, the expansion
    // join here) run in SEPARATE query executions — exchange reuse cannot
    // span them and the corpus collapse would run twice. The collapsed
    // table is one row per DISTINCT text (the small side by construction
    // on a duplicated corpus). Deferred: [[clusters]]' pair job stores it.
    val groups = Materialize.deferred(nonDegenerate.groupBy(col("text"))
      .agg(min(col("id")).as("rep"), count(lit(1)).as("grp_n")),
      "Dedup.clustersExactFirst groups")
    val repLabels = clusters(minhashPairs(
        groups.select(col("rep").as("id"), col("text")), threshold))
      .select(col("id").as("rep_id"), col("cluster").as("rep_cluster"))
    val labeled = Materialize(
      groups.join(repLabels, col("rep") === col("rep_id"), "left")
        .filter(col("rep_cluster").isNotNull || col("grp_n") >= 2)
        .select(col("text"),
          coalesce(col("rep_cluster"), col("rep")).as("cluster")),
      "Dedup.clustersExactFirst labeled")
    // Measured-count broadcast of the expansion side. Without it a
    // labeled side over the 10 MB auto-broadcast threshold plans the text
    // join as a sort-merge — shuffling AND sorting the whole corpus by its
    // full text strings against a right side that is bounded by the
    // distinct-text count (measured at sf1000: a 5 000-row right side put
    // 50 M ~1 KB texts through an exchange; the A/B probe clocked that
    // shape at 48–114 s/run with the CC route making no difference — the
    // shuffle was the entire story). The cap is rows of (text, cluster) —
    // 2^17 rows ≈ 100–300 MB at typical document sizes, the upper end of
    // a comfortable broadcast; above it (a mostly-unique corpus where
    // near-dup clusters rival the corpus) the sort-merge join is the
    // honest plan and stays.
    val expand = labeled.broadcastIf("expand", labeled.rows <= ExpandBroadcastRows)(labeled.df)
    nonDegenerate.join(expand, Seq("text"))
      .select(col("id"), col("cluster"))
  }

  /** Embedding-cosine near-dup pairs within a vec-id neighbor window (the
    * SQL-expressible blocking stand-in; the production blocking is the LSH
    * bucket join, [[Vectors.knnLsh]]). `emb` must have (vec_id, embedding);
    * emits (id_a, id_b, cos_sim) for id_b in (id_a, id_a + window] with
    * cosine >= threshold. The neighbor window is an exploded-candidate
    * equi-join — a raw BETWEEN theta-join plans as a nested loop.
    */
  def embeddingPairs(emb: DataFrame, window: Int = 10,
      threshold: Double = 0.3): DataFrame = {
    val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"))
      .withColumn("cand", explode(sequence(col("id_a") + 1, col("id_a") + window)))
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"))
    a.join(b, col("cand") === col("id_b"))
      .select(col("id_a"), col("id_b"),
        Vectors.cosine(col("emb_a"), col("emb_b")).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** Candidate pairs within Hamming distance `maxDist` of each other's
    * simhash, generated by banding the 64 bits into 4 16-bit chunks (any
    * pair at distance <= 3 shares at least one intact chunk); exact Hamming
    * distance (bit_count of XOR) filters the candidates.
    *
    * Shape mirrors [[minhashPairs]]: one signature pass, explode the 4
    * chunk keys, group by chunk key, and emit in-bucket pairs from the
    * collected member list — the previous band-key SELF-JOIN executed the
    * signature pass once per side (exchange reuse did not fire; then a
    * 64-sum aggregate, measured as most of the query's cost, VERDICT r1
    * §wrong.2). Buckets larger than [[MaxBucket]] are dropped for the same
    * reason — and with the same recall caveat — as in [[minhashPairs]]:
    * the distance<=3 completeness guarantee holds only for pairs whose
    * shared chunk bucket is within the cap; run exact dedup first where
    * completeness matters more. The trade is never silent, as in
    * [[minhashPairs]]: [[withPairRecallFlag]] and [[clusterAgreementFlag]]
    * measure its recall.
    */
  def simhashPairs(docs: DataFrame, maxDist: Int = 3): DataFrame =
    bucketPairs(
      simhashSignatures(docs)
        .select(col("id"), col("sh"),
          explode(transform(sequence(lit(0), lit(3)),
            c => struct(c.as("ci"),
              shr(col("sh"), c * 16).bitwiseAND(0xFFFFL).as("cv")))).as("chunk")),
      "chunk", "sh", "hamming", (a, b) => bit_count(a.bitwiseXOR(b)), _ <= maxDist)
}
