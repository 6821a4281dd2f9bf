package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.operators.{CalTopo, Dedup}

/** Property-based invariants (SURVEY.md §5.2.3) over seeded ScalaCheck
  * generators (raw Gen sampling — the scalatest bridge artifact isn't a
  * dependency): coordinate truncation (length <= 3, prefix-preserving,
  * idempotent) on random geometries; dedup invariants (planted dups pair
  * at 1.0, canonical pair order, partition of the input) on random corpora.
  */
class PropertySpec extends SparkSpec {

  private def sample[T](g: Gen[T], seed: Long): T =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  private val coordGen: Gen[List[Double]] =
    Gen.choose(1, 6).flatMap(n =>
      Gen.listOfN(n, Gen.choose(-180.0, 180.0).map(d => math.rint(d * 100) / 100)))

  private def fmt(d: Double): String =
    if (d == math.rint(d)) s"${d.toLong}.0" else d.toString

  test("point truncation: <= 3 components, prefix preserved, idempotent (random coords)") {
    import spark.implicits._
    (1L to 5L).foreach { seed =>
      val coords = sample(Gen.listOfN(8, coordGen), seed)
      val df = coords.zipWithIndex
        .map { case (c, i) => (i.toString, c.map(fmt).mkString("[", ",", "]")) }
        .toDF("id", "coords")
        .select(col("id"),
          struct(lit("Point").as("type"), col("coords").as("coordinates"))
            .as("geometry"))
      val once = df.withColumn("geometry",
        CalTopo.truncateGeometry(col("geometry")))
      val parsed = once.select(col("id"),
        from_json(col("geometry.coordinates"), "array<double>",
          java.util.Collections.emptyMap[String, String]()).as("c"))
        .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
      coords.zipWithIndex.foreach { case (orig, i) =>
        val out = parsed(i.toString)
        assert(out.length == math.min(orig.length, 3), s"seed=$seed id=$i")
        assert(out == orig.take(3), s"seed=$seed id=$i")
      }
      val twice = once.withColumn("geometry",
        CalTopo.truncateGeometry(col("geometry")))
      assert(twice.select("geometry.coordinates").collect()
        .sameElements(once.select("geometry.coordinates").collect()),
        s"not idempotent, seed=$seed")
    }
  }

  private val wordGen: Gen[String] =
    Gen.choose(3, 8).flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))

  private val docGen: Gen[String] =
    Gen.choose(5, 30).flatMap(n => Gen.listOfN(n, wordGen).map(_.mkString(" ")))

  test("minhash invariants: planted dup pairs at 1.0; pairs canonical (random corpora)") {
    import spark.implicits._
    (1L to 3L).foreach { seed =>
      val docs = sample(Gen.listOfN(4, docGen), seed)
      val corpus = (docs.zipWithIndex.map { case (t, i) => (i.toLong, t) } :+
        (100L, docs.head)).toDF("id", "text")
      val pairs = Dedup.minhashPairs(corpus, threshold = 0.99)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(pairs.exists { case (a, b, j) => a == 0L && b == 100L && j == 1.0 },
        s"planted dup not found, seed=$seed, pairs=${pairs.mkString(",")}")
      pairs.foreach { case (a, b, _) => assert(a < b, s"seed=$seed") }
    }
  }

  test("exactJaccardWindowPairs equals a driver-side brute force (random corpora)") {
    // the r10 inverted-index set-similarity join backs the declared rows
    // of six oracle-paired queries — pin it against an independent
    // string-gram reference, including exact/near dups and the <3-word
    // degenerate shingle arm
    import spark.implicits._
    // mirror of Dedup.gramHashSets' gram semantics, on STRINGS
    def grams(t: String): Set[Seq[String]] = {
      val ws = t.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
      if (ws.length >= 3) ws.sliding(3).toSet else Set(ws)
    }
    (1L to 5L).foreach { seed =>
      val base = sample(Gen.listOfN(8, docGen), seed)
      val texts = base ++ Seq(
        base.head,                                  // exact dup of 0 (id 8)
        base(1).split(' ').drop(1).mkString(" "),   // near dup of 1 (id 9)
        "ab cd")                                    // degenerate 2-word doc
      val docs = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      val got = Dedup.exactJaccardWindowPairs(docs, tau = 0.3, window = 9)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val expect = (for {
        a <- texts.indices; b <- texts.indices
        if b > a && b <= a + 9
        ga = grams(texts(a)); gb = grams(texts(b))
        inter = (ga & gb).size
        j = inter.toDouble / (ga.size + gb.size - inter)
        if j >= 0.3
      } yield (a.toLong, b.toLong, j)).toSet
      assert(got == expect,
        s"seed=$seed got=${got.toList.sorted} expect=${expect.toList.sorted}")
      assert(expect.exists { case (a, b, j) => a == 0L && b == 8L && j == 1.0 },
        s"fixture must plant the exact-dup window pair, seed=$seed")
    }
  }

  test("BottomIds: any reduce/merge tree equals sorted.take(n), buffer never exceeds n") {
    // the aggregate's correctness rests on reduce and merge agreeing with
    // the naive sort-take under ANY partitioning Spark chooses — model that
    // directly: random ids (duplicates included, though vec_ids are unique
    // in production), random n, random split points
    val idGen = Gen.listOf(Gen.choose(-1000L, 1000L))
    (1L to 20L).foreach { seed =>
      val ids = sample(idGen, seed)
      val n = sample(Gen.choose(1, 8), seed + 1000)
      val agg = new graft.functions.BottomIds(n)
      val expected = ids.sorted.take(n)
      val folded = ids.foldLeft(agg.zero)(agg.reduce)
      assert(folded.toList == expected, s"seed=$seed n=$n reduce-fold")
      // an ACTUAL randomized binary merge tree (ADVICE r6 — the earlier
      // shape was a linear left-fold of chunk merges): recursively split
      // at a random point, build each side, merge the two buffers. Random
      // leaf cut-offs vary depth and balance, so non-linear shapes —
      // merge(merge(a,b), merge(c,d)) and every skew between — are
      // genuinely exercised, and every intermediate buffer is cap-checked.
      val rnd = new scala.util.Random(seed * 7919 + n)
      def build(xs: List[Long]): Array[Long] = {
        val buf =
          if (xs.length <= 1 || rnd.nextInt(4) == 0)
            xs.foldLeft(agg.zero)(agg.reduce)
          else {
            val cut = 1 + rnd.nextInt(xs.length - 1)
            val (l, r) = xs.splitAt(cut)
            agg.merge(build(l), build(r))
          }
        assert(buf.length <= n, s"seed=$seed n=$n intermediate cap")
        buf
      }
      val merged = build(ids.toList)
      assert(merged.toList == expected, s"seed=$seed n=$n merge-tree")
      assert(folded.length <= n && merged.length <= n, s"seed=$seed cap")
    }
  }

  test("BottomIds under Spark grouping equals sliced sort_array(collect_list)") {
    import spark.implicits._
    (1L to 3L).foreach { seed =>
      val n = sample(Gen.choose(1, 5), seed)
      val rows = sample(Gen.listOfN(200,
        Gen.zip(Gen.choose(0, 5), Gen.choose(0L, 10000L))), seed + 500)
      val df = rows.toDF("g", "id").repartition(7)
      val got = df.groupBy(col("g"))
        .agg(graft.functions.BottomIds(n)(col("id")).as("low"))
        .collect().map(r => r.getInt(0) -> r.getSeq[Long](1).toList).toMap
      val want = rows.groupBy(_._1).map { case (g, xs) =>
        g -> xs.map(_._2).sorted.take(n) }
      assert(got == want, s"seed=$seed n=$n")
    }
  }

  test("exact dedup partitions the input: group sizes sum to input size, keepers are input ids") {
    import spark.implicits._
    (1L to 3L).foreach { seed =>
      val docs = sample(Gen.listOfN(6, docGen), seed)
      val corpus = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val out = corpus.groupBy(lower(trim(col("text"))))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n"))
        .collect()
      assert(out.map(_.getAs[Long]("n")).sum == docs.length, s"seed=$seed")
      assert(out.map(_.getAs[Long]("keeper")).toSet
        .subsetOf((0 until 6).map(_.toLong).toSet), s"seed=$seed")
    }
  }
}
