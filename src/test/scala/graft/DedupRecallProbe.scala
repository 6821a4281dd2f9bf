package graft

import org.apache.spark.sql.functions._

/** Measures the GENUINE recall of the minhash/simhash candidate pair sets
  * against the exact window-blocked Jaccard truth frame — the measurement
  * behind the r10 oracle pairing of q_dedup_minhash/q_dedup_simhash
  * (exact-plus-genuine-flag pattern; the kNN analog is KnnRecallProbe).
  * The declared flag bounds must sit well under every cell printed here.
  *
  * Usage: sbt "Test/runMain graft.DedupRecallProbe [sfDir ...]"
  */
object DedupRecallProbe {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1")
    val spark = Session.build(dirs.head, 8)
    import graft.operators.Dedup
    dirs.foreach { d =>
      val docs = graft.sources.Tables.documents(spark, d)
        .select(col("doc_id").as("id"), col("text"))
      val truth = Dedup.exactJaccardWindowPairs(docs, tau = 0.5, window = 200)
        .localCheckpoint(true)
      val nTruth = truth.count()
      Seq(
        ("minhash", Dedup.minhashPairs(docs, threshold = 0.5)),
        ("simhash", Dedup.simhashPairs(docs, maxDist = 3))
      ).foreach { case (name, pairs) =>
        val cand = pairs.filter(col("id_b") - col("id_a") <= 200)
        val nCand = cand.count()
        val hits = truth.join(cand.select("id_a", "id_b"),
          Seq("id_a", "id_b"), "left_semi").count()
        val recall = if (nTruth == 0) Double.NaN else hits.toDouble / nTruth
        println(f"[dedup-recall] $d $name truth=$nTruth " +
          f"candidates_in_window=$nCand hits=$hits recall=$recall%.3f")
      }
      // cluster co-clustering agreement (q_dedup_clusters* flags): truth
      // edges whose endpoints the real composition co-clusters
      Seq(
        ("clusters", Dedup.clusters(Dedup.minhashPairs(docs, threshold = 0.5))),
        ("clusters_exact_first", Dedup.clustersExactFirst(docs, threshold = 0.5))
      ).foreach { case (name, labels) =>
        val lc = labels.localCheckpoint(true)
        val agree = truth
          .join(lc.select(col("id").as("id_a"), col("cluster").as("ca")),
            Seq("id_a"), "left")
          .join(lc.select(col("id").as("id_b"), col("cluster").as("cb")),
            Seq("id_b"), "left")
          .agg(count(when(col("ca") === col("cb"), 1)).as("co"),
            count(lit(1)).as("n")).head()
        println(f"[dedup-recall] $d $name truth_edges=${agree.getLong(1)} " +
          f"co_clustered=${agree.getLong(0)} " +
          f"agreement=${agree.getLong(0).toDouble / math.max(agree.getLong(1), 1)}%.3f")
      }
      // pipeline two-arm agreement (q_dedup_pipeline* flags)
      val docsL = graft.sources.Tables.documents(spark, d)
        .select(col("doc_id").as("id"), col("text"), col("lang"))
      val tl = Dedup.clusters(truth).localCheckpoint(true)
      val declaredSurv = docsL.join(tl, Seq("id"), "left")
        .filter(col("cluster").isNull || col("cluster") === col("id"))
        .select(col("id")).localCheckpoint(true)
      val truthDropped = tl.filter(col("cluster") =!= col("id")).select(col("id"))
      Seq(
        ("pipeline", Dedup.survivors(docsL, threshold = 0.5)),
        ("pipeline_exact_first", Dedup.survivorsExactFirst(docsL, threshold = 0.5))
      ).foreach { case (name, sv) =>
        val real = sv.select(col("id")).localCheckpoint(true)
        val nDecl = declaredSurv.count()
        val kept = declaredSurv.join(real, Seq("id"), "left_semi").count()
        val nDrop = truthDropped.count()
        val alsoDropped = truthDropped.join(real, Seq("id"), "left_anti").count()
        println(f"[dedup-recall] $d $name declared_survivors=$nDecl " +
          f"kept_by_real=$kept (arm1=${kept.toDouble / math.max(nDecl, 1)}%.3f) " +
          f"truth_dropped=$nDrop also_dropped=$alsoDropped " +
          f"(arm2=${alsoDropped.toDouble / math.max(nDrop, 1)}%.3f)")
      }
    }
    spark.stop()
  }
}
