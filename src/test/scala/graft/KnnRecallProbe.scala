package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Measures the LSH and IVF recall the r10 oracle-pairing flags will
  * genuinely compute (VERDICT r9 item 3), at each bench SF, so the flag
  * bounds are pinned BELOW measured values with real margin — a flag
  * bound picked blind would either trip on healthy runs or be vacuous.
  *
  * Usage: sbt "Test/runMain graft.KnnRecallProbe [sfDir ...]"
  */
object KnnRecallProbe {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1")
    val spark = Session.build(dirs.head, 32)
    dirs.foreach { d =>
      val emb = graft.sources.Tables.embeddings(spark, d)
      val nProbe = 32
      // exact top-5 for the sampled probes (broadcast probes x corpus scan)
      val probes = emb.filter(col("vec_id") < nProbe)
        .select(col("vec_id").as("id_a"), col("embedding").as("emb_a"))
      val w = Window.partitionBy(col("id_a"))
        .orderBy(col("cos_sim").desc, col("id_b"))
      val exact = emb.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"))
        .join(broadcast(probes), col("id_b") =!= col("id_a"))
        .select(col("id_a"), col("id_b"),
          graft.operators.Vectors.cosine(col("emb_a"), col("emb_b")).as("cos_sim"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
        .select(col("id_a"), col("id_b"))
      val lsh = graft.operators.Vectors.knnLsh(emb, k = 5)
        .filter(col("id_a") < nProbe).select(col("id_a"), col("id_b"))
      val hits = exact.join(lsh, Seq("id_a", "id_b"), "left_semi").count()
      val total = exact.count()
      println(f"[knnrecall] $d LSH sampled-probe recall@5 = $hits/$total = ${hits.toDouble / total}%.3f")

      val exact10 = graft.operators.Vectors.knnBruteForce(emb, 0L, 10)
        .select(col("vec_id"))
      Seq(1, 2).foreach { np =>
        val ivf = graft.operators.Vectors.knnIvf(emb, 0L, 10, nprobe = np)
          .select(col("vec_id"))
        val ivfHits = exact10.join(ivf, Seq("vec_id"), "left_semi").count()
        println(f"[knnrecall] $d IVF(nprobe=$np) recall@10 for probe 0 = $ivfHits/10")
      }
      val nCells = emb.select("label").distinct().count()
      println(s"[knnrecall] $d cells=$nCells")

      // batched IVF over the same probe sample: the flag's actual shape
      val exactB = graft.operators.Vectors
        .knnBruteForceBatch(emb, col("vec_id") < nProbe, k = 10)
        .select(col("id_a"), col("id_b"))
      Seq(1, 2).foreach { np =>
        val ivfB = graft.operators.Vectors
          .knnIvfBatch(emb, col("vec_id") < nProbe, k = 10, nprobe = np)
          .select(col("id_a"), col("id_b"))
        val h = exactB.join(ivfB, Seq("id_a", "id_b"), "left_semi").count()
        val t = exactB.count()
        println(f"[knnrecall] $d IVF-batch(nprobe=$np) sampled recall@10 = $h/$t = ${h.toDouble / t}%.3f")
      }
      // sanity: the batch's probe-0 slice must equal the single-probe form
      val single = graft.operators.Vectors.knnIvf(emb, 0L, 10)
        .select(col("vec_id").as("id_b"), col("cos_sim"))
      val slice = graft.operators.Vectors
        .knnIvfBatch(emb, col("vec_id") < 1, k = 10)
        .select(col("id_b"), col("cos_sim"))
      val diff = single.exceptAll(slice).count() + slice.exceptAll(single).count()
      println(s"[knnrecall] $d IVF batch-vs-single probe-0 diff rows = $diff")
    }
    spark.stop()
  }
}
