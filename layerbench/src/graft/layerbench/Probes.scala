package graft.layerbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TextExprs, VectorExprs}
import graft.operators.{CalTopo, Dedup, Vectors}
import graft.sources.{CalTopoFeatures, Tables}

/** Layer passes of the traced run that time single operators and kernels
  * directly, on every workload's generated tables:
  *
  *  - operators: one call of `Dedup.survivors`, `Vectors.knnLshDeduped`
  *    and `CalTopo.flagship` on checkpointed inputs, plus a noop write;
  *  - kernels: a micro-pass that applies the kernel to a replicated,
  *    checkpointed input, minus the same pass without it, per input row.
  *
  * Each operator call runs twice and the second is timed; each kernel
  * figure is the mean of two kernel-minus-base differences.
  */
object Probes {
  import Workload.{noop, timed}

  private def warmTimed(df: => DataFrame): Double = { noop(df); timed(noop(df)) }

  private def nsPerRow(rows: Long)(kernel: DataFrame, base: DataFrame): Double =
    Seq.fill(2)(timed(noop(kernel)) - timed(noop(base))).sum / 2 * 1e9 / rows

  /** `df` repeated `times` times, with `key` kept distinct, checkpointed. */
  private def replicate(spark: SparkSession, df: DataFrame, key: String,
      times: Int, parts: Int): DataFrame =
    df.crossJoin(spark.range(times).withColumnRenamed("id", "_rep"))
      .withColumn(key, col(key) * times + col("_rep")).drop("_rep")
      .repartition(parts).localCheckpoint(true)

  def run(spark: SparkSession, dir: String, cpus: Int): Map[String, Double] = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id").as("id"), col("text")).localCheckpoint(true)
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding")).localCheckpoint(true)
    val feats = CalTopoFeatures.build(spark, dir).localCheckpoint(true)

    val ops = Map(
      "operators.dedup_s" -> warmTimed(Dedup.survivors(docs)),
      "operators.knn_s" -> warmTimed(Vectors.knnLshDeduped(emb, k = 5)),
      "operators.caltopo_s" -> warmTimed(CalTopo.flagship(feats)))

    // replication sized so that each kernel pass takes a few hundred ms
    val manyDocs = replicate(spark, docs, "id", 500, cpus)
    val grams = Dedup.gramHashSets(replicate(spark, docs, "id", 25, cpus))
      .localCheckpoint(true)
    val manyVecs = replicate(spark, emb, "vec_id", 300, cpus)
    val manyFeats = replicate(spark,
      feats.withColumn("k", monotonically_increasing_id()), "k", 25, cpus)
    val nDocs = manyDocs.count()
    val nGrams = grams.count()
    val nVecs = manyVecs.count()
    val nFeats = manyFeats.count()
    val e = col("embedding")
    val kernels = Map(
      "operators.minhash_ns_row" -> nsPerRow(nGrams)(
        Dedup.minhashSignaturesArr(grams),
        grams.select(col("id"), explode(col("g")).as("h"))
          .groupBy("id").agg(min("h"))),
      "operators.coord_truncate_ns_row" -> nsPerRow(nFeats)(
        manyFeats.select(CalTopo.truncateGeometry(col("geometry"))
          .getField("coordinates").as("c")),
        manyFeats.select(col("geometry").getField("coordinates").as("c"))),
      "functions.gram_hash_ns_row" -> nsPerRow(nDocs)(
        manyDocs.select(size(TextExprs.gramHashes(col("text")))),
        manyDocs.select(length(col("text")))),
      "functions.dot_ns_row" -> nsPerRow(nVecs)(
        manyVecs.select(VectorExprs.dot(e, e)), manyVecs.select(size(e))),
      "functions.lsh_buckets_ns_row" -> nsPerRow(nVecs)(
        manyVecs.select(size(VectorExprs.lshBuckets(e, 6, 8))),
        manyVecs.select(size(e))))
    ops ++ kernels
  }
}
