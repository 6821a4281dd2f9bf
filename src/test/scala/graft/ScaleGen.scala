package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Generates an sf1-scale dataset by key-shifted 10x replication of sf0.1
  * (VERDICT r3 §next.4: one measured decade of scaling converts the 100 TB
  * plan-shape arguments into evidence). Each copy shifts every key column
  * by `i * STEP`, so referential integrity (orders→customer,
  * lineitem→{orders,part,supplier}, events→user, embeddings→documents) is
  * preserved and join/group cardinalities scale linearly like a real SF
  * increase — a plain 10x row copy would instead explode equi-join outputs
  * 100x and collapse distinct counts. Dimension tables (region, nation) and
  * low-cardinality attributes stay fixed, matching TPC-H's own SF behavior.
  * Document text is left identical across copies: near-dup family load
  * grows by design (each doc gains 9 exact copies — buckets of 10, well
  * under the maxBucket=256 cap).
  *
  * Usage: sbt "Test/runMain graft.ScaleGen /root/testdata/sf0.1 /root/repo/tmp/sf1 10 [step]"
  * Chained decades shift by a step larger than the source's max key —
  * e.g. sf1 -> sf10 with step 10^9 (keys are int64 throughout).
  */
object ScaleGen {
  private val DefaultStep = 10000000L // > any sf0.1 key

  // key columns to shift per table; absent tables copy once, unshifted
  private val shifts: Map[String, Seq[String]] = Map(
    "customer"   -> Seq("c_custkey"),
    "supplier"   -> Seq("s_suppkey"),
    "part"       -> Seq("p_partkey"),
    "orders"     -> Seq("o_orderkey", "o_custkey"),
    "lineitem"   -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events"     -> Seq("event_id", "user_id"),
    "documents"  -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  private def scaled(df: DataFrame, copies: Int, keys: Seq[String],
      step: Long): DataFrame =
    (0 until copies).map { i =>
      keys.foldLeft(df) { (d, c) =>
        d.withColumn(c, (col(c) + lit(i * step)).cast(df.schema(c).dataType))
      }
    }.reduce(_ unionByName _)

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "tmp/sf1"
    val copies = if (args.length > 2) args(2).toInt else 10
    val step = if (args.length > 3) args(3).toLong else DefaultStep
    // optional 5th arg: comma-separated table subset. A full sf1000 does
    // not fit this host's disk (lineitem alone projects to ~110 GB vs
    // ~60 GB free after the sf100 chain — the measured infeasibility
    // BASELINE.md r7 records), but the dedup/kNN headline families only
    // need documents+embeddings (~14 GB at sf1000), so the fourth decade
    // is generated per-table.
    val subset = if (args.length > 4) Some(args(4).split(",").toSet) else None
    val spark = Session.build(src, 16)
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
      .filter(t => subset.forall(_.contains(t)))
    tables.foreach { t =>
      val df = spark.read.parquet(s"$src/$t.parquet")
      val big = shifts.get(t) match {
        case Some(keys) => scaled(df, copies, keys, step)
        case None       => df
      }
      big.write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[scalegen] $t: ${spark.read.parquet(s"$out/$t.parquet").count()} rows")
    }
    spark.stop()
  }
}
