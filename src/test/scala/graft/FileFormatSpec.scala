package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-format ingest coverage (CSV + JSONL): a training pipeline's raw
  * drops arrive as delimited text, not parquet. The engine reads both with
  * explicit schemas (never inference on a 100 TB drop — one pass saved,
  * and type drift fails loudly instead of silently widening), round-trips
  * the driver's nation table through each format, and pushes filters into
  * the CSV scan.
  */
class FileFormatSpec extends SparkSpec {

  private val nationSchema = StructType(Seq(
    StructField("n_nationkey", IntegerType),
    StructField("n_name", StringType),
    StructField("n_regionkey", IntegerType)))

  private def nation = graft.sources.Tables.nation(spark, sfDir)
    .select(col("n_nationkey").cast("int"), col("n_name"),
      col("n_regionkey").cast("int"))

  test("CSV round-trip with explicit schema matches the parquet source") {
    val dir = scratchDir("graft-fmt-csv").toString
    nation.write.mode("overwrite")
      .option("header", "true").csv(dir)
    val back = spark.read.schema(nationSchema)
      .option("header", "true").csv(dir)
    assert(back.orderBy("n_nationkey").collect()
      .sameElements(nation.orderBy("n_nationkey").collect()))
  }

  test("JSONL round-trip with explicit schema matches the parquet source") {
    val dir = scratchDir("graft-fmt-jsonl").toString
    nation.write.mode("overwrite").json(dir)
    val back = spark.read.schema(nationSchema).json(dir)
    assert(back.orderBy("n_nationkey").collect()
      .sameElements(nation.orderBy("n_nationkey").collect()))
  }

  test("ORC round-trip matches the parquet source and pushes filters into the scan") {
    val dir = scratchDir("graft-fmt-orc").toString
    nation.write.mode("overwrite").orc(dir)
    val back = spark.read.schema(nationSchema).orc(dir)
    assert(back.orderBy("n_nationkey").collect()
      .sameElements(nation.orderBy("n_nationkey").collect()))
    // predicate pushdown reaches the ORC reader exactly like parquet —
    // the scan, not Spark, skips non-matching stripes at 100 TB
    val plan = back.filter(col("n_regionkey") === 1)
      .queryExecution.executedPlan.toString
    assert(plan.contains("EqualTo(n_regionkey,1)"), plan.take(600))
  }

  test("gzip JSONL reads transparently; non-splittable, so one task per file") {
    val dir = scratchDir("graft-fmt-gz").toString
    val out = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(s"$dir/rows.jsonl.gz"))
    out.write(
      """{"n_nationkey":1,"n_name":"A","n_regionkey":0}
        |{"n_nationkey":2,"n_name":"B","n_regionkey":1}
        |""".stripMargin.getBytes("UTF-8"))
    out.close()
    val back = spark.read.schema(nationSchema).json(dir)
    assert(back.count() == 2)
    // codec is NON-SPLITTABLE: the whole file is one task regardless of
    // size. The 100 TB posture is many moderate .gz files (or zstd/bzip2
    // splittable codecs) so parallelism comes from file COUNT — one
    // giant .gz drop would serialize its entire scan through one core.
    assert(back.rdd.getNumPartitions == 1)
  }

  test("malformed JSONL rows quarantine under PERMISSIVE, fail under FAILFAST") {
    val dir = scratchDir("graft-fmt-bad").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "rows.jsonl"),
      """{"n_nationkey":1,"n_name":"A","n_regionkey":0}
        |{"n_nationkey":"BROKEN-not-an-int","n_name":"B","n_regionkey":0}
        |{"n_nationkey":3,"n_name":"C","n_regionkey":1}
        |""".stripMargin)
    val quarantineSchema = nationSchema.add("_corrupt_record", StringType)
    val permissive = spark.read.schema(quarantineSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir).cache()
    try {
      assert(permissive.filter(col("_corrupt_record").isNull).count() == 2)
      assert(permissive.filter(col("_corrupt_record").isNotNull).count() == 1)
      val failfast = spark.read.schema(nationSchema)
        .option("mode", "FAILFAST").json(dir)
      intercept[org.apache.spark.SparkException] { failfast.collect() }
    } finally permissive.unpersist()
  }
}
