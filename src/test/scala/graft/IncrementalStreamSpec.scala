package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import graft.streaming.StreamRunner
import graft.sources.Tables

/** True incremental streaming: the events table split across several
  * files, drained one file per micro-batch (maxFilesPerTrigger=1) — the
  * windowed aggregation over all micro-batches must equal the one-shot
  * batch aggregation over the union.
  */
class IncrementalStreamSpec extends SparkSpec {

  test("multi-micro-batch tumbling aggregation equals the batch result") {
    val dir = scratchDir("graft-stream-multi").toString
    // three files, split by event_id ranges (arrival order != time order
    // within a batch is fine; watermark only drops data later than the
    // 10-minute lateness bound, and ranges keep time roughly monotonic)
    val ev = Tables.events(spark, sfDir)
    val n = ev.count()
    def writeSplit(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = s"$dir/_tmp_$name"
      df.coalesce(1).write.parquet(tmp)
      val part = Files.list(Paths.get(tmp)).iterator()
      var moved = false
      while (part.hasNext) {
        val f = part.next()
        if (f.getFileName.toString.endsWith(".parquet")) {
          Files.createDirectories(Paths.get(dir))
          Files.move(f, Paths.get(dir, s"$name.parquet"))
          moved = true
        }
      }
      assert(moved, s"no parquet part written for $name")
    }
    writeSplit(ev.filter(col("event_id") < n / 3), "f1")
    writeSplit(ev.filter(col("event_id") >= n / 3 && col("event_id") < 2 * n / 3), "f2")
    writeSplit(ev.filter(col("event_id") >= 2 * n / 3), "f3")

    val stream = StreamRunner.runToMemory(spark,
      StreamRunner.tumblingAgg(
        spark.readStream
          .schema(ev.schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(dir)),
      "spec_incremental")
      .orderBy("window_start_us").collect()

    val batch = ev
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("n_events"), col("total_value"))
      .orderBy("window_start_us").collect()

    assert(stream.length == batch.length)
    assert(stream.sameElements(batch))
  }

  test("checkpointed append-mode runs resume incrementally without duplicates") {
    import org.apache.spark.sql.streaming.Trigger
    val base = scratchDir("graft-stream-ckpt").toString
    Seq("in", "out", "ckpt").foreach(s => Files.createDirectories(Paths.get(base, s)))
    val ev = Tables.events(spark, sfDir).orderBy("ts")
    val n = ev.count()
    def writeSplit(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = s"$base/_tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      import scala.jdk.CollectionConverters._
      Files.list(Paths.get(tmp)).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .foreach(f => Files.move(f, Paths.get(base, "in", s"$name.parquet")))
    }
    // time-ordered halves so the second run's data genuinely advances time
    val half = ev.limit((n / 2).toInt)
    val ids = half.select(max(col("event_id"))).first().getLong(0)
    writeSplit(ev.filter(col("event_id") <= ids), "f1")

    def runOnce(): Unit = {
      val agg = StreamRunner.tumblingAgg(
        spark.readStream.schema(Tables.events(spark, sfDir).schema)
          .parquet(s"$base/in"))
      val q = agg.writeStream
        .format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runOnce()
    val afterRun1 = spark.read.parquet(s"$base/out").count()
    writeSplit(ev.filter(col("event_id") > ids), "f2")
    runOnce()
    val out = spark.read.parquet(s"$base/out")
    val afterRun2 = out.count()
    assert(afterRun2 > afterRun1, "second run appended nothing")
    // no window written twice
    assert(out.select("window_start_us").distinct().count() == afterRun2)
    // every emitted window matches the batch aggregation exactly
    val batchAgg = Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("n_events"), col("total_value"))
    assert(out.exceptAll(batchAgg).count() == 0,
      "an emitted window disagrees with the batch aggregation")
  }
}
