package graft

import graft.streaming.StreamRunner
import graft.queries.Registry

/** Stream == batch: the streaming aggregations must produce exactly the
  * rows of their oracle-checked batch equivalents (SURVEY.md §7.3 M3).
  */
class StreamingSpec extends SparkSpec {

  private def batch(name: String) =
    Registry.all.find(_.name == name).get.build(spark, sfDir)

  test("tumbling window stream equals q_stream_tumbling batch result") {
    val stream = StreamRunner.runToMemory(spark,
      StreamRunner.tumblingAgg(StreamRunner.eventsStream(spark, sfDir)),
      "spec_tumbling")
      .orderBy("window_start_us").collect()
    val expected = batch("q_stream_tumbling").collect()
    assert(stream.length == expected.length)
    assert(stream.sameElements(expected))
  }

  test("tumbling + session streams are provider-independent under RocksDB") {
    // the SPARK_GRAFT_STATE_STORE=rocksdb path of StreamRunner.main
    // (VERDICT r6 item 1): state lives off-heap in RocksDB instead of the
    // executor heap — results must be IDENTICAL to the default provider's
    // (which the other tests pin against the batch oracles)
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider")
    try {
      val tumbling = StreamRunner.runToMemory(spark,
        StreamRunner.tumblingAgg(StreamRunner.eventsStream(spark, sfDir)),
        "spec_tumbling_rocks")
        .orderBy("window_start_us").collect()
      assert(tumbling.sameElements(batch("q_stream_tumbling").collect()))
      val session = StreamRunner.runToMemory(spark,
        StreamRunner.sessionAgg(StreamRunner.eventsStream(spark, sfDir)),
        "spec_session_rocks")
        .orderBy("user_id", "session_start_us").collect()
      assert(session.sameElements(batch("q_stream_session").collect()))
    } finally {
      prior match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }

  test("DSv2 sink streaming write: epoch-scoped documents, counts conserved") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val base = scratchDir("graft-dsv2-stream")
    val out = base.resolve("sink").toString
    val ckpt = base.resolve("ckpt").toString
    val q = StreamRunner.eventsStream(spark, sfDir)
      .select(to_json(struct(col("event_id"), col("user_id"))).as("feature"))
      .writeStream
      .format("graft.sources.FeatureCollectionSink")
      .option("path", out).option("prefix", "ev")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val files = new java.io.File(out).listFiles()
    assert(files.nonEmpty && files.forall(f =>
      f.getName.startsWith("ev-epoch") && f.getName.endsWith(".json")),
      files.map(_.getName).mkString(","))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val total = files.map(f => mapper.readTree(f).path("features").size()).sum
    val expected = graft.sources.Tables.events(spark, sfDir).count()
    assert(total == expected)
  }

  test("session_window merges sessions that touch at exactly the gap") {
    // Spark's session_window merges TOUCHING sessions (an event at
    // last + gap extends the window), while the DuckDB oracle's island
    // rule (`>= gap starts a new session`) splits there. Pin the
    // divergence so it is knowledge, not a surprise: on the test data the
    // two agree everywhere (micros-resolution event times make exact-gap
    // pairs measure-zero — every stream==batch pin in this suite holds on
    // real data).
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val gapUs = 600000000L // 10 minutes
    val t0 = 1700000000000000L
    val events = Seq(
      (1L, t0), (1L, t0 + gapUs),                   // exact gap -> merged
      (2L, t0), (2L, t0 + gapUs - 1L),              // gap - 1us -> merged
      (3L, t0 + gapUs - 2L), (3L, t0 + 2 * gapUs - 3L),
      (4L, t0 + 3 * gapUs))                         // lone event
      .toDF("user_id", "us")
      .select(col("user_id"), timestamp_micros(col("us")).as("ts"))
    val got = StreamRunner.sessionAgg(events)
      .orderBy("user_id", "session_start_us")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(
      (1L, t0, 2L),                                 // the island rule gives two
      (2L, t0, 2L),
      (3L, t0 + gapUs - 2L, 2L),
      (4L, t0 + 3 * gapUs, 1L)))
  }

  test("session window stream equals q_stream_session batch result") {
    val stream = StreamRunner.runToMemory(spark,
      StreamRunner.sessionAgg(StreamRunner.eventsStream(spark, sfDir)),
      "spec_session")
      .orderBy("user_id", "session_start_us").collect()
    val expected = batch("q_stream_session").collect()
    assert(stream.length == expected.length)
    assert(stream.sameElements(expected))
  }
}
