package graft

import org.apache.spark.sql.streaming.OutputMode
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

  test("mapGroupsWithState per-user counts equal batch groupBy counts") {
    import org.apache.spark.sql.functions._
    val stream = StreamRunner.runToMemory(spark,
      StreamRunner.statefulCounts(spark,
        StreamRunner.eventsStream(spark, sfDir)),
      "spec_stateful", OutputMode.Update())
      .groupBy("user_id").agg(max("n_events").as("n_events"))
      .orderBy("user_id").collect()
    val expected = graft.sources.Tables.events(spark, sfDir)
      .groupBy("user_id").agg(count(lit(1)).as("n_events"))
      .orderBy("user_id").collect()
    assert(stream.sameElements(expected))
  }

  test("stream-stream interval join equals the batch join") {
    import org.apache.spark.sql.functions._
    val stream = StreamRunner.runToMemory(spark,
      StreamRunner.purchaseAfterErrorJoin(
        StreamRunner.eventsStream(spark, sfDir)),
      "spec_ss_join", OutputMode.Append())
      .orderBy("err_id", "pur_id").collect()
    val batch = StreamRunner.purchaseAfterErrorJoin(
        graft.sources.Tables.events(spark, sfDir))
      .orderBy("err_id", "pur_id").collect()
    assert(stream.nonEmpty)
    assert(stream.sameElements(batch))
  }

  test("DSv2 sink streaming write: epoch-scoped documents, counts conserved") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val out = "/tmp/graft-dsv2-stream-sink"
    val ckpt = "/tmp/graft-dsv2-stream-ckpt"
    for (d <- Seq(out, ckpt)) {
      val f = new java.io.File(d)
      if (f.exists()) { def rm(x: java.io.File): Unit = {
        Option(x.listFiles()).foreach(_.foreach(rm)); x.delete() }; rm(f) }
    }
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

  test("q_stream_join registry query pins the interval-join semantics") {
    // the oracle-paired batch form (integer-micros comparisons) must agree
    // with the streaming operator (timestamp comparisons post-normalization)
    val reg = graft.queries.Registry.all.find(_.name == "q_stream_join").get
      .build(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val op = StreamRunner.purchaseAfterErrorJoin(
        graft.sources.Tables.events(spark, sfDir))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(reg == op && reg.nonEmpty)
  }

  test("dropDuplicatesWithinWatermark emits the same key set with bounded state") {
    // bounded replay arrives as one batch, so every duplicate lands inside
    // the horizon and the emitted key set equals the global distinct set;
    // on an unbounded stream the same operator holds only horizon-recent
    // keys in state (the production at-least-once repair path)
    val stream = StreamRunner.runToMemory(spark,
      StreamRunner.dedupWithinWatermark(StreamRunner.eventsStream(spark, sfDir)),
      "spec_dedup_wm", OutputMode.Append())
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val expected = graft.sources.Tables.events(spark, sfDir)
      .select("user_id", "event_type").distinct()
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(stream == expected && stream.nonEmpty)
  }

  test("streaming dedup-by-key emits exactly the batch q_stream_dedup key set") {
    // First-arrival payloads are replay-order-dependent, so the contract
    // (and this check) is the KEY SET: one row per (user_id, event_type),
    // the same set the deterministic batch form pins against its oracle.
    val stream = StreamRunner.runToMemory(spark,
      StreamRunner.dedupByKey(StreamRunner.eventsStream(spark, sfDir)),
      "spec_dedup", OutputMode.Append())
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val expected = batch("q_stream_dedup")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(stream == expected)
    assert(stream.size == StreamRunner.runToMemory(spark,
      StreamRunner.dedupByKey(StreamRunner.eventsStream(spark, sfDir)),
      "spec_dedup2", OutputMode.Append()).count())
  }

  test("flatMapGroupsWithState sessionizer emits exactly the q_stream_session rows") {
    val stream = StreamRunner.runToMemory(spark,
      StreamRunner.sessionizeFlat(spark,
        StreamRunner.eventsStream(spark, sfDir)),
      "spec_fmgws", OutputMode.Append())
      .orderBy("user_id", "session_start_us").collect()
    val expected = batch("q_stream_session").collect()
    assert(stream.length == expected.length)
    assert(stream.sameElements(expected))
  }

  test("open-tail sessionizer over a genuinely multi-batch replay matches the batch sessions") {
    // VERDICT r7 item 2: the EventTimeTimeout sessionizer must survive a
    // MULTI-batch incremental stream — exactly the shape whose loud
    // IllegalStateException is sessionizeFlat's single-batch contract.
    // Build a time-ordered multi-file events table (4 disjoint ts slices
    // written sequentially, so file mod-time order == event-time order),
    // plus a far-future sentinel user whose single event advances the
    // watermark past every real session's last_event + gap — event-time
    // timeouts only fire when the watermark passes them, so without the
    // sentinel the tail sessions correctly stay OPEN in state (the
    // unbounded-stream contract), which a bounded comparison can't pin.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val dir = "/tmp/graft-opentail-events"
    locally { val f = new java.io.File(dir)
      if (f.exists()) { def rm(x: java.io.File): Unit = {
        Option(x.listFiles()).foreach(_.foreach(rm)); x.delete() }; rm(f) } }
    val ev = graft.sources.Tables.events(spark, sfDir)
    val qs = ev.select(unix_micros(col("ts")).as("t"))
      .stat.approxQuantile("t", Array(0.25, 0.5, 0.75), 0.0)
    val t = unix_micros(col("ts"))
    val slices = Seq(
      t < qs(0), t >= qs(0) && t < qs(1), t >= qs(1) && t < qs(2), t >= qs(2))
    slices.foreach { pred =>
      ev.filter(pred).coalesce(1).write.mode("append").parquet(dir)
    }
    val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
    ev.orderBy("ts").limit(1)
      .withColumn("user_id", lit(-1L))
      .withColumn("ts", lit(new java.sql.Timestamp(maxTs.getTime + 86400000L)))
      .coalesce(1).write.mode("append").parquet(dir)
    val stream = spark.readStream
      .schema(spark.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    val q = StreamRunner.sessionizeOpenTail(spark, stream).writeStream
      .format("memory").queryName("spec_opentail").outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // the replay must have been genuinely incremental: one batch per file
    // (plus watermark-advance no-data batches), never one big batch
    assert(q.recentProgress.map(_.batchId).distinct.length >= 5,
      s"expected >=5 micro-batches, got ${q.recentProgress.map(_.batchId).mkString(",")}")
    val got = spark.table("spec_opentail").filter(col("user_id") >= 0)
      .orderBy("user_id", "session_start_us").collect()
    val expected = batch("q_stream_session").collect()
    assert(got.length == expected.length,
      s"sessions: stream ${got.length} vs batch ${expected.length}")
    assert(got.sameElements(expected))
    // the sentinel's own session never times out (the watermark cannot
    // pass its last + gap) — it must stay open in state, not emit
    assert(spark.table("spec_opentail").filter(col("user_id") < 0).isEmpty)
  }

  test("open-tail sessionizer pins the exact-gap boundary and cross-batch island bridging") {
    // hand-controlled micros targeting the two edges the corpus replay
    // cannot guarantee to contain: (a) a pair spaced EXACTLY gap apart
    // must split (batch rule: gap >= 10 min starts a new session; the
    // handler's merge rule is start - last < gap), a pair one microsecond
    // closer must merge; (b) an island already in state must be EXTENDED
    // by a later micro-batch's event inside the gap (the bridging path),
    // and emit only once, merged.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val gapUs = 600000000L // 10 minutes
    val t0 = 1700000000000000L
    // (user, micros): slice 1 holds events < t0+gap; slice 2 continues
    // user 3's island inside the gap and user 1 exactly AT the gap
    val events = Seq(
      (1L, t0), (1L, t0 + gapUs),                   // exact gap -> 2 sessions
      (2L, t0), (2L, t0 + gapUs - 1L),              // gap - 1us -> 1 session
      (3L, t0 + gapUs - 2L), (3L, t0 + 2 * gapUs - 3L), // bridged across slices
      (4L, t0 + 3 * gapUs))                         // lone late event
    val dir = "/tmp/graft-opentail-edges"
    locally { val f = new java.io.File(dir)
      if (f.exists()) { def rm(x: java.io.File): Unit = {
        Option(x.listFiles()).foreach(_.foreach(rm)); x.delete() }; rm(f) } }
    val cut = t0 + gapUs
    def write(rows: Seq[(Long, Long)]): Unit =
      rows.toDF("user_id", "us")
        .select(col("user_id"), timestamp_micros(col("us")).as("ts"))
        .coalesce(1).write.mode("append").parquet(dir)
    write(events.filter(_._2 < cut))
    write(events.filter(_._2 >= cut))
    write(Seq((-1L, t0 + 10 * gapUs))) // sentinel flushes every tail island
    val stream = spark.readStream
      .schema(spark.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    val q = StreamRunner.sessionizeOpenTail(spark, stream).writeStream
      .format("memory").queryName("spec_opentail_edges").outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("spec_opentail_edges").filter(col("user_id") >= 0)
      .orderBy("user_id", "session_start_us")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(
      (1L, t0, 1L), (1L, t0 + gapUs, 1L),           // split at exactly gap
      (2L, t0, 2L),                                 // merged under gap
      (3L, t0 + gapUs - 2L, 2L),                    // ONE bridged session
      (4L, t0 + 3 * gapUs, 1L)))
    // Spark's session_window differs at EXACTLY the boundary: it merges
    // TOUCHING sessions (an event at last + gap extends the window),
    // while the island rule — the handler's, sessionizeFlat's, and the
    // DuckDB oracle's `>= gap starts a new session` — splits there. Pin
    // the divergence so it is knowledge, not a surprise: user 1's
    // exact-gap pair is ONE session of 2 under session_window and two
    // sessions of 1 under the islands. On the driver's corpora the two
    // agree everywhere (micros-resolution event times make exact-gap
    // pairs measure-zero — every stream==batch pin in this suite holds
    // on real data); this case exists to keep the boundary semantics of
    // each form explicit.
    val batchRows = StreamRunner.sessionAgg(
        spark.read.parquet(dir).filter(col("user_id") >= 0))
      .orderBy("user_id", "session_start_us")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(batchRows == Seq(
      (1L, t0, 2L),                                 // session_window MERGES at gap
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
