package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** Structured Streaming surface (SURVEY.md §2 B19): the reference is a
  * scheduled batch pull (`/root/reference/task.ts:46`), whose idiomatic
  * Spark analog is a file-source stream drained with Trigger.AvailableNow —
  * each scheduled run processes exactly the data that has arrived since the
  * last checkpoint, then stops.
  *
  * The streaming aggregations here are the SAME logical plans as the
  * batch-equivalent queries `q_stream_tumbling`/`q_stream_session`
  * (EventQueries.scala) — StreamingSpec asserts stream == batch on the
  * driver's events table. Watermarks bound state: at 100 TB/day the state
  * store only ever holds windows newer than (max event time - watermark).
  */
object StreamRunner {

  /** The events parquet table as a bounded file stream with the batch
    * schema, `maxFilesPerTrigger` files per micro-batch (the default 1
    * keeps multi-file dirs fully incremental). Handles both physical
    * layouts the data generators produce: a single `events.parquet` FILE (driver testdata — stream
    * the sf dir with a glob selecting just that file) and an
    * `events.parquet` DIRECTORY of part files (ScaleGen output — stream
    * the directory itself; a file-glob on the parent would match nothing
    * and silently stream zero rows, the r6 sf100 measurement bug).
    */
  def eventsStream(spark: SparkSession, sfDir: String,
      maxFilesPerTrigger: Int = 1): DataFrame = {
    val batchSchema = spark.read.parquet(s"$sfDir/events.parquet").schema
    // A multi-file table is NOT time-ordered across part files, so a
    // 1-file replay legitimately watermark-drops most rows as late; the
    // at-scale state-store measurement sets this high enough to replay
    // in one batch, where the watermark cannot drop anything and the
    // result is batch-equivalent (the StreamingSpec semantic).
    val reader = spark.readStream
      .schema(batchSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toLong)
    val raw =
      if (new java.io.File(s"$sfDir/events.parquet").isDirectory)
        reader.parquet(s"$sfDir/events.parquet")
      else
        reader.option("pathGlobFilter", "events.parquet").parquet(sfDir)
    // the ONE timestamp normalization, shared with the batch loaders —
    // nanos-as-long and timezone-less micros generations both become
    // micros TimestampType (see Tables.normalizeTs)
    graft.sources.Tables.normalizeTs(raw)
  }

  /** Tumbling 1-hour windowed aggregation with a 10-minute watermark —
    * late rows beyond the watermark are dropped, state is bounded.
    */
  def tumblingAgg(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("n_events"), col("total_value"))

  /** Per-user session windows (10-minute gap), watermarked. */
  def sessionAgg(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "10 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        col("n_events"))

  /** Drain an aggregation stream to the in-memory table `name` with
    * Trigger.AvailableNow in complete mode, returning the materialized
    * final window results. Used by StreamingSpec, IncrementalStreamSpec
    * and the demo main.
    */
  def runToMemory(spark: SparkSession, df: DataFrame, name: String): DataFrame = {
    val q = df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(OutputMode.Complete())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name)
  }

  /** Demo/measurement main: run both streaming aggs over a sf dir through
    * the REAL streaming path (file source -> state store -> memory sink)
    * and print per-agg wall time — the at-scale evidence for the state
    * store posture (VERDICT r5 item 6). SPARK_GRAFT_CPUS sizes the local
    * master, SPARK_GRAFT_STREAM_MAX_FILES (default 1) is the timed
    * streams' `maxFilesPerTrigger` and SPARK_GRAFT_STATE_STORE picks the
    * state store, all read through [[graft.Session.env]].
    * Usage: runMain graft.streaming.StreamRunner <sfDir>
    */
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val env = graft.Session.env()
    // SPARK_GRAFT_STATE_STORE=rocksdb swaps the streaming state store to
    // the RocksDB provider (VERDICT r6 item 1): the default HDFS-backed
    // store holds ALL state on the executor heap, and the session
    // aggregation's state grows with the stream (~one entry per event at
    // this corpus's 10-minute-gap density). MEASURED, not projected
    // (BASELINE.md r7): the heap store serves 1e8 session entries and
    // OOMs an 80 GB heap at 3e8 (sf300) and 1e9 (sf1000, reproduced);
    // RocksDB completes sf300 in 260 s and at sf1000 is bounded by local
    // DISK, not RAM — the resource that scales with executor count.
    // Stream ≡ batch results are provider-independent (StreamingSpec
    // pins both). Session.env rejects any other value.
    val provider = env.stateStore
    val extra =
      if (provider == "rocksdb") Map(
        "spark.sql.streaming.stateStore.providerClass" ->
          ("org.apache.spark.sql.execution.streaming.state." +
            "RocksDBStateStoreProvider"))
      else Map.empty[String, String]
    val spark = graft.Session.build(sfDir, env.cpus, extra)
    println(s"[streambench] state store provider: $provider")
    def timed[A](what: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[streambench] $what: ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }
    // drain through the noop sink: the memory sink collects every output
    // row on the driver, which at 100 M events (tens of millions of
    // sessions, complete-mode re-emission per trigger) measures driver
    // collection, not the state store. Complete mode still materializes
    // the full state store per trigger; the noop sink just discards the
    // driver copy.
    def drainNoop(agg: DataFrame, mode: String): Unit = {
      val q = agg.writeStream.format("noop")
        .outputMode(mode)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def events() = eventsStream(spark, sfDir, env.streamMaxFiles)
    timed("tumbling (1h windows, 10m watermark)") {
      drainNoop(tumblingAgg(events()), "complete")
    }
    timed("session (per-user 10m gap, 10m watermark)") {
      drainNoop(sessionAgg(events()), "complete")
    }
    // small-dir sanity: row counts via the memory sink (the demo shape)
    if (!new java.io.File(s"$sfDir/events.parquet").isDirectory) {
      val tumbling = runToMemory(spark, tumblingAgg(events()), "t")
      val sessions = runToMemory(spark, sessionAgg(events()), "s")
      println(s"tumbling windows: ${tumbling.count()}, sessions: ${sessions.count()}")
    }
    spark.stop()
  }
}
