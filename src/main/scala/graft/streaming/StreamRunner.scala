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

  /** Stream-stream inner join with a time-interval condition: purchases
    * within 10 minutes after a same-user error. Watermarks on BOTH sides
    * bound the join state — each side buffers only rows newer than
    * (watermark - interval), so state is O(recent window), not O(stream).
    */
  def purchaseAfterErrorJoin(events: DataFrame): DataFrame = {
    val errors = events.filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("user_id").as("err_user"),
        col("ts").as("err_ts"))
      .withWatermark("err_ts", "10 minutes")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pur_id"), col("user_id").as("pur_user"),
        col("ts").as("pur_ts"))
      .withWatermark("pur_ts", "10 minutes")
    errors.join(purchases,
      expr("""pur_user = err_user
              AND pur_ts > err_ts
              AND pur_ts <= err_ts + INTERVAL 10 MINUTES"""))
      .select(col("err_id"), col("pur_id"))
  }

  /** Streaming dedup-by-key: keeps the first-arriving row per
    * (user_id, event_type) — the at-least-once → exactly-once repair step
    * of a streaming ingest. State is the key set (O(distinct keys), held
    * for the life of a bounded replay); the production variant for
    * unbounded streams is `dropDuplicatesWithinWatermark`, which evicts a
    * key once the watermark passes the dedup horizon — the right tool
    * when duplicates arrive close together (the real at-least-once
    * delivery pattern). First-ARRIVAL is inherently order-dependent, so
    * StreamingSpec compares the emitted KEY SET against the batch form
    * (`q_stream_dedup` pins the deterministic first-by-ts row).
    */
  def dedupByKey(events: DataFrame): DataFrame =
    events.dropDuplicates("user_id", "event_type")
      .select(col("user_id"), col("event_type"))

  /** The unbounded-stream dedup path the [[dedupByKey]] scaladoc names:
    * `dropDuplicatesWithinWatermark` evicts a key's state once the
    * watermark passes its dedup horizon, so state is O(keys active within
    * the horizon) instead of O(all keys ever) — the right tool for
    * at-least-once replay where duplicates arrive close together.
    */
  def dedupWithinWatermark(events: DataFrame,
      horizonMinutes: Int = 30): DataFrame =
    events.withWatermark("ts", s"$horizonMinutes minutes")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"))

  /** Custom arbitrary-state operator (B19 escape hatch): per-user event
    * counting via mapGroupsWithState — the shape for state machines that
    * windowed aggregation can't express (session carts, fraud traces,
    * dedup-by-key). State lives in the state store keyed by user_id, so it
    * scales with distinct keys, not events; at 100 TB the watermark-driven
    * timeout (not used here — bounded input) is what bounds it.
    */
  def statefulCounts(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    events.select(col("user_id"), col("event_id"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        (user: Long, rows: Iterator[(Long, Long)],
         state: org.apache.spark.sql.streaming.GroupState[Long]) => {
          val total = state.getOption.getOrElse(0L) + rows.size
          state.update(total)
          (user, total)
        })
      .toDF("user_id", "n_events")
  }

  /** Custom sessionizer via flatMapGroupsWithState (B19's other escape
    * hatch): emits one row PER SESSION — `session_window` can only
    * aggregate within Spark's merge semantics, while this shape carries
    * arbitrary per-session payloads (here start + event count; in
    * production the ordered event path, entry/exit pages, etc.).
    *
    * Gap-island splitting runs inside the handler over the user's
    * accumulated event times. Bounded AvailableNow replay of the single
    * events file arrives as ONE batch, so the handler flushes every
    * session at batch end — deterministic here, and StreamingSpec pins
    * stream == the oracle-checked q_stream_session rows exactly. The
    * single-batch contract is ENFORCED: a flushed-key marker stays in
    * state, and a second batch touching the same key throws rather than
    * silently emitting fragmented sessions (e.g. if the source glob ever
    * matches a multi-file table). An unbounded deployment uses
    * [[sessionizeOpenTail]] instead: open islands stay in state with
    * GroupStateTimeout.EventTimeTimeout and emit when the watermark
    * passes last_event + gap — O(active users) state, not O(events).
    */
  def sessionizeFlat(spark: SparkSession, events: DataFrame,
      gapMinutes: Int = 10): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val gap = gapMinutes * 60000000L
    events.select(col("user_id"), unix_micros(col("ts")).as("t"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[List[Long], (Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long)],
         state: org.apache.spark.sql.streaming.GroupState[List[Long]]) =>
          val prior = state.getOption.getOrElse(Nil)
          if (prior.headOption.contains(Long.MinValue))
            throw new IllegalStateException(
              s"sessionizeFlat already flushed key $user in an earlier " +
                "micro-batch — the bounded single-batch replay contract is " +
                "violated; use an EventTimeTimeout variant for multi-batch " +
                "streams")
          val ts = (prior.filterNot(_ == Long.MinValue) ++ rows.map(_._2)).sorted
          state.update(List(Long.MinValue)) // flushed marker: fail loud later
          if (ts.isEmpty) Iterator.empty
          else {
            val sessions = List.newBuilder[(Long, Long, Long)]
            var start = ts.head; var last = ts.head; var n = 1L
            ts.tail.foreach { t =>
              if (t - last >= gap) {
                sessions += ((user, start, n)); start = t; n = 0L
              }
              last = t; n += 1
            }
            sessions += ((user, start, n))
            sessions.result().iterator
          }
      }
      .toDF("user_id", "session_start_us", "n_events")
  }

  /** The production (unbounded, multi-batch) sessionizer the
    * [[sessionizeFlat]] scaladoc promises (VERDICT r7 item 2): per-user
    * gap-island sessions via flatMapGroupsWithState with
    * GroupStateTimeout.EventTimeTimeout. Same session rule as the batch
    * `q_stream_session` (a gap of exactly `gapMinutes` starts a NEW
    * session), same output columns, but the state is the per-user list of
    * OPEN session islands as (start, last, n) triples — O(active users),
    * not O(events) — and sessions are emitted exactly when the event-time
    * watermark passes last_event + gap:
    *
    *  - each batch merges the user's incoming event times (sorted, then
    *    coalesced into islands) with the pending islands, bridging
    *    islands a new event connects — correctness does not depend on
    *    arrival order within the watermark allowance, because an island
    *    is FINAL only once the watermark passes its last + gap, and
    *    Spark drops rows older than the watermark, so no surviving
    *    future row can land inside a finalized island's gap horizon;
    *  - finalized islands emit and leave state; the remainder stays, with
    *    the event-time timeout set to the EARLIEST pending island's
    *    last + gap, so a user who goes quiet still flushes on watermark
    *    advance (the timeout path re-enters this handler with no rows);
    *  - a user with no pending islands leaves NO state behind.
    *
    * At 100 TB/day the state store therefore holds one small island list
    * per user active within the gap horizon — the bounded contract
    * [[sessionizeFlat]]'s single-batch replay shape cannot offer.
    * StreamingSpec replays a time-ordered MULTI-file events table at
    * maxFilesPerTrigger=1 through this and pins the emitted rows against
    * the oracle-checked batch q_stream_session result.
    */
  def sessionizeOpenTail(spark: SparkSession, events: DataFrame,
      gapMinutes: Int = 10,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val gap = gapMinutes * 60000000L // micros
    events.withWatermark("ts", watermarkDelay)
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("t"))
      .as[(Long, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[List[(Long, Long, Long)], (Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp, Long)],
         state: org.apache.spark.sql.streaming.GroupState[List[(Long, Long, Long)]]) =>
          // watermark in micros; ms granularity only ever UNDER-states it,
          // which delays emission by ≤1 ms but never emits early
          val wm = state.getCurrentWatermarkMs() * 1000L
          val pending = state.getOption.getOrElse(Nil)
          // sorted-by-start islands: pending ++ each new time as (t, t, 1),
          // coalesced under the batch rule (merge while start - last < gap)
          val merged = (pending ++ rows.map(r => (r._3, r._3, 1L)))
            .sortBy(i => (i._1, i._2))
            .foldLeft(List.empty[(Long, Long, Long)]) {
              case (acc, i) => acc match {
                case h :: t if i._1 - h._2 < gap =>
                  (h._1, math.max(h._2, i._2), h._3 + i._3) :: t
                case _ => i :: acc
              }
            }.reverse
          val (closed, open) = merged.partition(i => i._2 + gap <= wm)
          if (open.isEmpty) state.remove()
          else {
            state.update(open)
            // earliest possible finalization; floor-ms + 1 keeps the
            // timeout strictly past the current watermark, as the API
            // requires (open islands satisfy last + gap > wm in micros)
            state.setTimeoutTimestamp((open.head._2 + gap) / 1000L + 1L)
          }
          closed.map(i => (user, i._1, i._3)).iterator
      }
      .toDF("user_id", "session_start_us", "n_events")
  }

  /** Drain a stream to the in-memory table `name` with
    * Trigger.AvailableNow, returning the materialized result. `mode` is
    * the output mode: complete (the default) holds an aggregation's final
    * window results; update (required by mapGroupsWithState) holds one
    * row per state update, so readers take the last update per key;
    * append suits append-only streams such as stream-stream joins. Used
    * by StreamingSpec, IncrementalStreamSpec and the demo main.
    */
  def runToMemory(spark: SparkSession, df: DataFrame, name: String,
      mode: OutputMode = OutputMode.Complete()): DataFrame = {
    val q = df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(mode)
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
