package graft.queries

import org.apache.spark.sql.functions._
import graft.sources.Tables

/** SURVEY.md §2 rows B9 (range join), B17/B18 (map/JSON), B19 (windowed
  * time aggregation — the oracle-checkable batch equivalents of the
  * streaming runner in [[graft.streaming.StreamRunner]]).
  *
  * Timestamps never leave the engine raw: outputs carry `unix_micros` BIGINTs
  * (exact in both engines; DuckDB `epoch_us`). Window starts are epoch-aligned
  * in both engines, so bucket arithmetic is exact integer math.
  */
object EventQueries {

  val all: Seq[Q] = Seq(

    // B9 — range join, binned to stay equi-joinable at scale. For each
    // 'error' event: count same-user events in (ts, ts+10min]. A naive theta
    // join is a BroadcastNestedLoop (O(n^2) — dead at 100 TB); instead each
    // probe row explodes to its two candidate 10-minute buckets and the join
    // is a plain shuffled equi-join on (user_id, bucket) with a residual
    // range filter. Bucket width = range width keeps the candidate set at
    // exactly 2 buckets per row.
    Q("q_join_range",
      """WITH probe AS (
  SELECT event_id, user_id, ts, epoch_us(ts) // 600000000 AS b
  FROM events WHERE event_type = 'error'
), cand AS (
  SELECT p.event_id, p.user_id, p.ts, u.cb
  FROM probe p, UNNEST([p.b, p.b + 1]) AS u(cb)
)
SELECT c.event_id, COUNT(e.event_id) AS n_following
FROM cand c LEFT JOIN events e
  ON c.user_id = e.user_id
  AND epoch_us(e.ts) // 600000000 = c.cb
  AND e.ts > c.ts
  AND epoch_us(e.ts) <= epoch_us(c.ts) + 600000000
GROUP BY c.event_id ORDER BY c.event_id""") { (s, d) =>
      val ev = Tables.events(s, d)
      val width = 600000000L // 10 minutes in microseconds
      // Exact integer floor-division (`div`), never double `/`: epoch-micros
      // quotients sit closer to integer boundaries than double ulps.
      val probe = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id").as("p_user"),
          unix_micros(col("ts")).as("p_ts"))
        .withColumn("pb", expr(s"p_ts div ${width}L"))
        .withColumn("cb", explode(array(col("pb"), col("pb") + 1)))
        .drop("pb")
      val build = ev.select(col("event_id").as("e_id"),
        col("user_id").as("e_user"), unix_micros(col("ts")).as("e_ts"))
        .withColumn("eb", expr(s"e_ts div ${width}L"))
      probe.join(build,
          col("p_user") === col("e_user") && col("cb") === col("eb") &&
            col("e_ts") > col("p_ts") && col("e_ts") <= col("p_ts") + width,
          "left")
        .groupBy(col("event_id"))
        .agg(count(col("e_id")).as("n_following"))
        .orderBy("event_id")
    },

    // B9'' — the SAME range semantics written as a natural theta-join,
    // relying on [[graft.plans.RangeJoinRewriteRule]] to plan the binned
    // equi-join automatically (no user key at all here, so without the
    // rule this is a BroadcastNestedLoopJoin — the shape users actually
    // write). PlanAuditSpec proves the nested loop is gone; the oracle
    // proves the rewrite preserved semantics. The rule loads with
    // spark.sql.extensions=graft.GraftExtensions, which every engine
    // session (Verify/Bench/tests) sets.
    Q("q_join_range_auto",
      """WITH probe AS (
  SELECT event_id, epoch_us(ts) AS p_ts FROM events WHERE event_type = 'error'
)
SELECT p.event_id, COUNT(e.event_id) AS n_any
FROM probe p JOIN events e
  ON epoch_us(e.ts) > p.p_ts AND epoch_us(e.ts) <= p.p_ts + 600000000
GROUP BY p.event_id ORDER BY p.event_id""") { (s, d) =>
      val ev = Tables.events(s, d)
      val probe = ev.filter(col("event_type") === "error")
        .select(col("event_id"), unix_micros(col("ts")).as("p_ts"))
      val build = ev.select(col("event_id").as("e_id"),
        unix_micros(col("ts")).as("e_ts"))
      probe.join(build,
          col("e_ts") > col("p_ts") &&
            col("e_ts") <= col("p_ts") + 600000000L)
        .groupBy(col("event_id"))
        .agg(count(col("e_id")).as("n_any"))
        .orderBy("event_id")
    },

    // B18 — JSON extraction from the props payload.
    Q("q_json_funcs",
      """SELECT event_id, TRY_CAST(json_extract_string(props, '$.k') AS INT) AS k_val,
  json_extract_string(props, '$.k') IS NOT NULL AS has_k
FROM events ORDER BY event_id""") { (s, d) =>
      Tables.spreadSmall(s, d, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k_val"),
          get_json_object(col("props"), "$.k").isNotNull.as("has_k"))
        .orderBy("event_id")
    },

    // B17 — map functions over the parsed JSON payload.
    Q("q_map_funcs",
      """SELECT event_id,
  TRY_CAST(json_extract_string(props, '$.k') AS INT) AS k_val,
  CAST(len(json_keys(props)) AS INT) AS n_keys,
  array_to_string(json_keys(props), ',') AS keys_csv
FROM events ORDER BY event_id""") { (s, d) =>
      val m = from_json(col("props"), "map<string,string>",
        Map.empty[String, String])
      Tables.spreadSmall(s, d, "events")
        .select(col("event_id"),
          element_at(m, "k").cast("int").as("k_val"),
          size(map_keys(m)).as("n_keys"),
          array_join(map_keys(m), ",").as("keys_csv"))
        .orderBy("event_id")
    },

    // B19a — tumbling 1-hour window aggregation (batch form of the
    // streaming query; StreamRunner runs the identical plan on readStream).
    Q("q_stream_tumbling",
      """SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events GROUP BY 1 ORDER BY window_start_us""") { (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
        .select(unix_micros(col("window.start")).as("window_start_us"),
          col("n_events"), col("total_value"))
        .orderBy("window_start_us")
    },

    // B19b — sliding window (1 hour, slide 30 min): every event lands in
    // exactly two epoch-aligned windows; the oracle enumerates them with
    // integer bucket math.
    Q("q_stream_sliding",
      """WITH ex AS (
  SELECT e.*, (epoch_us(ts) // 1800000000 + u.off) * 1800000000 AS ws
  FROM events e, UNNEST([-1, 0]) AS u(off)
)
SELECT ws AS window_start_us, COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM ex GROUP BY ws ORDER BY window_start_us""") { (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour", "30 minutes"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
        .select(unix_micros(col("window.start")).as("window_start_us"),
          col("n_events"), col("total_value"))
        .orderBy("window_start_us")
    },

    // B19c — session windows (10-minute gap) per user. The oracle rebuilds
    // Spark's merge semantics as gap-islands: a new session starts when the
    // previous same-user event is >= gap earlier. Boundary caveat, pinned
    // by StreamingSpec's exact-gap case: session_window merges a pair
    // spaced EXACTLY gap apart (touching windows coalesce) where the
    // island rule splits it — the two agree on every driver corpus
    // because micros-resolution event times make exact-gap pairs
    // measure-zero.
    Q("q_stream_session",
      """WITH flagged AS (
  SELECT user_id, ts,
    CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= 600000000
           OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, epoch_us(ts))
), islands AS (
  SELECT user_id, ts,
    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
)
SELECT user_id, epoch_us(MIN(ts)) AS session_start_us, COUNT(*) AS n_events
FROM islands GROUP BY user_id, sid ORDER BY user_id, session_start_us""") { (s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"), session_window(col("ts"), "10 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("session_start_us"),
          col("n_events"))
        .orderBy("user_id", "session_start_us")
    },

    // B19d — dedup-by-key, batch form, made deterministic: the first row
    // per (user_id, event_type) by (ts, event_id), where a streaming
    // first-ARRIVAL would depend on replay order. One shuffle (window
    // partition), filter rn=1 — at 100 TB this is the standard
    // keep-one-per-key repair after an at-least-once ingest.
    Q("q_stream_dedup",
      """WITH r AS (
  SELECT user_id, event_type, event_id, ts,
    ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                       ORDER BY ts, event_id) AS rn
  FROM events)
SELECT user_id, event_type, event_id AS first_event_id,
  epoch_us(ts) AS first_ts_us
FROM r WHERE rn = 1 ORDER BY user_id, event_type""") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"),
          col("event_id").as("first_event_id"),
          unix_micros(col("ts")).as("first_ts_us"))
        .orderBy("user_id", "event_type")
    },

    // Funnel analysis: users progressing view -> click -> purchase, each
    // step within 30 minutes of the previous one (first qualifying event
    // per step). Three per-user aggregates chained by equi-joins on
    // user_id — every stage is keyed and partial-aggregated, and each
    // stage's frame only shrinks, so the chain scales as three cheap
    // shuffles on the same key. All time math in exact integer micros.
    Q("q_event_funnel",
      """WITH v AS (
  SELECT user_id, MIN(epoch_us(ts)) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, MIN(epoch_us(e.ts)) AS t2
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click'
    AND epoch_us(e.ts) > v.t1 AND epoch_us(e.ts) <= v.t1 + 1800000000
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, MIN(epoch_us(e.ts)) AS t3
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase'
    AND epoch_us(e.ts) > c.t2 AND epoch_us(e.ts) <= c.t2 + 1800000000
  GROUP BY e.user_id
)
SELECT (SELECT COUNT(*) FROM v) AS n_view,
       (SELECT COUNT(*) FROM c) AS n_click,
       (SELECT COUNT(*) FROM p) AS n_purchase""") { (s, d) =>
      val W = 1800000000L // 30 minutes in micros
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("t"))
      // each stage feeds TWO consumers (its count + the next stage's
      // build side) and Spark re-executes a shared subplan per consumer —
      // a repeated full fact pass at 100 TB. Deferred materializations
      // store each stage once at execution, nothing at plan time.
      def step(prev: org.apache.spark.sql.DataFrame, prevT: String,
          etype: String, outT: String) =
        graft.Materialize.deferred(ev.filter(col("event_type") === etype)
          .join(prev, "user_id")
          .filter(col("t") > col(prevT) && col("t") <= col(prevT) + W)
          .groupBy("user_id").agg(min(col("t")).as(outT)), s"q_event_funnel $etype")
      val v = graft.Materialize.deferred(ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("t")).as("t1")), "q_event_funnel view")
      val c = step(v, "t1", "click", "t2")
      val p = step(c, "t2", "purchase", "t3")
      v.agg(count(lit(1)).as("n_view"))
        .crossJoin(c.agg(count(lit(1)).as("n_click")))
        .crossJoin(p.agg(count(lit(1)).as("n_purchase")))
    },

    // Time-series resampling with gap fill: per-minute event counts over
    // the full observed span, empty minutes emitted as zero. The bin
    // spine comes from a single-row min/max aggregate exploded to the
    // timeline — bounded by the TIME RANGE, never by data volume — and
    // the left join back to the binned counts is a plain equi-join on
    // the bin. Positive epoch micros, so `div` == floor division.
    Q("q_event_resample",
      """WITH b AS (
  SELECT epoch_us(MIN(ts)) // 60000000 AS mn,
         epoch_us(MAX(ts)) // 60000000 AS mx FROM events
), bins AS (SELECT unnest(range(mn, mx + 1)) AS bin FROM b),
c AS (
  SELECT epoch_us(ts) // 60000000 AS bin, COUNT(*) AS n_events
  FROM events GROUP BY 1
)
SELECT bins.bin * 60000000 AS bin_start_us,
  COALESCE(c.n_events, 0) AS n_events
FROM bins LEFT JOIN c USING (bin) ORDER BY bin_start_us""") { (s, d) =>
      val width = 60000000L // one minute in micros
      val ev = Tables.events(s, d)
        .select(expr(s"unix_micros(ts) div ${width}L").as("bin"))
      // The spine's min/max derive from the binned counts, not the raw
      // events — a separate global min/max aggregate scanned the fact
      // table a second time. The counts table is bounded by the TIME
      // RANGE (one row per observed minute), so materializing it for its
      // two consumers (spine + join) is cheap and the corpus is read once.
      // DEFERRED (r10): both consumers (spine + join) run inside the ONE
      // final query execution, whose first task to touch a partition
      // stores it — an eager checkpoint here paid a dedicated
      // driver-blocking job at build time for nothing
      val counts = graft.Materialize.deferred(
        ev.groupBy("bin").agg(count(lit(1)).as("n_events")), "q_event_resample counts")
      val bins = counts.agg(min(col("bin")).as("mn"), max(col("bin")).as("mx"))
        .select(explode(sequence(col("mn"), col("mx"))).as("bin"))
      bins.join(counts, Seq("bin"), "left")
        .select((col("bin") * width).as("bin_start_us"),
          coalesce(col("n_events"), lit(0L)).as("n_events"))
        .orderBy("bin_start_us")
    },

    // Fixed-width histogram of the value column per event type — the
    // one-pass groupBy(type, bucket) shape (never a per-row UDF or a
    // driver-side pass). floor(double/50) is identical IEEE arithmetic
    // in both engines; the per-bucket sum aggregates in DECIMAL for
    // engine-exact totals (double addition is order-dependent).
    Q("q_event_histogram",
      """SELECT event_type, CAST(FLOOR(value / 50) AS BIGINT) AS bucket,
  COUNT(*) AS n,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY event_type, bucket
ORDER BY event_type, bucket""") { (s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"),
          floor(col("value") / 50).as("bucket"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("sum_value"))
        .orderBy("event_type", "bucket")
    },

    // Interval join, batch form (B19): purchases within 10 minutes after
    // a same-user error. The user_id equality makes this a plain hash/SMJ
    // join with the time interval as a residual predicate (the binned-range
    // rewrite is for joins with NO equi-conjunct); timestamps compare as integer
    // micros in both engines regardless of the file's physical type —
    // Tables.normalizeTs maps both known generations (nanos BIGINT and
    // micros-NTZ) to the same micros instants.
    Q("q_stream_join",
      """WITH e AS (
  SELECT event_id, user_id, epoch_us(ts) AS t FROM events
  WHERE event_type = 'error'),
p AS (
  SELECT event_id, user_id, epoch_us(ts) AS t FROM events
  WHERE event_type = 'purchase')
SELECT e.event_id AS err_id, p.event_id AS pur_id
FROM e JOIN p ON p.user_id = e.user_id
  AND p.t > e.t AND p.t <= e.t + 600000000
ORDER BY err_id, pur_id""") { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("t"), col("event_type"))
      val e = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"), col("user_id").as("eu"),
          col("t").as("et"))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("pur_id"), col("user_id").as("pu"),
          col("t").as("pt"))
      e.join(p, col("pu") === col("eu") &&
          col("pt") > col("et") && col("pt") <= col("et") + 600000000L)
        .select(col("err_id"), col("pur_id"))
        .orderBy("err_id", "pur_id")
    }
  )
}
