package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.{CalTopo, Vectors}
import graft.sources.{CalTopoFeatures, Tables}

/** Coverage completers for SURVEY.md §2: cube (B4), HLL approximate
  * distinct (B3), embedding-cosine near-dup pairs (B20), and the scalar
  * UDF / generator (UDTF) representatives (B24).
  */
object ExtraQueries {

  /** Scalar UDF representative: the generic GeoJSON coordinate walk
    * (A10's arbitrary-rank form, [[CalTopo.truncateCoordsJson]]) as a
    * registered Scala function — the escape hatch for logic HOFs can't
    * express. Kept OFF hot paths: UDFs break whole-stage codegen; UdfSpec
    * asserts it agrees with the codegen'd typed implementation on every
    * driver row.
    */
  val truncateCoordsJson: String => String = CalTopo.truncateCoordsJson

  val all: Seq[Q] = Seq(

    // B4b — cube: all grouping combinations of (orderstatus, priority).
    Q("q_cube",
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""") { (s, d) =>
      // r15: spread REVERTED (r14) — driver ground truth 0.78×, 8-core
      // ratio 0.85: the cube's Expand already multiplies rows 4× before
      // the partial agg, so the kernel is cheap relative to the added
      // exchange (PERF_r14.json; VERDICT r14 item 2)
      Tables.orders(s, d)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("total_spent"))
        .orderBy(asc_nulls_first("o_orderstatus"),
          asc_nulls_first("o_orderpriority"))
    },

    // B3b — HLL++ approximate distinct. The sketch VALUE is not
    // DuckDB-replicable (different HLL internals), so the declared output
    // carries the exact count plus a within-5%-of-exact FLAG computed
    // genuinely from Spark's estimate; the oracle declares the flag's
    // expected value (TRUE — rsd=2% against a 5% bound), which makes the
    // row fully hash-checkable: if the sketch ever strays past the bound,
    // the driver's hash check goes red (VERDICT r6 item 7; rows-only
    // count 11 -> 10). ExtraSpec still pins the raw estimate's error
    // independently.
    //
    // Shape (r7): ONE deduplicating pass, then both counts over the
    // distinct (status, custkey) pairs. HLL registers are a max over
    // hashed values, so duplicates are idempotent — the estimate over the
    // deduped pairs is BITWISE the estimate over the raw column — while
    // the exact count becomes a plain count(*). This replaces the
    // count_distinct rewrite's 2x Expand over the full scan with a
    // map-side-combinable distinct (measured 1.48 -> 0.6 s at sf0.1);
    // at 100 TB the first shuffle carries only the distinct pairs.
    Q("q_agg_approx_distinct",
      """SELECT o_orderstatus,
  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_cust,
  TRUE AS within_5pct
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""") { (s, d) =>
      Tables.orders(s, d)
        .select(col("o_orderstatus"), col("o_custkey"))
        .distinct()
        .groupBy(col("o_orderstatus"))
        // count(col), not count(*): a NULL custkey survives distinct() as
        // a (status, NULL) row, and SQL COUNT(DISTINCT o_custkey) — the
        // declared oracle — excludes NULLs, as does approx_count_distinct;
        // counting the column keeps all three null-consistent while an
        // all-NULL status group still surfaces (with exact_cust = 0)
        .agg(
          count(col("o_custkey")).as("exact_cust"),
          approx_count_distinct(col("o_custkey"), 0.02).as("approx_cust"))
        .select(col("o_orderstatus"), col("exact_cust"),
          (abs(col("approx_cust") - col("exact_cust")) <=
            col("exact_cust") * lit(0.05)).as("within_5pct"))
        .orderBy("o_orderstatus")
    },

    // B20f — embedding-cosine similar pairs (cos >= 0.3; this synthetic corpus has no planted near-identical vectors) over a vec_id neighbor window
    // (the SQL-expressible blocking stand-in; the LSH-bucketed variant is
    // q_knn_lsh). Exact double folds -> bitwise-equal cosines.
    Q("q_dedup_embedding",
      s"""WITH pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
    list_reduce(list_prepend(CAST(0 AS DOUBLE),
      list_transform(range(1, len(a.embedding) + 1),
        i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))), (x, y) -> x + y)
    / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        list_transform(a.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))), (x, y) -> x + y))
     * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        list_transform(b.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))), (x, y) -> x + y))) AS cos_sim
  FROM embeddings a JOIN embeddings b
    ON b.vec_id > a.vec_id AND b.vec_id <= a.vec_id + 10)
SELECT id_a, id_b, cos_sim FROM pairs WHERE cos_sim >= 0.3
ORDER BY id_a, id_b""") { (s, d) =>
      graft.operators.Dedup.embeddingPairs(
          Tables.embeddings(s, d), window = 10, threshold = 0.3)
        .orderBy("id_a", "id_b")
    },

    // B3c — exact percentiles (continuous interpolation), computed
    // DISTRIBUTED by [[graft.operators.Percentiles.exact]]: built-in
    // percentile() buffers and sorts every group value in ONE reduce task
    // per group (3 groups = 3 tasks, 29 idle cores; measured 2.8 s as the
    // r2 bench's slowest query). The operator sketch-brackets each target
    // rank, probes exact ranks, bisection-refines any bracket over the
    // slice cap (removing the r3 group-size cliff — at 1e11 rows/group
    // the old one-shot slice was 4e8 doubles in one buffer), and handles
    // sub-floor groups by whole-group collection (the r3 small-group
    // NULL). Output depends only on (n, rank, values at rank) —
    // deterministic and bitwise-equal to DuckDB quantile_cont via the
    // symmetric interpolation (memory: graft-determinism-rules).
    Q("q_percentile",
      """SELECT l_returnflag,
  quantile_cont(l_extendedprice, 0.5) AS p50,
  quantile_cont(l_extendedprice, 0.95) AS p95
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""") { (s, d) =>
      graft.operators.Percentiles.exact(
          Tables.lineitem(s, d),
          col("l_returnflag"), col("l_extendedprice"),
          Seq("p50" -> 0.5, "p95" -> 0.95))
        .select(col("g").as("l_returnflag"), col("p50"), col("p95"))
        .orderBy("l_returnflag")
    },

    // B3d — approximate percentiles: the sketch is the 100 TB path
    // (percentile_approx's KLL-style summary is bounded-memory and
    // mergeable where exact percentile buffers a whole group). Sketch
    // internals aren't SQL-replicable, so (same pattern as
    // q_agg_approx_distinct) the DECLARED output carries the exact
    // interpolated percentiles (Percentiles.exact — bitwise-equal to
    // DuckDB quantile_cont) plus a within_accuracy flag measured on the
    // machinery's OWN sketch: each raw target estimate's true-rank
    // interval [count(<v)+1, count(<=v)] must meet p·n within the
    // sketch's rank error n/accuracy, which is exactly the GK/KLL
    // guarantee. The estimates ride the bracket array and the rank counts
    // ride the probe scan, so the check adds no summary, scan or job; a
    // broken sketch flips the literal and the hash check goes red.
    // ExtraSpec still pins the raw estimates' error independently.
    Q("q_percentile_approx",
      """SELECT l_returnflag,
  quantile_cont(l_extendedprice, 0.5) AS p50,
  quantile_cont(l_extendedprice, 0.95) AS p95,
  TRUE AS within_accuracy
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""") { (s, d) =>
      graft.operators.Percentiles.exact(
          Tables.lineitem(s, d),
          col("l_returnflag"), col("l_extendedprice"),
          Seq("p50" -> 0.5, "p95" -> 0.95), flag = Some("within_accuracy"))
        .select(col("g").as("l_returnflag"), col("p50"), col("p95"),
          col("within_accuracy"))
        .orderBy("l_returnflag")
    },

    // Z-order layout key: Morton-interleave (l_partkey, l_suppkey) — the
    // multi-dimensional clustering key a 100 TB lineitem wants before
    // write (`sortWithinPartitions(zorder)`), so parquet row-group
    // min/max stats prune scans for predicates on EITHER column. Pure
    // codegen'd bit math ([[graft.functions.ZOrder]]); the oracle
    // replays the identical spread-mask chain in SQL.
    Q("q_zorder_key",
      """WITH s0 AS (
  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
    l_partkey & 4294967295 AS x0, l_suppkey & 4294967295 AS y0
  FROM lineitem),
s1 AS (SELECT *, (x0 | (x0 << 16)) & 281470681808895 AS x1,
               (y0 | (y0 << 16)) & 281470681808895 AS y1 FROM s0),
s2 AS (SELECT *, (x1 | (x1 << 8)) & 71777214294589695 AS x2,
               (y1 | (y1 << 8)) & 71777214294589695 AS y2 FROM s1),
s3 AS (SELECT *, (x2 | (x2 << 4)) & 1085102592571150095 AS x3,
               (y2 | (y2 << 4)) & 1085102592571150095 AS y3 FROM s2),
s4 AS (SELECT *, (x3 | (x3 << 2)) & 3689348814741910323 AS x4,
               (y3 | (y3 << 2)) & 3689348814741910323 AS y4 FROM s3),
s5 AS (SELECT *, (x4 | (x4 << 1)) & 6148914691236517205 AS x5,
               (y4 | (y4 << 1)) & 6148914691236517205 AS y5 FROM s4)
SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
  (x5 | (y5 << 1)) AS zorder
FROM s5 ORDER BY zorder, l_orderkey, l_linenumber""") { (s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"),
          graft.functions.ZOrder.interleave(col("l_partkey"),
            col("l_suppkey")).as("zorder"))
        .orderBy("zorder", "l_orderkey", "l_linenumber")
    },

    // North-star composition — the training-data-prep pipeline: quality
    // filter -> exact dedup -> survivor stats per language. One declarative
    // plan across all three stages (Catalyst fuses the filters into the
    // scan; the dedup groupBy is the only shuffle).
    Q("q_pipeline_training_prep",
      """WITH quality AS (
  SELECT doc_id, lang, text,
    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      / len(string_split(text, ' ')) AS diversity
  FROM documents
  WHERE len(string_split(text, ' ')) >= 20
), kept AS (
  SELECT MIN(doc_id) AS keeper, FIRST(lang ORDER BY doc_id) AS lang
  FROM quality WHERE diversity >= 0.5 GROUP BY lower(trim(text))
)
SELECT lang, COUNT(*) AS n_docs FROM kept GROUP BY lang ORDER BY lang""") { (s, d) =>
      val ws = split(col("text"), " ")
      val quality = Tables.documents(s, d)
        .filter(size(ws) >= 20)
        .withColumn("diversity",
          size(array_distinct(ws)).cast("double") / size(ws))
        .filter(col("diversity") >= 0.5)
      quality
        .groupBy(lower(trim(col("text"))))
        .agg(min(col("doc_id")).as("keeper"),
          min_by(col("lang"), col("doc_id")).as("lang"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("lang")
    },

    // As-of join (the operator Spark lacks natively): for each purchase
    // event, the most recent prior-or-simultaneous same-user error event.
    // Engine: union+window composition (one shuffle, no join node);
    // oracle: DuckDB's native ASOF JOIN. Both sides pre-reduce the error
    // stream to ONE row per (user_id, ts) — max event_id wins — because
    // ASOF tie choice among same-instant right rows is unspecified in
    // DuckDB and was nondeterministic in the window composition (ADVICE
    // r1); the operator-level guard is the tieBreak ordering.
    Q("q_join_asof",
      """SELECT p.event_id, e.err_id, e.err_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (
  SELECT user_id, ts, MAX(event_id) AS err_id,
         max_by(value, event_id) AS err_value
  FROM events WHERE event_type = 'error' GROUP BY user_id, ts
) e ON p.user_id = e.user_id AND e.ts <= p.ts
ORDER BY p.event_id""") { (s, d) =>
      val ev = Tables.events(s, d)
      val left = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val right = ev.filter(col("event_type") === "error")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("err_id"),
          max_by(col("value"), col("event_id")).as("err_value"))
      graft.operators.AsofJoin.backward(left, "ts", right, "ts",
          "user_id", Seq("err_id", "err_value"), tieBreak = Seq("err_id"))
        .select(col("event_id"), col("err_id"), col("err_value"))
        .orderBy("event_id")
    },

    // Pivot: quantity by returnflag x linestatus as columns.
    Q("q_pivot",
      """SELECT l_returnflag,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) FILTER (l_linestatus = 'F') AS DOUBLE) AS F,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) FILTER (l_linestatus = 'O') AS DOUBLE) AS O
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""") { (s, d) =>
      // r15: spread REVERTED (r14) — driver ground truth 0.62×, 8-core
      // ratio 0.57 (PERF_r14.json; VERDICT r14 item 2). Its twin q_unpivot
      // (identical pivot subtree) measured 1.39× IMPROVED on the same
      // ground truth and keeps the spread — the divergence on identical
      // shapes shows the spread's margin here sits inside host variance,
      // so only the cell the driver regressed is reverted.
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double"))
        .orderBy("l_returnflag")
    },

    // Data-quality expectations, distributed: one pass computing per-rule
    // violation counts (conditional aggregation — no N-pass rule loop).
    Q("q_validate",
      """SELECT
  COUNT(*) FILTER (l_extendedprice <= 0) AS bad_price,
  COUNT(*) FILTER (l_discount < 0 OR l_discount > 0.1) AS bad_discount,
  COUNT(*) FILTER (l_orderkey IS NULL) AS null_key,
  COUNT(*) FILTER (l_shipdate < TIMESTAMP '1990-01-01') AS bad_date,
  COUNT(*) AS total
FROM lineitem""") { (s, d) =>
      Tables.lineitem(s, d)
        .agg(
          count(when(col("l_extendedprice") <= 0, 1)).as("bad_price"),
          count(when(col("l_discount") < 0 || col("l_discount") > 0.1, 1))
            .as("bad_discount"),
          count(when(col("l_orderkey").isNull, 1)).as("null_key"),
          count(when(col("l_shipdate") < lit("1990-01-01").cast("timestamp"), 1))
            .as("bad_date"),
          count(lit(1)).as("total"))
    },

    // CDC-style upsert merge — the reference's `since/` incremental pull
    // implies snapshot merging: base state + an update batch -> latest row
    // per key (highest version wins). One shuffle on the key.
    Q("q_merge_upsert",
      """WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, 0 AS version
  FROM orders WHERE o_orderkey % 3 <> 0
), updates AS (
  SELECT o_orderkey, 'U' AS o_orderstatus, o_totalprice * 2 AS o_totalprice, 1 AS version
  FROM orders WHERE o_orderkey % 2 = 0
), unioned AS (SELECT * FROM base UNION ALL SELECT * FROM updates),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
                               ORDER BY version DESC) AS rn
  FROM unioned)
SELECT o_orderkey, o_orderstatus, o_totalprice FROM ranked WHERE rn = 1
ORDER BY o_orderkey""") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val orders = Tables.orders(s, d)
      val base = orders.filter(col("o_orderkey") % 3 =!= 0)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          lit(0).as("version"))
      val updates = orders.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
          (col("o_totalprice") * 2).as("o_totalprice"), lit(1).as("version"))
      val w = Window.partitionBy(col("o_orderkey"))
        .orderBy(col("version").desc)
      base.unionByName(updates)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .orderBy("o_orderkey")
    },

    // Unpivot (melt) — the inverse of q_pivot: wide per-status quantity
    // columns back to (flag, status, qty) long form.
    Q("q_unpivot",
      """WITH wide AS (
  SELECT l_returnflag,
    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) FILTER (l_linestatus = 'F') AS DOUBLE) AS F,
    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) FILTER (l_linestatus = 'O') AS DOUBLE) AS O
  FROM lineitem GROUP BY l_returnflag)
SELECT l_returnflag, status, qty
FROM wide UNPIVOT INCLUDE NULLS (qty FOR status IN (F, O))
ORDER BY l_returnflag, status""") { (s, d) =>
      Tables.spreadSmall(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double"))
        .unpivot(Array(col("l_returnflag")), Array(col("F"), col("O")),
          "status", "qty")
        .orderBy("l_returnflag", "status")
    },

    // B24b — scalar UDF: generic-rank GeoJSON truncation over the feature
    // table. Oracle-paired with the SAME SQL as coord_truncate (r5 VERDICT
    // item 4): the UDF's string-walk output is parsed back to positions and
    // must land on the same ≤3-component scalars as the codegen'd
    // rank-dispatch path (string-level identity is additionally pinned by
    // ExtraSpec).
    Q("q_udf_geo_truncate", CalTopoQueries.coordTruncateSql) { (s, d) =>
      val truncUdf = udf(truncateCoordsJson)
      val df = CalTopo.projectNest(CalTopo.mainFlow(
        CalTopoFeatures.build(s, d, spread = true)))
        .withColumn("geometry",
          struct(col("geometry.type").as("type"),
            truncUdf(col("geometry.coordinates")).as("coordinates")))
      CalTopoQueries.truncatedScalars(df)
    },

    // B24c — generator (UDTF-shaped): typed Dataset.flatMap exploding each
    // doc into word rows; oracle = UNNEST. flatMap is the arbitrary-
    // generator escape hatch; explode() stays the codegen'd fast path.
    Q("q_udtf_flatmap",
      """SELECT doc_id, unnest(string_split(text, ' ')) AS word
FROM documents WHERE doc_id < 50 ORDER BY doc_id, word""") { (s, d) =>
      import s.implicits._
      Tables.documents(s, d)
        .filter(col("doc_id") < 50)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .flatMap { case (id, text) => text.split(' ').map(w => (id, w)) }
        .toDF("doc_id", "word")
        .orderBy("doc_id", "word")
    }
  )
}
