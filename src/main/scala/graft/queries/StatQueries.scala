package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Skew
import graft.sources.Tables

/** Round-3 additions: training-pipeline packing/quality statistics and
  * analytic shapes the earlier families don't cover.
  *
  *  - q_pack_sequences:   contiguous token packing into fixed-budget bins —
  *    the sequence-packing step before LLM training. Packing is PER SOURCE
  *    (shard): the running token sum is a partitioned window, so the 100 TB
  *    plan is one shuffle on `source` and every shard packs in parallel
  *    (a global ORDER BY would serialize the corpus through one partition).
  *  - q_text_repetition:  Gopher-style repetition quality signals per doc
  *    (top-word fraction, duplicate-bigram fraction).
  *  - q_stats_corr:       Pearson correlation / means from exact DECIMAL
  *    power sums — order-free (hash-agg safe) where float corr() is not;
  *    the final arithmetic is an identical IEEE expression tree in both
  *    engines, so doubles match bitwise.
  *  - q_event_retention:  cohort retention (first-seen day × day offset ×
  *    distinct users) — the classic product-analytics self-aggregation.
  */
object StatQueries {

  // tokens per packed training sequence (visible to StatSpec's fill-bound
  // assertion so the invariant stays coupled to the query)
  private[graft] val PackBudget = 512

  val all: Seq[Q] = Seq(

    // Sequence packing: assign docs (in deterministic doc_id order, per
    // source shard) to fixed token-budget bins by running cumulative token
    // count; bin = floor(tokens-before-this-doc / budget). Downstream a
    // trainer concatenates each bin into one training sequence. The window
    // is partitioned by source — parallel across shards at any scale.
    Q("q_pack_sequences",
      s"""WITH t AS (
  SELECT source, doc_id,
         len(list_filter(string_split(text, ' '), w -> w <> '')) AS n_tok
  FROM documents),
c AS (
  SELECT source, doc_id, n_tok,
         SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM t)
SELECT source, CAST((cum - n_tok) // $PackBudget AS INT) AS bin,
       COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS bin_tokens
FROM c GROUP BY source, bin ORDER BY source, bin""") { (s, d) =>
      val toks = Tables.documents(s, d)
        .select(col("source"), col("doc_id"),
          size(filter(split(col("text"), " "), w => w =!= "")).as("n_tok"))
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      toks.withColumn("cum", sum(col("n_tok")).over(w))
        .withColumn("bin",
          expr(s"(cum - n_tok) div $PackBudget").cast("int"))
        .groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).cast("long").as("bin_tokens"))
        .orderBy("source", "bin")
    },

    // Gopher-style repetition signals: fraction of words that are the
    // single most frequent word, and fraction of bigram occurrences whose
    // bigram repeats within the doc. Two-phase per-doc counts — corpus
    // work is explode + hash-agg keyed by doc, no cross-doc shuffle skew.
    // Fractions are double divisions of exact ints: bitwise-equal engines.
    Q("q_text_repetition",
      """WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l
  FROM documents),
wc AS (
  SELECT doc_id, w, COUNT(*) AS c
  FROM (SELECT doc_id, unnest(l) AS w FROM t) GROUP BY doc_id, w),
top AS (
  SELECT doc_id, MAX(c) AS top_c, SUM(c) AS n_words FROM wc GROUP BY doc_id),
gc AS (
  SELECT doc_id, gm, COUNT(*) AS c
  FROM (SELECT doc_id,
          unnest(list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1])) AS gm
        FROM t) GROUP BY doc_id, gm),
dup AS (
  SELECT doc_id, SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_g, SUM(c) AS n_g
  FROM gc GROUP BY doc_id)
SELECT doc_id,
  CAST(top_c AS DOUBLE) / n_words AS top_word_frac,
  CASE WHEN n_g > 0 THEN CAST(dup_g AS DOUBLE) / n_g ELSE 0.0 END AS dup_bigram_frac
FROM top JOIN dup USING (doc_id) ORDER BY doc_id""") { (s, d) =>
      // Shuffle-light shape: adjacency comes from zipping the token array
      // with its own tail (arrays_zip of two slices — ordinary codegen'd
      // expressions, no window, no per-word shuffle), so the only corpus
      // shuffle carries per-(doc, token) COUNTS, which the partial
      // aggregate collapses map-side before the exchange. (The first cut
      // used a lead() window: it shuffled every raw exploded word because
      // nothing can combine before a window — measured ~3 s vs this.)
      val l = filter(split(col("text"), " "), w => w =!= "")
      val bi = arrays_zip(
        slice(l, lit(1), greatest(size(l) - 1, lit(0))),
        slice(l, lit(2), greatest(size(l) - 1, lit(0))))
      // r15: spread REVERTED (r14 added it) — the driver's cross-host
      // ground truth ran this cell 0.50× with an 8-vs-32-core ratio of
      // 0.28: the 32-wide spread exchange + its AQE stage jobs under BOTH
      // explode consumers cost more than the tokenize kernel win
      // (PERF_r14.json; VERDICT r14 item 2)
      val docs = Tables.documents(s, d)
      val unigrams = docs.select(col("doc_id"), lit(0).as("kind"),
        explode(l).as("tok"))
      val bigrams = docs.select(col("doc_id"), lit(1).as("kind"),
        explode(bi).as("z"))
        .select(col("doc_id"), col("kind"),
          concat_ws(" ", col("z.0"), col("z.1")).as("tok"))
      unigrams.unionByName(bigrams)
        .groupBy(col("doc_id"), col("kind"), col("tok"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(
          max(when(col("kind") === 0, col("c"))).as("top_c"),
          sum(when(col("kind") === 0, col("c"))).as("n_words"),
          sum(when(col("kind") === 1 && col("c") > 1, col("c"))
            .otherwise(when(col("kind") === 1, lit(0)))).as("dup_g"),
          sum(when(col("kind") === 1, col("c"))).as("n_g"))
        .filter(col("n_g") > 0) // docs with no bigram: oracle's inner join
        .select(col("doc_id"),
          (col("top_c").cast("double") / col("n_words")).as("top_word_frac"),
          when(col("n_g") > 0, col("dup_g").cast("double") / col("n_g"))
            .otherwise(lit(0.0)).as("dup_bigram_frac"))
        .orderBy("doc_id")
    },

    // Pearson correlation from exact DECIMAL power sums. Built-in corr()
    // accumulates doubles in partition order — nondeterministic across
    // partitionings and engines; power sums in DECIMAL are order-free,
    // and the closed-form corr is then one fixed IEEE expression over
    // exactly-agreed inputs. syy/sxy are rounded to scale 0 (still exact
    // to ~1e-15 relative) so their decimal->double cast stays inside the
    // 2^53 mantissa — DuckDB double-rounds above it (memory: determinism).
    Q("q_stats_corr",
      """WITH s AS (
  SELECT l_returnflag,
    COUNT(*) AS n,
    SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
    SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
    SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
    SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS syy,
    SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy
  FROM lineitem GROUP BY l_returnflag)
SELECT l_returnflag, n,
  CAST(sx AS DOUBLE) / n AS mean_qty,
  CAST(sy AS DOUBLE) / n AS mean_price,
  (n * CAST(ROUND(sxy, 0) AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
  (sqrt(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
   sqrt(n * CAST(ROUND(syy, 0) AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
    AS corr_qty_price
FROM s ORDER BY l_returnflag""") { (s, d) =>
      val qd = col("l_quantity").cast("decimal(18,2)")
      val pd = col("l_extendedprice").cast("decimal(18,2)")
      val sums = Tables.spreadSmall(s, d, "lineitem").groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(qd).as("sx"), sum(pd).as("sy"),
          sum(qd * qd).as("sxx"), sum(pd * pd).as("syy"),
          sum(qd * pd).as("sxy"))
      val (n, sx, sy) =
        (col("n"), col("sx").cast("double"), col("sy").cast("double"))
      sums.select(col("l_returnflag"), n,
        (sx / n).as("mean_qty"),
        (sy / n).as("mean_price"),
        ((n * round(col("sxy"), 0).cast("double") - sx * sy) /
          (sqrt(n * col("sxx").cast("double") - sx * sx) *
            sqrt(n * round(col("syy"), 0).cast("double") - sy * sy)))
          .as("corr_qty_price"))
        .orderBy("l_returnflag")
    },

    // Equi-depth decile bucketing via NTILE — the feature-binning /
    // outlier-trim step of feature engineering. Ties broken by event_id so
    // both engines assign identical tiles; min/max are comparisons (no
    // arithmetic) — raw doubles stay deterministic. SCALE: the built-in
    // window form serializes each group through ONE task (measured ×13 vs
    // the distributed sibling at sf10's 3.3 M-row groups), so rounds 4–6
    // capped it at 10^7 rows/group with a loud raise. Round 7 removes the
    // cap: [[graft.operators.Ntile.exact]] ROUTES each group by a
    // measured size census — groups under windowCap (proven one-task-safe)
    // run the built-in window at its full speed (sf0.1: 0.7 s, vs 3.5 s
    // when the boundary machinery ran everywhere), oversized groups get
    // their 9 boundary keys computed distributively (Percentiles.exact at
    // the exact NTILE ranks + bounded tie-break-id selection) and bin by
    // broadcast comparison (sf10's 3.3 M-row groups: 13.1 s vs the
    // window's 20.2 s) — identical assignment at any group size
    // (NtileSpec pins both routes and the mixed split against the window
    // form, ties included).
    Q("q_ntile",
      """SELECT event_type, decile, COUNT(*) AS n,
  MIN(value) AS min_value, MAX(value) AS max_value
FROM (SELECT event_type, value, event_id,
        NTILE(10) OVER (PARTITION BY event_type
          ORDER BY value, event_id) AS decile
      FROM events)
GROUP BY event_type, decile ORDER BY event_type, decile""") { (s, d) =>
      graft.operators.Ntile.exact(
          Tables.events(s, d).select(col("event_type"), col("value"), col("event_id")),
          col("event_type"), col("value"), col("event_id"), 10,
          outCol = "decile")
        .groupBy(col("event_type"), col("decile"))
        .agg(count(lit(1)).as("n"),
          min(col("value")).as("min_value"), max(col("value")).as("max_value"))
        .orderBy("event_type", "decile")
    },

    // The 100 TB sibling of q_ntile (VERDICT r3 item 2): equi-depth decile
    // binning WITHOUT the per-group total-order window. Boundaries are the
    // EXACT discrete quantiles (value at 1-based rank ceil(p·n), ties by
    // value so rank→value is well-defined), computed by the shared
    // bounded-memory percentile operator under its discrete rank rule
    // ([[graft.operators.Percentiles.exact]]): sketch brackets, exact
    // rank counts, bisection refinement whenever a bracket slice would
    // exceed its buffer cap — so no aggregation buffer grows with group
    // size, at ANY n. (The first version inlined a sketch+collect_list
    // slice instead, re-creating the very group-size cliff the operator
    // was built to remove — r4 review.) Rows then bin by boundary
    // comparison (decile = 1 + #boundaries below value; tie rule: a row
    // ON a boundary belongs to the LOWER decile), so the per-row pass is
    // a broadcast join + codegen'd comparisons — no window, no
    // serialization, bins with zero rows (tie pile-ups) are simply
    // absent in both engines. A bracket miss fails loudly inside the
    // operator — never a silent misbin.
    Q("q_ntile_approx", {
      val bounds = (1 to 9).map(i =>
        s"    MAX(CASE WHEN rn = CAST(ceil(0.${i} * n) AS BIGINT) THEN value END) AS bnd$i")
        .mkString(",\n")
      val binSum = (1 to 9).map(i => s"CAST(e.value > b.bnd$i AS INT)")
        .mkString(" + ")
      // NULL values are EXPLICITLY excluded on both sides: percentile
      // semantics ignore them (Percentiles.exact filters v.isNotNull),
      // so the oracle's n and ranks must count the same row set — an
      // implicit COUNT(*) would diverge the day events grows null values
      // (r4 review; today's synthetic data has none either way)
      s"""WITH nn AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
ranked AS (
  SELECT event_type, value,
    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn,
    COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM nn),
b AS (
  SELECT event_type,
$bounds
  FROM ranked GROUP BY event_type),
d AS (
  SELECT e.event_type, 1 + $binSum AS decile, e.value
  FROM nn e JOIN b ON e.event_type = b.event_type)
SELECT event_type, CAST(decile AS INT) AS decile, COUNT(*) AS n,
  MIN(value) AS min_value, MAX(value) AS max_value
FROM d GROUP BY event_type, decile ORDER BY event_type, decile"""
    }) { (s, d) =>
      val ev = Tables.events(s, d).select(col("event_type"), col("value"))
        .filter(col("value").isNotNull)
      val bounds = graft.operators.Percentiles.exact(
          ev, col("event_type"), col("value"),
          targets = (1 to 9).map(i => (s"bnd$i", i / 10.0)),
          rankFor = Some(graft.operators.Percentiles.discreteRank))
        .withColumnRenamed("g", "event_type")
      val decile = (lit(1) +
        (1 to 9).map(i => (col("value") > col(s"bnd$i")).cast("int"))
          .reduce(_ + _)).cast("int")
      ev.join(broadcast(bounds), "event_type")
        .select(col("event_type"), col("value"), decile.as("decile"))
        .groupBy(col("event_type"), col("decile"))
        .agg(count(lit(1)).as("n"),
          min(col("value")).as("min_value"), max(col("value")).as("max_value"))
        .orderBy("event_type", "decile")
    },

    // Ordered string aggregation — LISTAGG/STRING_AGG. collect_set order
    // is partition-dependent, so determinism comes from sorting the set
    // BEFORE joining (binary string order agrees between engines on this
    // ASCII data).
    Q("q_agg_strings",
      """SELECT lang,
  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
  array_to_string(list_sort(list(DISTINCT source)), ',') AS sources_csv
FROM documents GROUP BY lang ORDER BY lang""") { (s, d) =>
      Tables.documents(s, d)
        .groupBy(col("lang"))
        .agg(count_distinct(col("source")).as("n_sources"),
          array_join(array_sort(collect_set(col("source"))), ",")
            .as("sources_csv"))
        .orderBy("lang")
    },

    // Salted aggregation on the declared surface: 600k rows funnel into
    // 3 group keys — the skewed-reducer shape AQE can't split (it only
    // splits JOIN partitions). Skew.saltedSum spreads each hot key over
    // 16 (key, salt) reducers then merges partials; DECIMAL sums are
    // associative over salts, so the result is salt-invariant and the
    // oracle is the PLAIN GROUP BY.
    Q("q_skew_agg",
      """SELECT l_returnflag,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""") { (s, d) =>
      Skew.saltedSum(Tables.lineitem(s, d), col("l_returnflag"),
          col("l_quantity").cast("decimal(18,2)"), salts = 16)
        .select(col("k").as("l_returnflag"),
          col("total").cast("double").as("sum_qty"))
        .orderBy("l_returnflag")
    },

    // Cohort retention: first-seen day per user x day offset x distinct
    // users. Day indices are exact integer epoch-day divisions (never raw
    // timestamps — memory: determinism). The first-seen aggregate and the
    // join and the final aggregate all key on user_id, so one hash
    // partitioning serves all three at scale.
    Q("q_event_retention",
      """WITH e AS (
  SELECT user_id, CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
  FROM events),
f AS (SELECT user_id, MIN(day) AS cohort FROM e GROUP BY user_id)
SELECT cohort, e.day - cohort AS offset_days,
       COUNT(DISTINCT e.user_id) AS n_users
FROM e JOIN f USING (user_id)
GROUP BY cohort, offset_days ORDER BY cohort, offset_days""") { (s, d) =>
      // Single-pass shape: the textbook build (per-user MIN aggregate
      // joined back to the event stream) scans events twice and shuffles
      // three times; a min-over-user window computes the cohort in the
      // same pass, so events shuffle once on user_id and once into the
      // final (cohort, offset) aggregate.
      val byUser = Window.partitionBy("user_id")
      Tables.events(s, d)
        .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
        .withColumn("cohort", min(col("day")).over(byUser))
        .groupBy(col("cohort"), (col("day") - col("cohort")).as("offset_days"))
        .agg(count_distinct(col("user_id")).as("n_users"))
        .orderBy("cohort", "offset_days")
    }
  )
}
