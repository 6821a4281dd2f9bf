package graft.queries

import org.apache.spark.sql.functions._
import graft.Materialize
import graft.operators.Dedup
import graft.sources.Tables

/** SURVEY.md §2 rows B16 (array functions), B20 (dedup), B22 (text
  * analysis) over the `documents` table. All-integer/string math keeps the
  * oracles exact; ratio columns are double divisions of exact ints (IEEE —
  * bitwise identical in both engines).
  */
object TextQueries {

  /** Stopword list used by quality scoring + language-marker scoring. */
  private val stopwords = Seq("the", "a", "of", "and", "in", "to", "is")

  /** Sliding word-window chunking (q_text_chunk's engine): one explode per
    * doc, chunk count floor((n-1)/stride)+1 in exact integer arithmetic,
    * tail chunks shorter. TextSpec pins the boundary cases (1 word, exactly
    * chunkSize words, chunkSize+1) and full-coverage reconstruction.
    */
  def chunk(docs: org.apache.spark.sql.DataFrame, chunkSize: Int,
      stride: Int): org.apache.spark.sql.DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(0L),
          expr(s"(size(ws) - 1) div $stride"))).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        array_join(slice(col("ws"),
          (col("chunk_id") * stride + 1).cast("int"), lit(chunkSize)), " ")
          .as("chunk_text"),
        size(slice(col("ws"),
          (col("chunk_id") * stride + 1).cast("int"), lit(chunkSize)))
          .as("n_words"))

  /** (doc_id, g): every word 5-gram of every document, in ONE window pass
    * (all leads share the window spec; the 4-ahead lead doubles as the
    * tail trim — null past the doc's last word). Materialized (deferred)
    * because every consumer reads it from both sides of a join or filter
    * split, and Spark re-executes a shared subplan per consumer. Under
    * AQE the call runs the window's shuffle-map stage at once, and only
    * the result stage waits for the first execution — so even a
    * plan-only consumer (plan audits, explain) runs that shuffle job at
    * build time. Used by q_text_contamination and
    * q_pipeline_decontaminate.
    */
  private def fiveGrams(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val seq5 = Window.partitionBy("doc_id").orderBy("pos")
    Materialize.deferred(Tables.documents(s, d)
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
      .select(col("doc_id"), col("w"),
        lead("w", 1).over(seq5).as("w1"), lead("w", 2).over(seq5).as("w2"),
        lead("w", 3).over(seq5).as("w3"), lead("w", 4).over(seq5).as("w4"))
      .filter(col("w4").isNotNull)
      // the gram travels as its 64-bit hash, never as a 5-word string:
      // consumers only DISTINCT and equi-join on it, and xxhash64 is
      // injective-in-practice (same discipline as Dedup.gramHashSets),
      // so shared-gram counts are identical while shuffle bytes shrink
      // ~5x (8-byte longs vs ~40-byte strings) — the 100 TB shape the
      // contamination scaladoc promised
      .select(col("doc_id"),
        xxhash64(col("w"), col("w1"), col("w2"), col("w3"),
          col("w4")).as("g")), "TextQueries.fiveGrams")
  }

  /** The truth frame of the oracle-paired dedup queries: exact
    * word-trigram Jaccard ≥ 0.5 pairs inside a 200-id window
    * ([[Dedup.exactJaccardWindowPairs]], whose gram-kernel pass is
    * materialized eagerly — BASELINE.md r12 "Eager gram-array
    * checkpoint"). The kernel input — and ONLY it — is spreadSmall'd so
    * the pass runs on all cores; the queries' other document consumers
    * are id-joins that would pay the extra exchange for nothing (measured
    * r14: spreading the pipeline's documents put q_dedup_pipeline from
    * 4.5 to ~6.5 s).
    */
  private def windowTruth(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Dedup.exactJaccardWindowPairs(Tables.spreadSmall(s, d, "documents")
      .select(col("doc_id").as("id"), col("text")), tau = 0.5, window = 200)

  /** Declared rows + flag for the two oracle-paired pipeline queries
    * (r10): survivors of the REAL CC operator over the exact window-pair
    * truth edges (the SQL-replicable near-dedup pipeline — same keep-join
    * shape as [[graft.operators.Dedup.survivors]]), plus a two-arm
    * agreement flag computed genuinely from `realPipeline`'s output:
    * arm 1 — ≥70% of declared survivors survive the real pipeline (an
    * over-dropping pipeline fails); arm 2 — ≥70% of truth-dropped ids are
    * also dropped by it (a no-op pipeline fails). Every document is
    * materialized once with both keep decisions, and that one job's sum
    * folds count both arms, so the flag is a literal and every subplan
    * executes once.
    */
  private def survivorsAgainstTruth(s: org.apache.spark.sql.SparkSession,
      d: String,
      realPipeline: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
      flagName: String): org.apache.spark.sql.DataFrame = {
    val docsL = Tables.documents(s, d)
      .select(col("doc_id").as("id"), col("text"), col("lang"))
    // no caller materialization of the labels (r15): the driver route
    // returns a LocalRelation and the distributed route's labels are the
    // CC loop's own per-round materialization
    val labels = Dedup.clusters(windowTruth(s, d))
    // the real pipeline recomputes its gram kernel (candidate-side share
    // reverted after the sf10 probe — see q_dedup_minhash)
    val real = realPipeline(docsL)
      .select(col("id").as("doc_id"), lit(true).as("__rs"))
    val truthKeep = col("cluster").isNull || col("cluster") === col("id")
    val marked = Materialize(docsL.join(labels, Seq("id"), "left")
        .select(col("id").as("doc_id"), col("lang"), truthKeep.as("__tk"))
        .join(real, Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"), col("__tk"),
          (col("__tk") && col("__rs").isNotNull).as("__both_keep"),
          (!col("__tk") && col("__rs").isNull).as("__both_drop")),
      s"TextQueries $flagName", Materialize.sum("__tk"),
      Materialize.sum("__both_keep"), Materialize.sum("__both_drop"))
    val (declared, dropped) = (marked.sum(0), marked.rows - marked.sum(0))
    val ok = marked.sum(1) >= declared.toDouble * 0.7 &&
      marked.sum(2) >= dropped.toDouble * 0.7
    marked.route(flagName, ok.toString)
    marked.df.filter(col("__tk"))
      .select(col("doc_id"), col("lang"), lit(ok).as(flagName))
      .orderBy("doc_id")
  }

  // DuckDB oracle text of the window-pair dedup queries: per-doc distinct
  // word trigrams as strings, and the exact Jaccard of a doc pair
  private val trigramsCte = """grams AS (
  SELECT doc_id, list_distinct(
    list_transform(range(1, greatest(len(string_split(text,' ')) - 2, 1) + 1),
      i -> array_to_string(string_split(text,' ')[i:i+2], ' '))) AS g
  FROM documents)"""
  private val jaccardSql = """CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
    / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)))"""
  private def windowJoinSql(window: Int, tau: Double): String =
    s"""FROM grams a JOIN grams b
  ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + $window
WHERE $jaccardSql >= $tau"""

  /** Exact Jaccard ≥ `tau` pairs inside a `window`-id window, plus a TRUE
    * `flag` column when given (the oracle of a recall-flagged query).
    */
  private def windowPairsSql(window: Int, tau: Double, flag: Option[String]): String =
    s"""WITH $trigramsCte
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  $jaccardSql AS jaccard${flag.map(f => s",\n  TRUE AS $f").getOrElse("")}
${windowJoinSql(window, tau)}
ORDER BY id_a, id_b"""

  /** Transitive closure of the window-200 truth edges (recursive CTE). */
  private val reachCtes = s"""WITH RECURSIVE $trigramsCte,
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  ${windowJoinSql(200, 0.5)}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    WHERE e.dst <> r.src)"""

  /** Min-id cluster labels of the truth closure, plus a TRUE `flag`. */
  private def clustersSql(flag: String): String = s"""$reachCtes
SELECT src AS id, least(src, min(dst)) AS cluster, TRUE AS $flag
FROM reach GROUP BY src ORDER BY id"""

  /** Documents the truth closure keeps (no smaller-id cluster), plus a
    * TRUE `flag`.
    */
  private def pipelineSql(flag: String): String = s"""$reachCtes,
labels AS (
  SELECT src AS id, least(src, min(dst)) AS cluster FROM reach GROUP BY src)
SELECT d.doc_id, d.lang, TRUE AS $flag
FROM documents d
WHERE d.doc_id NOT IN (SELECT id FROM labels WHERE cluster <> id)
ORDER BY doc_id"""

  /** Oracle CTEs of every document's word 5-grams as strings ([[fiveGrams]]). */
  private val fiveGramsCte = """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
e AS (SELECT doc_id, ws, unnest(range(1, greatest(len(ws)-4, 0) + 1)) AS i FROM t),
grams AS (
  SELECT doc_id, array_to_string(ws[CAST(i AS INT):CAST(i+4 AS INT)], ' ') AS g
  FROM e),"""

  val all: Seq[Q] = Seq(

    // B16 — array function family over the tokenized text (exact: sizes,
    // sorted-distinct joins, int fold via aggregate()).
    Q("q_array_funcs",
      """SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_words,
  array_to_string(string_split(text, ' ')[1:3], '_') AS first3,
  CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_distinct,
  array_to_string(list_sort(list_distinct(string_split(text, ' ')))[1:5], '_') AS first5_sorted,
  list_contains(string_split(text, ' '), 'spark') AS has_spark,
  CAST(list_sum(list_transform(string_split(text, ' '), w -> length(w))) AS INT) AS total_chars
FROM documents ORDER BY doc_id""") { (s, d) =>
      val ws = split(col("text"), " ")
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(ws).as("n_words"),
          array_join(slice(ws, 1, 3), "_").as("first3"),
          size(array_distinct(ws)).as("n_distinct"),
          array_join(slice(sort_array(array_distinct(ws)), 1, 5), "_")
            .as("first5_sorted"),
          array_contains(ws, "spark").as("has_spark"),
          aggregate(ws, lit(0), (acc, w) => acc + length(w)).as("total_chars"))
        .orderBy("doc_id")
    },

    // B22a — token counting: global top-50 words (explode -> count).
    Q("q_text_tokens",
      """SELECT word, COUNT(*) AS cnt
FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
WHERE word <> '' GROUP BY word ORDER BY cnt DESC, word LIMIT 50""") { (s, d) =>
      Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word"))
        .limit(50)
    },

    // B22a' — BPE-ish subword tokenization: alpha runs, digit runs, and
    // single punctuation marks as separate tokens (regex identical in
    // Java and RE2 for this class-only pattern).
    Q("q_text_tokens_bpe",
      """SELECT doc_id,
  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INT) AS n_tokens,
  CAST(len(string_split(text, ' ')) AS INT) AS n_words
FROM documents ORDER BY doc_id""") { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(regexp_extract_all(col("text"),
            lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).as("n_tokens"),
          size(split(col("text"), " ")).as("n_words"))
        .orderBy("doc_id")
    },

    // B22b — per-language corpus stats.
    Q("q_text_stats",
      """SELECT lang, COUNT(*) AS n_docs,
  CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_words
FROM documents GROUP BY lang ORDER BY lang""") { (s, d) =>
      Tables.documents(s, d)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"),
          sum(size(split(col("text"), " "))).as("total_words"))
        .orderBy("lang")
    },

    // B22c — per-document quality scoring: token count, lexical diversity,
    // stopword ratio, mean word length (all exact-int derived).
    Q("q_text_quality",
      s"""SELECT doc_id,
  CAST(len(string_split(text, ' ')) AS INT) AS n_words,
  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
    / len(string_split(text, ' ')) AS diversity,
  CAST(len(list_filter(string_split(text, ' '),
    w -> list_contains([${stopwords.map("'" + _ + "'").mkString(",")}], w))) AS DOUBLE)
    / len(string_split(text, ' ')) AS stopword_ratio,
  CAST(list_sum(list_transform(string_split(text, ' '), w -> length(w))) AS DOUBLE)
    / len(string_split(text, ' ')) AS avg_word_len
FROM documents ORDER BY doc_id""") { (s, d) =>
      val ws = split(col("text"), " ")
      val n = size(ws).cast("double")
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(ws).as("n_words"),
          (size(array_distinct(ws)).cast("double") / n).as("diversity"),
          (size(filter(ws, w => w.isInCollection(stopwords))).cast("double") / n)
            .as("stopword_ratio"),
          (aggregate(ws, lit(0), (acc, w) => acc + length(w)).cast("double") / n)
            .as("avg_word_len"))
        .orderBy("doc_id")
    },

    // B22d — document fingerprint: polynomial rolling hash over word codes,
    // mod 1e9+7 each step (both engines fold left-to-right in exact BIGINT).
    Q("q_text_fingerprint",
      """SELECT doc_id,
  list_reduce(
    list_prepend(CAST(0 AS BIGINT),
      list_transform(string_split(text, ' '),
        w -> CAST(length(w) * 131 + ascii(substr(w, 1, 1)) AS BIGINT))),
    (h, c) -> (h * 31 + c) % 1000000007) AS fingerprint
FROM documents ORDER BY doc_id""") { (s, d) =>
      val codes = transform(split(col("text"), " "),
        w => (length(w) * 131 + ascii(substring(w, 1, 1))).cast("long"))
      Tables.documents(s, d)
        .select(col("doc_id"),
          aggregate(codes, lit(0L),
            (h, c) => (h * 31 + c) % 1000000007L).as("fingerprint"))
        .orderBy("doc_id")
    },

    // B22e — marker-word language ID heuristic (SQL-expressible scoring:
    // argmax over per-language marker-hit counts, ties -> 'und').
    Q("q_text_langid",
      """WITH scored AS (
  SELECT doc_id, lang,
    len(list_filter(string_split(text, ' '),
      w -> list_contains(['the','a','of','and','in','to','is'], w))) AS s_en,
    len(list_filter(string_split(text, ' '),
      w -> list_contains(['el','la','de','que','y','en'], w))) AS s_es,
    len(list_filter(string_split(text, ' '),
      w -> list_contains(['der','die','das','und','ist'], w))) AS s_de
  FROM documents)
SELECT doc_id, lang,
  CASE WHEN s_en > s_es AND s_en > s_de THEN 'en'
       WHEN s_es > s_en AND s_es > s_de THEN 'es'
       WHEN s_de > s_en AND s_de > s_es THEN 'de'
       ELSE 'und' END AS lang_pred
FROM scored ORDER BY doc_id""") { (s, d) =>
      val ws = split(col("text"), " ")
      def hits(markers: Seq[String]) =
        size(filter(ws, w => w.isInCollection(markers)))
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          hits(Seq("the", "a", "of", "and", "in", "to", "is")).as("s_en"),
          hits(Seq("el", "la", "de", "que", "y", "en")).as("s_es"),
          hits(Seq("der", "die", "das", "und", "ist")).as("s_de"))
        .select(col("doc_id"), col("lang"),
          when(col("s_en") > col("s_es") && col("s_en") > col("s_de"), "en")
            .when(col("s_es") > col("s_en") && col("s_es") > col("s_de"), "es")
            .when(col("s_de") > col("s_en") && col("s_de") > col("s_es"), "de")
            .otherwise("und").as("lang_pred"))
        .orderBy("doc_id")
    },

    // B22f — TF-IDF-style term salience, libm-free: score = tf * (N/df)
    // (exact rational in IEEE double — ln() differs across engines in the
    // last ulp, so the classic log-idf is deliberately avoided). Top-3
    // terms per doc, tie-broken by word.
    Q("q_text_tfidf",
      """WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
), tf AS (
  SELECT doc_id, word, COUNT(*) AS tf FROM words GROUP BY doc_id, word
), df AS (
  SELECT word, COUNT(DISTINCT doc_id) AS df FROM words GROUP BY word
), n AS (SELECT COUNT(*) AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.word,
    CAST(tf.tf AS DOUBLE) * (CAST(n.n AS DOUBLE) / CAST(df.df AS DOUBLE)) AS score
  FROM tf JOIN df USING (word) CROSS JOIN n
), ranked AS (
  SELECT doc_id, word, score,
    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, word) AS rn
  FROM scored)
SELECT doc_id, word, score FROM ranked WHERE rn <= 3
ORDER BY doc_id, score DESC, word""") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val words = docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("word"))
      val tf = words.groupBy(col("doc_id"), col("word"))
        .agg(count(lit(1)).as("tf"))
      // df(word) = number of docs containing the word = row count per word
      // in tf (tf has one row per (doc, word)) — computed FROM tf so the
      // corpus is exploded ONCE (a separate words.distinct().groupBy
      // subplan re-exploded every document; VERDICT r1 §wrong.3). As an
      // AGGREGATE of tf rather than a window over it (r5): the window form
      // shuffled AND sorted the full (doc, word) table by word — ~500 M
      // rows at sf100 — where the aggregate partial-combines map-side down
      // to one row per vocabulary word, and joining that back broadcasts
      // (vocabulary is bounded — Heaps'-law sublinear in corpus size — so
      // the dim side stays megabytes when the fact side is terabytes).
      // The tf >= 1 filter is semantically a no-op (counts are >= 1 by
      // construction) but it keeps the count column referenced in this
      // subplan: without it column pruning drops the count from the df
      // branch's copy of the (doc_id, word) aggregate, the two shuffles
      // canonicalize differently, and the corpus is tokenized twice; with
      // it ReuseExchange (and AQE's stage cache) serve both branches from
      // ONE explode+partial-aggregate pass.
      val dfCounts = tf.filter(col("tf") >= 1)
        .groupBy(col("word")).agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("word"))
      tf.join(broadcast(dfCounts), Seq("word"))
        .crossJoin(broadcast(n))
        .select(col("doc_id"), col("word"),
          (col("tf").cast("double") *
            (col("n").cast("double") / col("df").cast("double"))).as("score"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("doc_id"), col("word"), col("score"))
        .orderBy(col("doc_id"), col("score").desc, col("word"))
    },

    // B20g — near-dup cluster assignment: candidate pairs -> connected
    // components -> (id, min-id cluster representative). ORACLE-PAIRED
    // since r10: the DECLARED rows run the REAL distributed CC operator
    // ([[graft.operators.Dedup.clusters]] — adaptive driver-union-find /
    // pointer-jumping) over the SQL-replicable exact window-pair edges,
    // checked against an independent DuckDB RECURSIVE-CTE transitive
    // closure — the first time the CC labeling itself is oracle-checked
    // rather than spec-pinned. The production minhash-edge composition is
    // checked through minhash_cluster_ok, computed GENUINELY as the
    // fraction of truth edges whose endpoints the minhash-edge clustering
    // co-clusters (measured 1.0 at sf0.001/0.01/0.1, DedupRecallProbe;
    // bound 0.7) — a broken signature, band join, or CC loop flips it.
    // NOT THE DEFAULT ENTRY POINT on corpora that may hold exact
    // duplicates — q_dedup_clusters_exact_first below collapses the
    // d²-inflated clique graph first; this plain form stays as the
    // uncollapsed baseline.
    Q("q_dedup_clusters", clustersSql("minhash_cluster_ok")) { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id").as("id"), col("text"))
      // ONE truth materialization feeds the CC operator AND the flag; its
      // measured count routes the CC call and bounds the flag's tids
      // broadcast. The flag's driver-routed
      // minhash assignment is a LocalRelation, so it needs no count job.
      val truth = Materialize(windowTruth(s, d), "q_dedup_clusters truth").df
      val declared = Dedup.clusters(truth)
      // truth-restricted agreement (r12, VERDICT r11 item 1): the flag
      // only reads the assignment at truth-pair ids, so the corpus-sized
      // label frame is semi-filtered to them before the endpoint joins —
      // value-identical, and no caller checkpoint (the helper consumes
      // the assignment subplan exactly once)
      // flag pipeline recomputes the gram kernel (candidate-side share
      // reverted after the sf10 probe — see q_dedup_minhash)
      val ok = Dedup.clusterAgreementFlag(truth,
        Dedup.clusters(Dedup.minhashPairs(docs, threshold = 0.5)),
        bound = 0.7, name = "minhash_cluster_ok")
      declared.withColumn("minhash_cluster_ok", lit(ok)).orderBy("id")
    },

    // B20g' — the same cluster assignment with exact dedup collapsed FIRST
    // ([[graft.operators.Dedup.clustersExactFirst]]): identical texts
    // collapse to min-id reps before shingling, CC runs on the rep-level
    // pair graph, labels expand back over the membership map. On a d-copy
    // corpus the plain variant feeds CC a ~d²-inflated clique graph
    // (644 s at sf10's 100-copy duplication vs ~5 s collapsed — r4
    // VERDICT item 1); results are identical whenever no LSH bucket
    // tripped the cap (DedupSpec pins equality on a replicated corpus).
    // ORACLE-PAIRED since r10: same declared truth-CC rows as
    // q_dedup_clusters (same oracle closure), with the flag computed from
    // THIS operator's full collapse→CC→expand composition instead.
    Q("q_dedup_clusters_exact_first", clustersSql("exact_first_cluster_ok")) { (s, d) =>
      // the flag's exact-first composition collapses identical texts
      // BEFORE shingling (rep-level gram pass — a different doc set), so
      // it keeps the plain scan (its docs consumers are joins/aggregates
      // where the spread exchange is pure overhead)
      val docs = Tables.documents(s, d)
        .select(col("doc_id").as("id"), col("text"))
      // ONE truth materialization: its count routes the CC call and
      // bounds the flag's tids broadcast (see q_dedup_clusters)
      val truth = Materialize(windowTruth(s, d),
        "q_dedup_clusters_exact_first truth").df
      val declared = Dedup.clusters(truth)
      // truth-restricted agreement (r12, VERDICT r11 item 1): on the
      // duplication-adversarial decades EVERY doc carries a label (d ≥ 2
      // copies ⇒ exact clique), so the r11 shape shuffled the 5 M-row
      // assignment twice against 21 k truth pairs at sf100 — the probe-
      // attributed ×1.4/decade excess over the additive-linear sibling.
      // The helper semi-filters the assignment to truth ids first;
      // clustersExactFirst's full collapse→CC→expand composition still
      // executes once (the flag stays genuinely at risk), value-identical
      val ok = Dedup.clusterAgreementFlag(truth,
        Dedup.clustersExactFirst(docs, threshold = 0.5),
        bound = 0.7, name = "exact_first_cluster_ok")
      declared.withColumn("exact_first_cluster_ok", lit(ok)).orderBy("id")
    },

    // Deterministic hash sampling — the reproducible down-sampling a
    // training pipeline needs (seeded RNG sampling depends on row order /
    // partitioning; a key-hash predicate does not). Multiplicative hash in
    // exact BIGINT arithmetic, identical in both engines. doc_id is masked
    // to 31 bits first so the product stays < 2^63 for any BIGINT id
    // (ANSI mode would throw on overflow at 100 TB id ranges).
    Q("q_sample_hash",
      """SELECT doc_id, lang FROM documents
WHERE ((doc_id & 2147483647) * 2654435761) % 100 < 10
ORDER BY doc_id""") { (s, d) =>
      Tables.documents(s, d)
        .filter(pmod(col("doc_id").bitwiseAND(lit(2147483647L)) * 2654435761L,
          lit(100)) < 10)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    },

    // Stratified sampling: a fixed quota of k docs per language, chosen by
    // deterministic hash rank (not RNG — reproducible across runs and
    // partitionings). Spark pushes the rn <= k filter into the sort as a
    // WindowGroupLimit, so each partition keeps only k rows per group
    // before the shuffle — per-group top-k, not a full per-group sort.
    Q("q_sample_stratified",
      """WITH r AS (
  SELECT lang, doc_id,
    ROW_NUMBER() OVER (PARTITION BY lang
      ORDER BY ((doc_id & 2147483647) * 2654435761) % 1000000007, doc_id) AS rn
  FROM documents)
SELECT lang, doc_id, CAST(rn AS INT) AS rn
FROM r WHERE rn <= 20 ORDER BY lang, rn""") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("lang")
        .orderBy(pmod(col("doc_id").bitwiseAND(lit(2147483647L)) * 2654435761L,
          lit(1000000007L)), col("doc_id"))
      Tables.documents(s, d)
        .select(col("lang"), col("doc_id"), row_number().over(w).as("rn"))
        .filter(col("rn") <= 20)
        .orderBy("lang", "rn")
    },

    // Mixture rebalancing: down-sample every language to the smallest
    // language's count (the domain-mixture step of training-data prep).
    // Keep rule is pure integer arithmetic — hash(doc) mod group_count <
    // min_count keeps an expected min_count docs per group — so both
    // engines agree exactly; the per-group counts and the global min are
    // tiny aggregates (|langs| rows), broadcast to the corpus scan.
    Q("q_sample_mixture",
      """WITH c AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang),
m AS (SELECT MIN(cnt) AS mn FROM c)
SELECT d.doc_id, d.lang
FROM documents d JOIN c USING (lang) CROSS JOIN m
WHERE ((d.doc_id & 2147483647) * 2654435761) % c.cnt < m.mn
ORDER BY d.doc_id""") { (s, d) =>
      val docs = Tables.documents(s, d)
      // Materialized: the join infers isnotnull(lang) into ITS copy of
      // this aggregate's scan while the global-min branch must keep the
      // null-lang group, so the two subplans canonicalize differently and
      // exchange reuse cannot serve them — without materialization the
      // corpus is scanned once per branch. The aggregate is |langs| rows.
      // Deferred (r10): under AQE the call still runs the aggregate's
      // shuffle-map stage at once, but the result stage runs inside the
      // one final query execution (first task stores, the other reads) —
      // the eager form paid a dedicated build-time job for it
      val c = Materialize.deferred(
        docs.groupBy("lang").agg(count(lit(1)).as("cnt")), "q_sample_mixture counts")
      val m = c.agg(min(col("cnt")).as("mn"))
      docs.join(broadcast(c), "lang")
        .crossJoin(broadcast(m))
        .filter(pmod(col("doc_id").bitwiseAND(lit(2147483647L)) * 2654435761L,
          col("cnt")) < col("mn"))
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    },

    // Tokenizer vocab build: global word frequencies ranked with
    // cumulative corpus coverage — the frequency-cutoff step of vocab
    // construction. 100 TB shape (VERDICT r3 item 1): a web corpus has
    // 10^8–10^9 distinct tokens, so NOTHING may flow through an
    // unpartitioned window over the full vocabulary. Instead:
    //   total    = scalar aggregate over the word counts (two-phase),
    //   top-50   = orderBy().limit(50) → TakeOrderedAndProject
    //              (per-partition heaps, no global sort),
    //   rank/cum = window over the ≤50 surviving rows only. The window
    //              is keyed by a constant partition column to make the
    //              intended single 50-row partition explicit (no
    //              partition-less WindowExec anywhere in the plan).
    // cum over the top-50 equals cum over the full vocab restricted to
    // rank ≤ 50, because a running sum only reads preceding rows and
    // (cnt DESC, word) is a total order (words are distinct post-agg).
    Q("q_text_vocab",
      """WITH wc AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
f AS (SELECT word, COUNT(*) AS cnt FROM wc GROUP BY word),
r AS (SELECT word, cnt,
  ROW_NUMBER() OVER (ORDER BY cnt DESC, word) AS rank,
  CAST(SUM(cnt) OVER (ORDER BY cnt DESC, word ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
  CAST(SUM(cnt) OVER () AS BIGINT) AS total FROM f)
SELECT CAST(rank AS INT) AS rank, word, cnt,
  CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) AS cum_share
FROM r WHERE rank <= 50 ORDER BY rank""") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val f = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("cnt"))
      // Σcnt ≡ total token count; computing it as sum(size(split))
      // over documents is a shuffle-free scalar agg on a pruned scan,
      // instead of a second consumption of the word-count aggregate
      // (a self-consumed subplan recomputes per side: column pruning
      // specializes each side past ReuseExchange, as in q_text_tfidf).
      val total = Tables.documents(s, d)
        .agg(sum(size(split(col("text"), " ")).cast("long")).as("total"))
      val top = f.orderBy(col("cnt").desc, col("word")).limit(50)
      // partition key is a computed constant (pmod(cnt,1) ≡ 0): a bare
      // lit(0) is foldable and the optimizer strips it, reintroducing
      // the partition-less WindowExec this shape exists to avoid. The
      // single partition holds ≤50 rows by construction (post-limit).
      val w = Window.partitionBy(pmod(col("cnt"), lit(1L)))
        .orderBy(col("cnt").desc, col("word"))
      top.crossJoin(broadcast(total))
        .select(col("word"), col("cnt"), col("total"),
          row_number().over(w).as("rank"),
          sum(col("cnt")).over(w.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)).as("cum"))
        .select(col("rank"), col("word"), col("cnt"),
          (col("cum").cast("double") / col("total").cast("double"))
            .as("cum_share"))
        .orderBy("rank")
    },

    // B20a — exact dedup: group identical normalized text, keep min doc_id.
    Q("q_dedup_exact",
      """SELECT MIN(doc_id) AS keeper, COUNT(*) AS group_size
FROM documents GROUP BY lower(trim(text)) ORDER BY keeper""") { (s, d) =>
      Tables.documents(s, d)
        .groupBy(lower(trim(col("text"))))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("group_size"))
        .select(col("keeper"), col("group_size"))
        .orderBy("keeper")
    },

    // B20b — order-insensitive dedup on the distinct-word set.
    Q("q_dedup_wordset",
      """SELECT MIN(doc_id) AS keeper, COUNT(*) AS group_size
FROM documents
GROUP BY array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')
ORDER BY keeper""") { (s, d) =>
      Tables.documents(s, d)
        .groupBy(array_join(
          sort_array(array_distinct(split(lower(col("text")), " "))), " "))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("group_size"))
        .select(col("keeper"), col("group_size"))
        .orderBy("keeper")
    },

    // B20c — n-gram Jaccard near-dup pairs in a doc_id neighbor window
    // (exact word-trigram Jaccard; the window is the SQL-expressible
    // blocking stand-in for LSH blocking).
    Q("q_dedup_ngram_jaccard", windowPairsSql(5, 0.8, None)) { (s, d) =>
      // hashed grams, not gram strings: 64-bit gram hashes are 1-1 with
      // the oracle's string trigrams on this corpus (single-space, all
      // lowercase, no short docs — asserted in TextSpec), so intersection
      // and set sizes — and therefore jaccard — are identical, while the
      // engine never materializes a gram string (machinery shared with
      // the minhash/simhash truth frames: Dedup.exactJaccardWindowPairs).
      // r15: spread REVERTED (r14) — driver ground truth 0.72×, 8-core
      // ratio 0.65 (PERF_r14.json; VERDICT r14 item 2): at window=5 the
      // pair join is tiny, so the gram kernel no longer dominates the
      // spread exchange the way the window=200 truth frames do.
      Dedup.exactJaccardWindowPairs(
        Tables.documents(s, d)
          .select(col("doc_id").as("id"), col("text")),
        tau = 0.8, window = 5)
        .orderBy("id_a", "id_b")
    },

    // B20d — MinHash-LSH near-dup candidates (the 100 TB-scale dedup
    // path). ORACLE-PAIRED since r10 (the exact-plus-genuine-flag
    // pattern, VERDICT r9 "what's missing" item 2): xxhash64 signatures
    // and band buckets aren't SQL-replicable, so the DECLARED rows are
    // the exact window-blocked Jaccard-≥0.5 pairs (bitwise equal to the
    // DuckDB string-trigram oracle — the q_dedup_ngram_jaccard machinery
    // at a wider window) plus minhash_recall_ok, computed GENUINELY as
    // the recall of the REAL minhashPairs output over those truth pairs.
    // This corpus is bimodal (window pairs are either <0.1 or ≥0.9
    // Jaccard — planted duplicates), so the truth pairs sit far above
    // the 0.5 LSH threshold and measured recall is 1.0 at
    // sf0.001/0.01/0.1 (DedupRecallProbe r10); the bound 0.7 keeps
    // headroom for a corpus with boundary pairs while a broken
    // signature, band join, or bucket cap still flips the flag red.
    // Index internals never enter the hash; DedupSpec keeps the raw
    // candidate-set pins on the operator itself.
    Q("q_dedup_minhash", windowPairsSql(200, 0.5, Some("minhash_recall_ok"))) { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id").as("id"), col("text"))
      val truth = windowTruth(s, d)
      // same blocking universe as the truth frame: candidates outside the
      // window are neither hits nor misses. The candidate signature pass
      // RECOMPUTES the gram kernel rather than reading the truth frame's
      // checkpoint: sharing was tried (r14) and the sf10 scale probe
      // falsified it — re-reading ~0.5 GB of materialized gram ARRAYS
      // cost ~11 s where the fused scan→kernel→partial-agg stage
      // recomputes them in-stream (47 s vs 36 s, same host, spread ruled
      // out by the openCostInBytes=1 A/B; OPTIMIZATION_r14.md)
      val cand = Dedup.minhashPairs(docs, threshold = 0.5)
        .filter(col("id_b") - col("id_a") <= 200)
      Dedup.withPairRecallFlag(truth, cand, 0.7, "minhash_recall_ok")
        .orderBy("id_a", "id_b")
    },

    // B20e — SimHash Hamming-near candidates, ORACLE-PAIRED since r10
    // (same pattern as q_dedup_minhash above; same truth frame). A
    // 64-bit multiset fingerprint at dist≤3 is a TIGHTER sieve than
    // Jaccard ≥ 0.9 (a 0.9-Jaccard pair can flip >3 bits), so measured
    // recall is 0.667/0.692/0.722 at sf0.1/0.01/0.001 (DedupRecallProbe
    // r10) — the bound 0.25 sits ~3σ under the worst cell on these
    // 13–21-pair truth frames, while a broken sign aggregate, chunk
    // banding, or distance filter (recall 0) still flips the flag red.
    // The bound is deliberately loose (unknown corpora have genuine
    // boundary pairs); regressions a loose bound can't see — e.g. one
    // broken band of four — are caught by DedupSpec's measured-recall pin
    // (sf0.001 recall >= 0.6 vs 0.722 recorded; ADVICE r10). DedupSpec
    // also keeps the raw pins (distance-0 word shuffles, unrelated docs
    // unpaired, drop accounting).
    Q("q_dedup_simhash", windowPairsSql(200, 0.5, Some("simhash_recall_ok"))) { (s, d) =>
      // r15: spread REVERTED (r14 spread both the truth gram pass and the
      // simhash word-explode signature pass) — driver ground truth 0.75×,
      // 8-core ratio 0.64 (PERF_r14.json; VERDICT r14 item 2): the spread
      // exchange feeds TWO consumers here (truth kernel + signature pass),
      // and its re-execution per consumer outweighed the kernel win on the
      // driver's host. (simhash hashes WORDS, not grams, so the gram frame
      // itself cannot be shared with the candidates.)
      val docs = Tables.documents(s, d)
        .select(col("doc_id").as("id"), col("text"))
      val truth = Dedup.exactJaccardWindowPairs(docs, tau = 0.5, window = 200)
      val cand = Dedup.simhashPairs(docs, maxDist = 3)
        .filter(col("id_b") - col("id_a") <= 200)
      Dedup.withPairRecallFlag(truth, cand, 0.25, "simhash_recall_ok")
        .orderBy("id_a", "id_b")
    },

    // Training-data chunking: overlapping sliding word windows (size 32,
    // stride 24) — the context-window packing step of an LLM data
    // pipeline. One explode per doc, no shuffle at all until the output
    // sort; chunk count derives from the word count in exact integer
    // arithmetic (floor((n-1)/stride) + 1 chunks, tail chunks shorter).
    Q("q_text_chunk",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
e AS (SELECT doc_id, ws, unnest(range(0, (len(ws)-1)//24 + 1)) AS i FROM t)
SELECT doc_id, i AS chunk_id,
  array_to_string(ws[CAST(i*24+1 AS INT) : CAST(i*24+32 AS INT)], ' ') AS chunk_text,
  CAST(len(ws[CAST(i*24+1 AS INT) : CAST(i*24+32 AS INT)]) AS INT) AS n_words
FROM e ORDER BY doc_id, chunk_id""") { (s, d) =>
      chunk(Tables.documents(s, d), chunkSize = 32, stride = 24)
        .orderBy("doc_id", "chunk_id")
    },

    // Train/test contamination check: test docs (odd doc_id) sharing any
    // word 5-gram with the train split (even doc_id) — the eval-hygiene
    // scan every training pipeline needs. Grams come from lead() windows
    // (codegen'd; no gram strings in HOF lambdas), both sides distinct
    // before the equi-join on the gram, so the join input is bounded by
    // |distinct grams|, not |gram occurrences|; at 100 TB the gram would
    // be a 64-bit hash (1-1 on this corpus) to shrink shuffle bytes.
    Q("q_text_contamination",
      s"""$fiveGramsCte
test_grams AS (SELECT DISTINCT doc_id, g FROM grams WHERE doc_id % 2 = 1),
train_grams AS (SELECT DISTINCT g FROM grams WHERE doc_id % 2 = 0)
SELECT doc_id, COUNT(*) AS n_shared
FROM test_grams JOIN train_grams USING (g)
GROUP BY doc_id ORDER BY doc_id""") { (s, d) =>
      val grams = fiveGrams(s, d)
      val testGrams = grams.filter(col("doc_id") % 2 === 1).distinct()
      val trainGrams = grams.filter(col("doc_id") % 2 === 0)
        .select(col("g")).distinct()
      testGrams.join(trainGrams, "g")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
        .orderBy("doc_id")
    },

    // Decontamination — the other half of the contamination check: the
    // training docs (even doc_id) that share NO 5-gram with the test
    // split, i.e. the corpus that's safe to train on. A LEFT ANTI join
    // against the contaminated-id list: anti joins stream the left side
    // and never materialize unmatched rows, so at 100 TB the output costs
    // no more than the scan plus the (distinct-bounded) gram join.
    Q("q_pipeline_decontaminate",
      s"""$fiveGramsCte
test_g AS (SELECT DISTINCT g FROM grams WHERE doc_id % 2 = 1),
bad AS (SELECT DISTINCT doc_id FROM grams
        WHERE doc_id % 2 = 0 AND g IN (SELECT g FROM test_g))
SELECT d.doc_id, d.lang FROM documents d
WHERE d.doc_id % 2 = 0 AND d.doc_id NOT IN (SELECT doc_id FROM bad)
ORDER BY d.doc_id""") { (s, d) =>
      val grams = fiveGrams(s, d)
      val testG = grams.filter(col("doc_id") % 2 === 1)
        .select(col("g")).distinct()
      val bad = grams.filter(col("doc_id") % 2 === 0)
        .join(testG, "g").select(col("doc_id")).distinct()
      Tables.documents(s, d)
        .filter(col("doc_id") % 2 === 0)
        .join(bad, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    },

    // The full near-dedup pipeline as one query: candidate pairs ->
    // connected components -> keep min id per cluster, unpaired docs pass
    // through. ORACLE-PAIRED since r10: the DECLARED rows run the
    // survivors composition (the same keep-join [[graft.operators.Dedup
    // .survivors]] plans) over the REAL CC operator's labels on the
    // SQL-replicable exact window-pair edges, checked against the DuckDB
    // recursive-closure oracle. The production minhash pipeline is
    // checked through pipeline_agree_ok, a two-arm flag computed
    // GENUINELY from [[Dedup.survivors]]' real output: (1) ≥70% of the
    // declared survivors must survive the real pipeline (an
    // over-dropping pipeline fails), and (2) ≥70% of the truth-dropped
    // ids must also be dropped by it (a no-op pipeline fails) —
    // measured 0.955–0.983 / 1.000 at sf0.001/0.01/0.1
    // (DedupRecallProbe r10; arm 1 is sub-1 because the real minhash
    // pipeline legitimately links pairs BEYOND the truth window).
    Q("q_dedup_pipeline", pipelineSql("pipeline_agree_ok")) { (s, d) =>
      survivorsAgainstTruth(s, d,
        graft.operators.Dedup.survivors(_, threshold = 0.5),
        "pipeline_agree_ok")
    },

    // The same pipeline with exact dedup collapsed FIRST — the
    // duplicate-heavy-corpus shape ([[graft.operators.Dedup
    // .survivorsExactFirst]]): the signature pass sees each distinct
    // text once, so a d-times-replicated corpus costs ~d² less in
    // in-bucket pairs. DedupSpec pins result-equality with
    // q_dedup_pipeline's operator on a replicated corpus. ORACLE-PAIRED
    // since r10: same declared truth-survivor rows as q_dedup_pipeline,
    // with the two-arm flag computed from THIS operator's full
    // collapse→pipeline composition instead.
    Q("q_dedup_pipeline_exact_first", pipelineSql("pipeline_exact_first_ok")) { (s, d) =>
      survivorsAgainstTruth(s, d,
        graft.operators.Dedup.survivorsExactFirst(_, threshold = 0.5),
        "pipeline_exact_first_ok")
    },

    // B16' — the higher-order-function family surfaced as a query:
    // transform/filter/aggregate/exists/forall over the token array.
    // All outputs are exact-integer or boolean scalars (HOF folds over
    // ints are order-fixed left-to-right in both engines). NOTE HOF
    // lambdas run interpreted (no codegen) — fine per-doc over bounded
    // arrays, but corpus-scale hot paths reshape to explode+aggregate
    // (see Dedup/TextQueries shapes and the perf-findings memory).
    Q("q_hof_funcs",
      """SELECT doc_id,
  CAST(len(list_filter(string_split(text, ' '), w -> len(w) > 3)) AS INT) AS n_long,
  CAST(list_sum(list_transform(string_split(text, ' '), w -> len(w))) AS BIGINT) AS total_chars,
  len(list_filter(string_split(text, ' '), w -> len(w) > 8)) > 0 AS has_long_word,
  len(list_filter(string_split(text, ' '), w -> len(w) = 0)) = 0 AS all_nonempty
FROM documents ORDER BY doc_id""") { (s, d) =>
      val l = split(col("text"), " ")
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(filter(l, w => length(w) > 3)).as("n_long"),
          aggregate(transform(l, w => length(w)), lit(0), (a, b) => a + b)
            .cast("long").as("total_chars"),
          exists(l, w => length(w) > 8).as("has_long_word"),
          forall(l, w => length(w) > 0).as("all_nonempty"))
        .orderBy("doc_id")
    }
  )
}
