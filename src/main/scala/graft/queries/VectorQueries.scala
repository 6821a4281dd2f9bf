package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Vectors}
import graft.sources.Tables

/** SURVEY.md §2 rows B21 (similarity search) and B23 (multimodal columns)
  * over the `embeddings` (+`documents`) tables. The cosine oracle mirrors
  * the engine's exact fold discipline (cast-to-double per element,
  * left-to-right summation), so doubles are bitwise identical and even
  * tie-ordering in top-k agrees.
  */
object VectorQueries {

  /** DuckDB mirror of [[Vectors.dot]]: per-element double products folded
    * left-to-right with a 0.0 seed (list_prepend; 0.0 + x == x exactly).
    */
  private def duckDot(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
      list_transform(range(1, len($a) + 1),
        i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))), (x, y) -> x + y)"""

  private def duckNorm(a: String): String =
    s"""sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
      list_transform($a, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))), (x, y) -> x + y))"""

  /** Oracle of the recall-flagged kNN queries: the exact top-`k` cosine
    * neighbours of the 32-probe sample (vec_id < 32), plus a TRUE `flag`.
    */
  private def sampledTopKSql(k: Int, flag: String): String =
    s"""WITH pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
    ${duckDot("a.embedding", "b.embedding")}
    / (${duckNorm("a.embedding")} * ${duckNorm("b.embedding")}) AS cos_sim
  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
  WHERE a.vec_id < 32),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY id_a
                               ORDER BY cos_sim DESC, id_b) AS rn
  FROM pairs)
SELECT id_a, id_b, cos_sim, TRUE AS $flag
FROM ranked WHERE rn <= $k ORDER BY id_a, id_b"""

  val all: Seq[Q] = Seq(

    // B16/B21 groundwork — per-vector norm + dims, exact double fold.
    Q("q_vector_norm",
      s"""SELECT vec_id, CAST(len(embedding) AS INT) AS dim, ${duckNorm("embedding")} AS l2_norm
FROM embeddings ORDER BY vec_id""") { (s, d) =>
      Tables.embeddings(s, d)
        .select(col("vec_id"), size(col("embedding")).as("dim"),
          Vectors.norm(col("embedding")).as("l2_norm"))
        .orderBy("vec_id")
    },

    // B21a — exact brute-force cosine top-10 around vec_id = 0.
    Q("q_knn_cosine",
      s"""WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
  ${duckDot("embedding", "q_emb")} / (${duckNorm("embedding")} * ${duckNorm("q_emb")}) AS cos_sim
FROM embeddings, q WHERE vec_id <> 0
ORDER BY cos_sim DESC, vec_id LIMIT 10""") { (s, d) =>
      Vectors.knnBruteForce(Tables.embeddings(s, d), queryId = 0L, k = 10)
    },

    // B21b — LSH-bucketed approximate neighbors (bucket equi-join, never
    // all-pairs). ORACLE-PAIRED since r10 (VERDICT r9 item 3, the
    // exact-plus-genuine-flag pattern): xxhash64 hyperplane buckets
    // aren't SQL-replicable, so the DECLARED rows are the exact
    // brute-force top-5 for a bounded 32-probe sample (bitwise equal to
    // DuckDB — same fold as q_knn_cosine) plus lsh_recall_ok, computed
    // GENUINELY as recall@5 of the REAL knnLsh output over those probes
    // (bound 0.15; measured 0.325/0.394/0.488 at sf0.001/0.01/0.1 —
    // KnnRecallProbe r10 — so the flag is ~5 sigma above the bound on
    // 160 truth rows, yet a broken index flips it and the hash goes
    // red). Bucket internals never enter the hash; KnnSpec keeps the
    // raw-candidate and recall-floor pins on the operator itself.
    // Scale shape: the sample's exact side is |probes| x corpus (linear,
    // broadcast probes), the LSH side is the production bucket join with
    // the probe filter pushed below its window. The flag is a literal
    // measured by one materialization of exact ⋈ approx
    // ([[Dedup.withPairRecallFlag]]), so building the query runs that job,
    // as for the other eight oracle flags.
    Q("q_knn_lsh", sampledTopKSql(5, "lsh_recall_ok")) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val exact = Vectors.knnBruteForceBatch(emb, col("vec_id") < 32, k = 5)
      val lsh = Vectors.knnLsh(emb, k = 5).filter(col("id_a") < 32)
      Dedup.withPairRecallFlag(exact, lsh, 0.15, "lsh_recall_ok")
        .orderBy("id_a", "id_b")
    },

    // B21b' — dedup-before-index kNN, THE DEFAULT LSH ENTRY POINT:
    // identical vectors are searched
    // once via their representative and the result expands back exactly
    // (KnnSpec pins bitwise equality with q_knn_lsh's operator on a
    // duplicated corpus) — the production shape for duplicate-heavy
    // corpora, where plain LSH candidate counts grow quadratically in
    // the duplication factor. ORACLE-PAIRED since r10 (the last kNN
    // rows-only entry): same declared shape as q_knn_lsh — exact
    // brute-force top-5 over the bounded 32-probe sample — with the
    // recall flag computed genuinely from the DEDUPED index's output
    // (bitwise ≡ knnLsh by KnnSpec, so the same 0.15 bound vs measured
    // 0.325–0.488 holds; a broken collapse, expansion, or membership
    // join flips the flag red).
    Q("q_knn_lsh_dedup", sampledTopKSql(5, "lsh_dedup_recall_ok")) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val exact = Vectors.knnBruteForceBatch(emb, col("vec_id") < 32, k = 5)
      val lshd = Vectors.knnLshDeduped(emb, k = 5).filter(col("id_a") < 32)
      Dedup.withPairRecallFlag(exact, lshd, 0.15, "lsh_dedup_recall_ok")
        .orderBy("id_a", "id_b")
    },

    // B21c — IVF-style cell-probed search (label column as the coarse
    // quantizer cell; exact-decimal centroids), BATCHED over the same
    // 32-probe sample and ORACLE-PAIRED since r10 (same pattern as
    // q_knn_lsh above): declared rows = exact brute-force top-10 per
    // probe, plus ivf_recall_ok computed genuinely as recall@10 of the
    // real knnIvfBatch(nprobe=2) output. Bound 0.12 vs measured
    // 0.278/0.278/0.250 at sf0.001/0.01/0.1 over 320 truth rows
    // (KnnRecallProbe r10; the structural floor is nprobe/cells = 0.2 on
    // label-uncorrelated data) — >5 sigma of margin, and a broken
    // quantizer or cell join flips the flag. KnnSpec pins the batch's
    // single-probe slice bitwise-equal to the original knnIvf.
    Q("q_knn_ivf", sampledTopKSql(10, "ivf_recall_ok")) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val exact = Vectors.knnBruteForceBatch(emb, col("vec_id") < 32, k = 10)
      val ivf = Vectors.knnIvfBatch(emb, col("vec_id") < 32, k = 10, nprobe = 2)
      Dedup.withPairRecallFlag(exact, ivf, 0.12, "ivf_recall_ok")
        .orderBy("id_a", "id_b")
    },

    // B23a — multimodal join: text modality + vector modality in one row.
    Q("q_multimodal_join",
      s"""SELECT d.doc_id, d.lang, d.n_chars, CAST(len(e.embedding) AS INT) AS dim,
  ${duckNorm("e.embedding")} AS l2_norm
FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
ORDER BY d.doc_id""") { (s, d) =>
      Tables.documents(s, d)
        .join(Tables.embeddings(s, d), col("doc_id") === col("vec_id"))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          size(col("embedding")).as("dim"),
          Vectors.norm(col("embedding")).as("l2_norm"))
        .orderBy("doc_id")
    },

    // B23b — opaque binary payload column: the text bytes stand in for an
    // image/audio blob; octet_length + md5 are the deterministic
    // "feature extraction" the oracle can replicate byte-for-byte.
    Q("q_multimodal_binary",
      """SELECT doc_id, CAST(octet_length(encode(text)) AS INT) AS n_bytes, md5(text) AS payload_md5,
  source AS media_source FROM documents ORDER BY doc_id""") { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          octet_length(encode(col("text"), "UTF-8")).as("n_bytes"),
          md5(encode(col("text"), "UTF-8")).as("payload_md5"),
          col("source").as("media_source"))
        .orderBy("doc_id")
    }
  )
}
