package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Registry

/** Pins the declared-surface counts that the docs (README, BASELINE.md,
  * .claude/skills/verify/SKILL.md) cite — a silently-dropped query shows
  * up here instead of going unnoticed behind stale prose (ADVICE r1).
  * Update the counts HERE and in those docs together, deliberately.
  */
class RegistrySpec extends AnyFunSuite {

  test("declared surface: 111 queries, ALL 111 oracle-paired") {
    val all = Registry.all
    assert(all.size == 111, s"query count drifted: ${all.size}")
    // Zero rows-only entries since r10. The conversion history (each via
    // the exact-plus-genuine-flag pattern — declared rows a DuckDB oracle
    // can replicate bitwise, plus a flag computed genuinely from the real
    // sketch/index/pipeline so a broken operator flips the hash red):
    // q_multimodal_decode r5 (PNG pixel digest SQL-reconstructible);
    // q_udf_geo_truncate r6 (shares coord_truncate's scalar oracle);
    // q_agg_approx_distinct r7 (exact count + within-5% HLL flag);
    // q_percentile_approx r9 (exact percentiles + rank-interval flag);
    // q_knn_lsh, q_knn_ivf, q_knn_lsh_dedup r10 (exact sampled-probe
    // top-k + recall@k flags of the real indexes);
    // q_dedup_minhash, q_dedup_simhash r10 (exact window-pair truth +
    // recall flags of the real candidate sets);
    // q_dedup_clusters(_exact_first), q_dedup_pipeline(_exact_first) r10
    // (the REAL CC operator / survivors keep-join over the exact
    // window-pair edges, checked against a DuckDB RECURSIVE-CTE closure,
    // + co-clustering/two-arm agreement flags of the real minhash
    // compositions). DedupRecallProbe/KnnRecallProbe back every bound;
    // DedupSpec/KnnSpec keep the raw operator pins.
    assert(all.count(_.oracle.nonEmpty) == 111,
      s"oracle-paired count drifted: ${all.count(_.oracle.nonEmpty)}")
  }
}
