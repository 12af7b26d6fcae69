package graft

import org.apache.spark.sql.functions._

/** sim_nprobe_planned (round 19) — the measure → decide → apply loop
  * closed over PROBE WIDTH (the sim_split_band_planned pattern): the
  * sweep prices the {1, 2, 4} grid, the chooser takes the largest
  * width whose cumulative hits-per-candidate efficiency vs the k = 1
  * arm beats 1/NprobePlanCandPerHit (k = 1 qualifies trivially — the
  * fail-closed floor), and the serve runs the full corpus at the
  * chosen width. Pins:
  *   1. the ivfChainCtesFor ("", NProbe) instance reproduces the
  *      audited unprefixed serve chain BYTE-FOR-BYTE (the chain's many
  *      composers — knn_mutual, range_search, rrf, cell_purity… — must
  *      never move under the generator extraction),
  *   2. serveAtNprobe at the production width IS sim_ivf_topk,
  *   3. per-(probe, rank) candidate-superset monotonicity across
  *      widths (more probes can only improve a bounded top-k),
  *   4. the planner's nprobe_used equals the chooser rule recomputed
  *      from the sweep rows it measures,
  *   5. the floor branch: a corpus whose extra probes add candidates
  *      but no hits chooses width 1. */
class NprobePlannedSpec extends SparkSpec {

  private val sf001 = "/root/testdata/sf0.01"

  test("ivfChainCtesFor(\"\", NProbe) reproduces the audited chain byte-for-byte") {
    // the frozen pre-extraction literal of ivfTopKCteSql (round 14
    // form, salt expression expanded) minus its "WITH " head
    val frozen =
      "c AS (SELECT vec_id AS cell, embedding AS cv FROM embeddings WHERE vec_id < 16), " +
      "s AS (SELECT e.vec_id, c.cell, " +
      "round((list_cosine_similarity(e.embedding::DOUBLE[], c.cv::DOUBLE[])) * 1e6) / 1e6 AS csim " +
      "FROM embeddings e CROSS JOIN c), " +
      "pr AS (SELECT vec_id, cell, row_number() OVER (" +
      "PARTITION BY vec_id ORDER BY csim DESC, cell ASC) AS rn FROM s), " +
      "probes AS (SELECT vec_id, cell FROM pr WHERE rn <= 2), " +
      "home AS (SELECT vec_id, cell FROM pr WHERE rn = 1), " +
      "m AS (SELECT e.vec_id, e.embedding, p.cell FROM embeddings e JOIN probes p ON e.vec_id = p.vec_id), " +
      "bc AS (SELECT e.vec_id, e.embedding, h.cell FROM embeddings e JOIN home h ON e.vec_id = h.vec_id " +
      "QUALIFY row_number() OVER (PARTITION BY h.cell ORDER BY " +
      "((((e.vec_id) % 2147483648) * 2654435761) % 2147483648), e.vec_id) <= 1024), " +
      "p AS (SELECT x.vec_id AS a_id, y.vec_id AS b_id, " +
      "round((list_cosine_similarity(x.embedding::DOUBLE[], y.embedding::DOUBLE[])) * 1e6) / 1e6 AS sim " +
      "FROM m x JOIN bc y ON x.cell = y.cell AND x.vec_id <> y.vec_id), " +
      "r AS (SELECT a_id, b_id, sim, row_number() OVER (PARTITION BY a_id " +
      "ORDER BY sim DESC, b_id ASC) AS rn FROM p)"
    assert(oracle.Similarity.ivfChainCtesFor("", 2) === frozen)
  }

  test("serveAtNprobe at the production width IS sim_ivf_topk") {
    val planned = ext.Similarity.serveAtNprobe(spark, sf001, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .toSet
    val topk = ext.Similarity.queries("sim_ivf_topk")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .toSet
    assert(planned === topk)
  }

  test("per-(probe, rank) sim never degrades as the width grows") {
    // candidate-superset monotonicity (the NnDescentSpec discipline):
    // widening the probe list can only add candidates to each probe's
    // bounded top-3, so the rank-r sim at width 4 >= width 1
    val s1 = ext.Similarity.serveAtNprobe(spark, sf001, 1)
      .select(col("a_id"), col("rn"), col("sim").as("sim1"))
    val s4 = ext.Similarity.serveAtNprobe(spark, sf001, 4)
      .select(col("a_id"), col("rn"), col("sim").as("sim4"))
    val degraded = s1.join(s4, Seq("a_id", "rn"))
      .filter(col("sim4") < col("sim1")).count()
    assert(degraded === 0L)
  }

  test("nprobe_used equals the chooser rule recomputed from the sweep") {
    val byK = ext.Similarity.nprobeSweep(spark, sf001)
      .select("nprobe", "n_cand", "n_hit").collect()
      .map(r => (r.getInt(0), (r.getLong(1), r.getLong(2)))).toMap
    val expected = ext.Similarity.chooseNprobe(byK)
    val used = ext.Similarity.nprobePlanned(spark, sf001)
      .select("nprobe_used").distinct().collect().map(_.getInt(0)).toSeq
    assert(used === Seq(expected))
    // the natural sf0.01 corpus prices both steps under 150
    // candidates/hit — the chooser takes the widest arm; a corpus
    // change that moves this should be re-derived, not patched here
    assert(expected === 4, s"sf0.01 chooser moved: $byK")
  }

  test("chooser rule: fail-closed floor, widest-qualifier, free-probe cases") {
    val C = ext.Similarity.NprobePlanCandPerHit
    assert(C === 150L, "chooser literal moved — re-derive the oracle npch CTE")
    def pick(rows: (Int, (Long, Long))*): Int =
      ext.Similarity.chooseNprobe(rows.toMap)
    // extra candidates, zero extra hits → only k = 1 qualifies (floor)
    assert(pick(1 -> ((100L, 50L)), 2 -> ((200L, 50L)), 4 -> ((400L, 50L))) === 1)
    // hits priced exactly at the literal qualify (>= is inclusive)
    assert(pick(1 -> ((100L, 50L)), 2 -> ((100L + C, 51L)),
                4 -> ((400L + 2 * C, 50L))) === 2)
    // widest qualifying arm wins even when a middle arm does not:
    // k = 2 one hit short, k = 4 cumulative pays
    assert(pick(1 -> ((100L, 50L)), 2 -> ((100L + C + 1, 51L)),
                4 -> ((100L + 2 * C, 52L))) === 4)
    // EMPTY extra cells make wider probes free (Δcand = 0): taking the
    // widest is the correct reading, not a floor miss
    assert(pick(1 -> ((100L, 50L)), 2 -> ((100L, 50L)), 4 -> ((100L, 50L))) === 4)
  }
}
