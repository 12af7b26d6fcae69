package graft.oracle

import graft.ext.Similarity._

/** DuckDB reference SQL of the [[graft.ext.Similarity]] queries. It
  * encodes the sf0.01 index regime: numPlanes(500) == 8 and
  * ivfCells(500) == 16 by the engine's sizing formulas, and no sf0.01
  * bucket/cell approaches MaxBucketCandidates, so the adaptive Spark
  * plans produce byte-identical results to this fixed-constant SQL at
  * the scale the driver verifies. */
private[graft] object Similarity {

  private[graft] def saltOrdSql(e: String): String =
    s"(((($e) % 2147483648) * 2654435761) % 2147483648)"

  /** Beam-walk chain through `gsb<GraphSearchRounds>` (a_id, b_id, sim,
    * rn ≤ GraphBeam) —
    * oracle mirror of [[graphSearch]], shared by sim_graph_search and
    * sim_graph_search_eval (gs-prefixed names claimed; composes
    * [[knnMutualCteSql]], which owns r/t/mu). */
  private def graphSearchCteSql: String = {
    def round(prev: String, k: Int): String =
      s"gsc$k AS (SELECT a_id, b_id FROM $prev UNION " +
      s"SELECT b.a_id, g.v FROM $prev b JOIN gsu g ON b.b_id = g.u), " +
      s"gss$k AS (SELECT c.a_id, c.b_id, " +
      "round((list_dot_product(e.embedding, p.qv) / (e.nrm * p.qnrm)) * 1e6) / 1e6 AS sim " +
      s"FROM gsc$k c JOIN gse e ON c.b_id = e.vec_id " +
      "JOIN gsp p ON c.a_id = p.a_id WHERE c.a_id <> c.b_id), " +
      s"gsb$k AS (SELECT a_id, b_id, sim, rn FROM (SELECT gss$k.*, " +
      "row_number() OVER (PARTITION BY a_id ORDER BY sim DESC, b_id ASC) AS rn " +
      s"FROM gss$k) gsq$k WHERE rn <= $GraphBeam)"
    knnMutualCteSql + ", " + signCteSql + ", " +
    "gsu AS (SELECT a_id AS u, b_id AS v FROM mu " +
    "UNION ALL SELECT b_id, a_id FROM mu), " +
    "gse AS (SELECT vec_id, embedding::DOUBLE[] AS embedding, " +
    "sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm " +
    "FROM embeddings), " +
    "gsp AS (SELECT vec_id AS a_id, embedding AS qv, nrm AS qnrm " +
    s"FROM gse WHERE vec_id < $ProbeN), " +
    "gsb0 AS (SELECT a_id, b_id FROM (SELECT sgsh.*, row_number() OVER (" +
    "PARTITION BY a_id ORDER BY hd ASC, b_id ASC) AS re FROM sgsh) gsq0 " +
    s"WHERE re <= $GraphBeam), " +
    (1 to GraphSearchRounds).map(k => round(s"gsb${k - 1}", k)).mkString(", ")
  }

  /** The dim-stats oracle chain through `ds` (pos, n, mean, var_samp,
    * mn, mx — 6-dp-rounded) — shared by emb_dim_stats and emb_whiten so
    * the moment arithmetic cannot drift. */
  private def dimStatsCteSql: String =
    "WITH x AS (SELECT e.vec_id, CAST(p.pos1 - 1 AS INTEGER) AS pos, " +
    "CAST(e.embedding[p.pos1] AS DOUBLE) AS x " +
    "FROM embeddings e, UNNEST(range(1, len(e.embedding)+1)) AS p(pos1)), " +
    "t AS (SELECT pos, x, CAST(round(x * 1e6) AS BIGINT) AS t1, " +
    "CAST(round(x * x * 1e12) AS BIGINT) AS t2 FROM x), " +
    "g AS (SELECT pos, count(*) AS n, CAST(sum(t1) AS DOUBLE) AS s1, " +
    "CAST(sum(t2) AS DOUBLE) AS s2, min(x) AS mnx, max(x) AS mxx " +
    "FROM t GROUP BY pos), " +
    "ds AS (SELECT pos, n, round(((s1 / 1e6) / n) * 1e6) / 1e6 AS mean, " +
    "round((((s2 / 1e12) - ((s1 / 1e6) * (s1 / 1e6)) / n) / (n - 1)) * 1e6) / 1e6 AS var_samp, " +
    "round((mnx) * 1e6) / 1e6 AS mn, round((mxx) * 1e6) / 1e6 AS mx FROM g)"

  /** The integer power-iteration oracle chain through `v2c`
    * (pos, u2, v2) — shared by emb_pca_power and emb_pca_project so the
    * two cannot drift. The CTEs mirror pcaCentered + two matvec rounds
    * 1:1; `//` only ever divides NON-NEGATIVE operands (sign split)
    * because DuckDB floors where Spark's div truncates. */
  private def pcaCteSql: String =
    // ce / v2c are MATERIALIZED: DuckDB 1.0 re-evaluates a CTE per
    // reference, and the deflated-top2 chain references this base many
    // times — without materialization the re-evaluation compounds
    // exponentially with chain depth (observed: emb_pca_top2's oracle
    // ran for minutes; with it, seconds). Results are unchanged.
    "WITH x AS (SELECT e.vec_id, CAST(p.pos1 - 1 AS INTEGER) AS pos, " +
    "CAST(round(CAST(e.embedding[p.pos1] AS DOUBLE) * 1e3) AS BIGINT) AS t " +
    "FROM embeddings e, UNNEST(range(1, len(e.embedding)+1)) AS p(pos1)), " +
    "mn AS (SELECT pos, (CASE WHEN CAST(sum(t) AS BIGINT) < 0 THEN -1 ELSE 1 END) * " +
    "(abs(CAST(sum(t) AS BIGINT)) // count(*)) AS mean FROM x GROUP BY pos), " +
    "ce AS MATERIALIZED (SELECT x.vec_id, x.pos, x.t - mn.mean AS c FROM x JOIN mn USING (pos)), " +
    "s1 AS (SELECT vec_id, CAST(sum(c) AS BIGINT) AS sc FROM ce GROUP BY vec_id), " +
    "u1c AS (SELECT ce.pos, CAST(sum(ce.c * s1.sc) AS BIGINT) AS u1 " +
    "FROM ce JOIN s1 USING (vec_id) GROUP BY ce.pos), " +
    "m1 AS (SELECT max(abs(u1)) AS m FROM u1c), " +
    "v1c AS (SELECT pos, (CASE WHEN u1 < 0 THEN -1 ELSE 1 END) * " +
    "((abs(u1) * 100) // m) AS v1 FROM u1c CROSS JOIN m1), " +
    "s2 AS (SELECT ce.vec_id, CAST(sum(ce.c * v1c.v1) AS BIGINT) AS sc " +
    "FROM ce JOIN v1c USING (pos) GROUP BY ce.vec_id), " +
    "u2c AS (SELECT ce.pos, CAST(sum(ce.c * s2.sc) AS BIGINT) AS u2 " +
    "FROM ce JOIN s2 USING (vec_id) GROUP BY ce.pos), " +
    "m2 AS (SELECT max(abs(u2)) AS m FROM u2c), " +
    "v2c AS MATERIALIZED (SELECT pos, u2, (CASE WHEN u2 < 0 THEN -1 ELSE 1 END) * " +
    "((abs(u2) * 100) // m) AS v2 FROM u2c CROSS JOIN m2)"

  private def planeSqlLit(j: Int): String =
    plane(j).map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ",", "]")

  /** One packed sign word as DuckDB SQL — [[packWord]]'s mirror: 1-based
    * element i in [lo1, lo1+32) contributes bit (i − lo1). list_sum over
    * BIGINT returns HUGEINT, hence the outer cast. */
  private def signWordSql(lo1: Int): String =
    s"CAST(list_sum(list_transform(range($lo1, ${lo1 + 32}), i -> " +
    "CASE WHEN embedding[i] >= 0 THEN (CAST(1 AS BIGINT) << (i - " +
    s"$lo1)) ELSE CAST(0 AS BIGINT) END)) AS BIGINT)"

  /** Shared sign-bit chain (sg-prefixed names — CTE-namespace rule):
    * packed words `sgpk`, probe split `sgpr` (vec_id < ProbeN), Hamming
    * distances `sgh0`, shortlist `sgsh` (top-8 by hd, b_id) — mirrors
    * [[signShortlist]]; serves emb_sign_bits / sim_hamming_topk /
    * emb_sign_recall (keep all three in lockstep). */
  private val signCteSql: String =
    s"sgpk AS (SELECT vec_id, ${signWordSql(1)} AS w1, " +
    s"${signWordSql(33)} AS w2 FROM embeddings), " +
    "sgpr AS (SELECT vec_id AS a_id, w1 AS q1, w2 AS q2 FROM sgpk " +
    s"WHERE vec_id < $ProbeN), " +
    "sgh0 AS (SELECT sgpr.a_id, sgpk.vec_id AS b_id, " +
    "CAST(bit_count(xor(sgpk.w1, sgpr.q1)) + " +
    "bit_count(xor(sgpk.w2, sgpr.q2)) AS INTEGER) AS hd " +
    "FROM sgpk CROSS JOIN sgpr WHERE sgpk.vec_id <> sgpr.a_id), " +
    "sgsh AS (SELECT a_id, b_id, hd FROM (SELECT sgh0.*, " +
    "row_number() OVER (PARTITION BY a_id ORDER BY hd ASC, b_id ASC) AS rh " +
    s"FROM sgh0) t WHERE rh <= $SignShortlist)"

  /** JL plane k as a DuckDB literal (plane index [[JlPlaneBase]] + k —
    * keep in lockstep with [[jlWide]]). */
  private def jlListSql(k: Int): String =
    plane(JlPlaneBase + k).map(v => if (v > 0) "1.0" else "-1.0")
      .mkString("[", ",", "]")

  /** Shared JL chain (jl-prefixed names): per-vector 16 integer
    * micro-coordinates — mirrors [[jlWide]]. */
  private def jlCteSql: String =
    "jlw AS (SELECT vec_id, [" +
    (0 until JlDims).map(k =>
      "CAST(round(list_dot_product(embedding::DOUBLE[], " +
      s"${jlListSql(k)}) * 1e6) AS BIGINT)").mkString(", ") +
    "] AS jl FROM embeddings)"

  private def bucketSql: String =
    (0 until 8).map { j =>
      s"(CASE WHEN list_dot_product(embedding::DOUBLE[], ${planeSqlLit(j)}) > 0 " +
        s"THEN ${1 << j} ELSE 0 END)"
    }.mkString(" + ")

  /** Shared centroid CTE: 1-based list positions via range-unnest (DuckDB
    * v1.0 has no WITH ORDINALITY), re-based to 0 to match posexplode. */
  private val centroidCte: String =
    "u AS (SELECT d.source, p.pos1, CAST(e.embedding[p.pos1] AS DOUBLE) AS val " +
    "FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id, " +
    "UNNEST(range(1, len(e.embedding)+1)) AS p(pos1)), " +
    "cent AS (SELECT source, pos1, round((avg(val)) * 1e6) / 1e6 AS m " +
    "FROM u GROUP BY source, pos1)"

  /** Shared CTE chain: seed assignment (= sim_ivf_assign) feeding the
    * Lloyd-step centroid recomputation `tr`. */
  private val ivfTrainCte: String =
    "c AS (SELECT vec_id AS cell, embedding AS cv FROM embeddings WHERE vec_id < 16), " +
    "s AS (SELECT e.vec_id, c.cell, " +
    "round((list_cosine_similarity(e.embedding::DOUBLE[], c.cv::DOUBLE[])) * 1e6) / 1e6 AS csim " +
    "FROM embeddings e CROSS JOIN c), " +
    "asg AS (SELECT vec_id, cell FROM (SELECT vec_id, cell, row_number() OVER (" +
    "PARTITION BY vec_id ORDER BY csim DESC, cell ASC) AS rn FROM s) WHERE rn = 1), " +
    "tr AS (SELECT a.cell, p.pos1, " +
    "round((avg(CAST(e.embedding[p.pos1] AS DOUBLE))) * 1e6) / 1e6 AS m " +
    "FROM embeddings e JOIN asg a ON e.vec_id = a.vec_id, " +
    "UNNEST(range(1, len(e.embedding)+1)) AS p(pos1) " +
    "GROUP BY a.cell, p.pos1)"

  /** Shared incremental-training chain: the FROZEN base-half quantizer
    * (seeds vec_id < 16, corpus vec_id < 250, one Lloyd step) ending in
    * the list-form trained centroids `iicl` — composed by
    * sim_ivf_incremental_assign (batch-assignment tail `iib`) and
    * sim_ivf_upsert_search (up-prefixed rebuild tail). CTE names
    * iic/iis/iia/iit/iicl belong to this chain (namespace rule). Split
    * 250 / seeds 16 are the CountMemo n/2 and ivfCells-clamp-floor
    * constants at sf0.01 — lockstep with the runtime knobs. */
  private val incAssignCteSql: String =
    "iic AS (SELECT vec_id AS cell, embedding AS cv " +
    "FROM embeddings WHERE vec_id < 16), " +
    "iis AS (SELECT e.vec_id, c.cell, " +
    "round((list_cosine_similarity(e.embedding::DOUBLE[], c.cv::DOUBLE[])) * 1e6) / 1e6 AS csim " +
    "FROM embeddings e CROSS JOIN iic c WHERE e.vec_id < 250), " +
    "iia AS (SELECT vec_id, cell FROM (SELECT vec_id, cell, " +
    "row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell ASC) AS rn " +
    "FROM iis) WHERE rn = 1), " +
    "iit AS (SELECT a.cell, p.pos1, " +
    "round((avg(CAST(e.embedding[p.pos1] AS DOUBLE))) * 1e6) / 1e6 AS m " +
    "FROM embeddings e JOIN iia a ON e.vec_id = a.vec_id, " +
    "UNNEST(range(1, len(e.embedding)+1)) AS p(pos1) " +
    "GROUP BY a.cell, p.pos1), " +
    "iicl AS (SELECT cell, list(m ORDER BY pos1) AS cv FROM iit GROUP BY cell)"

  /** The trained chain through `home` (trained centroids → full
    * ranking → probes/home) — the prefix [[trainedTopKOracleSql]]
    * splices its serve tail onto, and the source relation
    * sim_cell_split_trained's split round runs over. */
  private lazy val trainedChainToHomeSql: String =
    s"WITH $ivfTrainCte, " +
    "tc AS (SELECT cell, list(m ORDER BY pos1) AS cv FROM tr GROUP BY cell), " +
    "s2 AS (SELECT e.vec_id, t.cell, " +
    "round((list_cosine_similarity(e.embedding::DOUBLE[], t.cv)) * 1e6) / 1e6 AS csim " +
    "FROM embeddings e CROSS JOIN tc t), " +
    "pr2 AS (SELECT vec_id, cell, row_number() OVER (" +
    "PARTITION BY vec_id ORDER BY csim DESC, cell ASC) AS rn FROM s2), " +
    s"probes AS (SELECT vec_id, cell FROM pr2 WHERE rn <= $NProbe), " +
    "home AS (SELECT vec_id, cell FROM pr2 WHERE rn = 1)"

  /** The trained serve chain through `r` — the prefix the trained
    * top-k select AND the `trained` recall leg's eval tail both
    * compose (serve and eval can never drift). */
  private lazy val trainedServeChainSql: String =
    trainedChainToHomeSql + ", " +
    "m2 AS (SELECT e.vec_id, e.embedding, p.cell FROM embeddings e JOIN probes p ON e.vec_id = p.vec_id), " +
    "bc AS (SELECT e.vec_id, e.embedding, h.cell FROM embeddings e JOIN home h ON e.vec_id = h.vec_id " +
    s"QUALIFY row_number() OVER (PARTITION BY h.cell ORDER BY ${saltOrdSql("e.vec_id")}, e.vec_id) <= $MaxBucketCandidates), " +
    "p AS (SELECT x.vec_id AS a_id, y.vec_id AS b_id, " +
    "round((list_cosine_similarity(x.embedding::DOUBLE[], y.embedding::DOUBLE[])) * 1e6) / 1e6 AS sim " +
    "FROM m2 x JOIN bc y ON x.cell = y.cell AND x.vec_id <> y.vec_id), " +
    "r AS (SELECT a_id, b_id, sim, row_number() OVER (PARTITION BY a_id " +
    "ORDER BY sim DESC, b_id ASC) AS rn FROM p)"

  /** The full trained-index search oracle (tc/s2/pr2 trained chain +
    * the probe/home/cap/rerank composition) — registered VERBATIM for
    * BOTH sim_ivf_topk_trained and sim_index_persist: the persisted
    * round trip changes where the index lives, never what it serves. */
  private lazy val trainedTopKOracleSql: String =
    trainedServeChainSql + s" SELECT a_id, b_id, rn, sim FROM r WHERE rn <= $TopK"

  /** The brute-force exact truth as CTE `name` (a_id, b_id, sim): the
    * 6-dp cosine of every probe (vec_id < ProbeN) to every other
    * vector; `on` narrows the join (the filtered leg's same-label
    * rule). */
  private def exactTruthCte(name: String, on: String = ""): String =
    s"$name AS (SELECT x.vec_id AS a_id, y.vec_id AS b_id, " +
    "round((list_cosine_similarity(x.embedding::DOUBLE[], " +
    "y.embedding::DOUBLE[])) * 1e6) / 1e6 AS sim " +
    s"FROM embeddings x JOIN embeddings y ON y.vec_id <> x.vec_id$on " +
    s"WHERE x.vec_id < $ProbeN)"

  /** The shared-truth recall-eval ORACLE tail over a ranked serve
    * relation (a_id, b_id, rn ordered) — `<pfx>ex/xr/sc/ht/cm` names
    * claimed; probe size ProbeN + the integer micro metric forms (the
    * eval-family contract, [[sharedTruthRecall]]'s mirror).
    * Every shared-truth recall oracle (st, dz, sb, tre, tse) reads
    * it. */
  private def recallEvalTailSqlFor(pfx: String, rel: String): String =
    exactTruthCte(s"${pfx}ex") + ", " +
    s"${pfx}xr AS (SELECT a_id, b_id FROM (SELECT a_id, b_id, " +
    "row_number() OVER (PARTITION BY a_id ORDER BY sim DESC, b_id ASC) " +
    s"AS rn FROM ${pfx}ex) e WHERE rn <= $TopK), " +
    s"${pfx}sc AS (SELECT a_id, b_id FROM $rel " +
    s"WHERE rn <= $TopK AND a_id < $ProbeN), " +
    s"${pfx}ht AS (SELECT a_id, b_id FROM ${pfx}xr " +
    s"JOIN ${pfx}sc USING (a_id, b_id)), " +
    s"${pfx}cm AS (SELECT (SELECT count(*) FROM ${pfx}xr) AS n_truth, " +
    s"(SELECT count(*) FROM ${pfx}sc) AS n_screen, " +
    s"(SELECT count(*) FROM ${pfx}ht) AS n_hit) " +
    "SELECT CAST(n_truth AS BIGINT) AS n_truth, " +
    "CAST(n_screen AS BIGINT) AS n_screen, " +
    "CAST(n_hit AS BIGINT) AS n_hit, " +
    "CASE WHEN n_truth = 0 THEN CAST(1000000 AS BIGINT) " +
    "ELSE (n_hit * CAST(1000000 AS BIGINT)) // n_truth END AS recall_micro, " +
    "CASE WHEN n_screen = 0 THEN CAST(0 AS BIGINT) " +
    "ELSE (n_hit * CAST(1000000 AS BIGINT)) // n_screen END " +
    s"AS precision_micro FROM ${pfx}cm"

  /** sim_trained_recall_eval's oracle — the eval tail over the trained
    * serve chain's `r`. */
  private def trainedRecallOracleSql: String =
    trainedServeChainSql + ", " + recallEvalTailSqlFor("tre", "r")

  /** sim_split_trained_recall_eval's oracle — the eval tail over the
    * trained-split serve chain's `tstr`. */
  private def trainedSplitRecallOracleSql: String =
    trainedSplitServeChainSql + ", " + recallEvalTailSqlFor("tse", "tstr")

  /** The IVF-PQ ADC top-k oracle — registered VERBATIM for BOTH
    * sim_ivfpq_topk and sim_ivfpq_persist (the storage-moved rule). */
  private lazy val ivfpqTopKOracleSql: String =
    s"WITH $ivfpqCteSql " +
    "SELECT q_id, vec_id, CAST(rn AS INTEGER) AS rn, adist FROM (" +
    "SELECT q_id, vec_id, round((CAST(ts AS DOUBLE) / 1e6) * 1e6) / 1e6 AS adist, " +
    "row_number() OVER (PARTITION BY q_id ORDER BY ts ASC, vec_id ASC) AS rn " +
    s"FROM vad) WHERE rn <= $TopK"

  /** Unrolled Lloyd trajectory as CTEs: `tr1` = the shared one-step
    * chain ([[ivfTrainCte]]'s `tr`), then per round r: list-form
    * centroids `cl(r-1)`, re-assignment `a r` (same rounded cosine +
    * tie-break), recomputed means `tr r`. The STATIC unroll depth is
    * [[LloydMaxRounds]] — in lockstep with the Spark loop because the
    * early-stop provably can't fire at sf0.01 (IvfTrainIterSpec pins
    * d2 > 0 per round). */
  private def lloydCteSql(rounds: Int): String = {
    val sb = new StringBuilder(ivfTrainCte)
    sb ++= ", tr1 AS (SELECT cell, pos1, m FROM tr)"
    for (r <- 2 to rounds) {
      val p = r - 1
      sb ++= s", cl$p AS (SELECT cell, list(m ORDER BY pos1) AS cv " +
        s"FROM tr$p GROUP BY cell)"
      sb ++= s", s$r AS (SELECT e.vec_id, t.cell, " +
        "round((list_cosine_similarity(e.embedding::DOUBLE[], t.cv)) * 1e6) / 1e6 AS csim " +
        s"FROM embeddings e CROSS JOIN cl$p t)"
      sb ++= s", a$r AS (SELECT vec_id, cell FROM (SELECT vec_id, cell, " +
        "row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell ASC) AS rn " +
        s"FROM s$r) WHERE rn = 1)"
      sb ++= s", tr$r AS (SELECT a.cell, p.pos1, " +
        "round((avg(CAST(e.embedding[p.pos1] AS DOUBLE))) * 1e6) / 1e6 AS m " +
        s"FROM embeddings e JOIN a$r a ON e.vec_id = a.vec_id, " +
        "UNNEST(range(1, len(e.embedding)+1)) AS p(pos1) " +
        "GROUP BY a.cell, p.pos1)"
    }
    sb.toString
  }

  /** One deflated power round as CTEs (matvec over `ce` from iterate
    * `in`.v, renorm to `et r`, orthogonalize against v2c scaled by
    * vq.vv, renorm to `ew r`.`vcol`) — mirrors [[pcaTop2]]'s `round`
    * 1:1. */
  private def pcaTop2RoundSql(r: Int, in: String, vcol: String): String =
    s"es$r AS (SELECT ce.vec_id, CAST(sum(ce.c * $in.v) AS BIGINT) AS sc " +
    s"FROM ce JOIN $in USING (pos) GROUP BY ce.vec_id), " +
    s"eu$r AS (SELECT ce.pos, CAST(sum(ce.c * es$r.sc) AS BIGINT) AS u " +
    s"FROM ce JOIN es$r USING (vec_id) GROUP BY ce.pos), " +
    s"em$r AS (SELECT max(abs(u)) AS m FROM eu$r), " +
    s"et$r AS MATERIALIZED (SELECT pos, (CASE WHEN u < 0 THEN -1 ELSE 1 END) * " +
    s"((abs(u) * 100) // m) AS t FROM eu$r CROSS JOIN em$r), " +
    s"ed$r AS (SELECT CAST(sum(et$r.t * v2c.v2) AS BIGINT) AS tv " +
    s"FROM et$r JOIN v2c USING (pos)), " +
    s"eg$r AS (SELECT et$r.pos, et$r.t * vq.vv - ed$r.tv * v2c.v2 AS g " +
    s"FROM et$r JOIN v2c USING (pos) CROSS JOIN vq CROSS JOIN ed$r), " +
    s"eh$r AS (SELECT max(abs(g)) AS m FROM eg$r), " +
    s"ew$r AS MATERIALIZED (SELECT pos, (CASE WHEN g < 0 THEN -1 ELSE 1 END) * " +
    s"((abs(g) * 100) // m) AS $vcol FROM eg$r CROSS JOIN eh$r)"

  /** Squared-L2 oracle expression with the EXACT association of
    * [[pqAssign]]: ((sv·sv − 2·sv·cv) + cv·cv), identical IEEE ops over
    * identical inputs ⇒ bit-identical before the rounding. */
  private def pqD2Sql(sv: String, cv: String): String =
    s"((list_dot_product($sv, $sv) - 2 * list_dot_product($sv, $cv)) + " +
    s"list_dot_product($cv, $cv))"

  /** PQ CTE chain: subvectors `psub`, seed codebook `pcb0`, seed assign
    * `pa0`, one-Lloyd-step trained codebook `ptr`/`pcl`, final codes
    * `pfin` — the [[pqCodebook]]+[[pqCodes]] composition with the same
    * constants (8 subspaces × 8 dims, 16 codes). */
  private def pqCteSql: String = {
    val d0 = pqD2Sql("p.sv", "c.cv")
    s"psub AS (SELECT e.vec_id, CAST(s.sub AS INTEGER) AS sub, " +
    s"(e.embedding[s.sub*$PqSubDim+1 : s.sub*$PqSubDim+$PqSubDim])::DOUBLE[] AS sv " +
    s"FROM embeddings e, UNNEST(range(0, $PqSubs)) AS s(sub)), " +
    s"pcb0 AS (SELECT sub, vec_id AS code, sv AS cv FROM psub WHERE vec_id < $PqCodes), " +
    s"pax AS (SELECT p.vec_id, p.sub, c.code, round(($d0) * 1e6) / 1e6 AS d2 " +
    "FROM psub p JOIN pcb0 c USING (sub)), " +
    "pa0 AS (SELECT vec_id, sub, code FROM (SELECT vec_id, sub, code, " +
    "row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2 ASC, code ASC) AS rn " +
    "FROM pax) WHERE rn = 1), " +
    "ptr AS (SELECT a.sub, a.code, p.pos1, round((avg(s.sv[p.pos1])) * 1e6) / 1e6 AS m " +
    "FROM psub s JOIN pa0 a ON s.vec_id = a.vec_id AND s.sub = a.sub, " +
    s"UNNEST(range(1, ${PqSubDim + 1})) AS p(pos1) GROUP BY a.sub, a.code, p.pos1), " +
    "pcl AS (SELECT sub, code, list(m ORDER BY pos1) AS cv FROM ptr GROUP BY sub, code), " +
    s"pfx AS (SELECT p.vec_id, p.sub, c.code, round(($d0) * 1e6) / 1e6 AS d2 " +
    "FROM psub p JOIN pcl c USING (sub)), " +
    "pfin AS (SELECT vec_id, sub, code, d2 FROM (SELECT vec_id, sub, code, d2, " +
    "row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2 ASC, code ASC) AS rn " +
    "FROM pfx) WHERE rn = 1)"
  }

  /** [[pqCteSql]] extended with the ADC ranking: query distance table
    * `qd` (exact integer micro-units), per-candidate sums `ad`, ranked
    * shortlist `rk` — shared by the ADC top-k and re-rank oracles. */
  private def pqAdcCteSql: String =
    s"$pqCteSql, " +
    "qd AS (SELECT q.vec_id AS q_id, q.sub, c.code, " +
    s"CAST(round((${pqD2Sql("q.sv", "c.cv")}) * 1e6) AS BIGINT) AS t " +
    s"FROM psub q JOIN pcl c USING (sub) WHERE q.vec_id < $PqQueries), " +
    "ad AS (SELECT d.q_id, f.vec_id, sum(d.t) AS ts FROM pfin f " +
    "JOIN qd d ON f.sub = d.sub AND f.code = d.code AND f.vec_id <> d.q_id " +
    "GROUP BY 1, 2), " +
    "rk AS (SELECT q_id, vec_id, round((CAST(ts AS DOUBLE) / 1e6) * 1e6) / 1e6 AS adist, " +
    "row_number() OVER (PARTITION BY q_id ORDER BY ts ASC, vec_id ASC) AS rn " +
    s"FROM ad QUALIFY rn <= $PqShortlist)"

  /** Per-(vec_id, cell) residual subvector CTE body — element-wise
    * (embedding − trained centroid) over the PQ geometry, mirroring
    * [[residualSubs]]; `src` must provide (vec_id, cell). */
  private def residualSubSql(src: String): String =
    s"SELECT h.vec_id, h.cell, CAST(s.sub AS INTEGER) AS sub, " +
    s"list_transform(range(1, ${PqSubDim + 1}), i -> " +
    s"CAST(e.embedding[s.sub*$PqSubDim + i] AS DOUBLE) - t.cv[s.sub*$PqSubDim + i]) AS sv " +
    s"FROM $src h JOIN embeddings e ON e.vec_id = h.vec_id " +
    s"JOIN tc t ON t.cell = h.cell, UNNEST(range(0, $PqSubs)) AS s(sub)"

  /** IVF-PQ oracle chain: trained coarse ranking (tc/s2/pr2 — the
    * sim_ivf_assign_trained chain, keep in lockstep), home + probe
    * splits, residual subvectors, residual codebook (seed + one Lloyd
    * step, the pqCteSql discipline), final codes `vfin`, query ADC
    * table `vqd`, candidate sums `vad`. */
  private def ivfpqCteSql: String = {
    val d0 = pqD2Sql("p.sv", "c.cv")
    s"$ivfTrainCte, " +
    "tc AS (SELECT cell, list(m ORDER BY pos1) AS cv FROM tr GROUP BY cell), " +
    "s2 AS (SELECT e.vec_id, t.cell, " +
    "round((list_cosine_similarity(e.embedding::DOUBLE[], t.cv)) * 1e6) / 1e6 AS csim " +
    "FROM embeddings e CROSS JOIN tc t), " +
    "pr2 AS (SELECT vec_id, cell, row_number() OVER (" +
    "PARTITION BY vec_id ORDER BY csim DESC, cell ASC) AS rn FROM s2), " +
    "vhome AS (SELECT vec_id, cell FROM pr2 WHERE rn = 1), " +
    s"vprobes AS (SELECT vec_id, cell FROM pr2 WHERE rn <= $NProbe " +
    s"AND vec_id < $PqQueries), " +
    s"vrsub AS (${residualSubSql("vhome")}), " +
    s"vcb0 AS (SELECT sub, vec_id AS code, sv AS cv FROM vrsub WHERE vec_id < $PqCodes), " +
    s"vax AS (SELECT p.vec_id, p.sub, c.code, round(($d0) * 1e6) / 1e6 AS d2 " +
    "FROM vrsub p JOIN vcb0 c USING (sub)), " +
    "va0 AS (SELECT vec_id, sub, code FROM (SELECT vec_id, sub, code, " +
    "row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2 ASC, code ASC) AS rn " +
    "FROM vax) WHERE rn = 1), " +
    "vtr AS (SELECT a.sub, a.code, p.pos1, round((avg(s.sv[p.pos1])) * 1e6) / 1e6 AS m " +
    "FROM vrsub s JOIN va0 a ON s.vec_id = a.vec_id AND s.sub = a.sub, " +
    s"UNNEST(range(1, ${PqSubDim + 1})) AS p(pos1) GROUP BY a.sub, a.code, p.pos1), " +
    "vcl AS (SELECT sub, code, list(m ORDER BY pos1) AS cv FROM vtr GROUP BY sub, code), " +
    s"vfx AS (SELECT p.vec_id, p.sub, c.code, round(($d0) * 1e6) / 1e6 AS d2 " +
    "FROM vrsub p JOIN vcl c USING (sub)), " +
    "vfin AS (SELECT vec_id, sub, code FROM (SELECT vec_id, sub, code, " +
    "row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2 ASC, code ASC) AS rn " +
    "FROM vfx) WHERE rn = 1), " +
    s"vqs AS (${residualSubSql("vprobes")}), " +
    "vqd AS (SELECT p.vec_id AS q_id, p.cell, p.sub, c.code, " +
    s"CAST(round(($d0) * 1e6) AS BIGINT) AS t " +
    "FROM vqs p JOIN vcl c USING (sub)), " +
    "vcand AS (SELECT f.vec_id, h.cell, f.sub, f.code FROM vfin f " +
    "JOIN vhome h ON h.vec_id = f.vec_id), " +
    "vad AS (SELECT d.q_id, c.vec_id, sum(d.t) AS ts FROM vcand c " +
    "JOIN vqd d ON c.cell = d.cell AND c.sub = d.sub AND c.code = d.code " +
    "AND c.vec_id <> d.q_id GROUP BY 1, 2)"
  }

  private val oracleBase: Map[String, String] = Map(
    "sim_pq_codes" ->
      s"WITH $pqCteSql SELECT vec_id, sub, code, d2 FROM pfin",
    // per-sub distortion over the SAME pfin chain; d2 micronized
    // BEFORE summing (6-dp grain -> exact integers), nonneg div —
    // lockstep with pqDistortion
    "sim_pq_distortion" ->
      (s"WITH $pqCteSql " +
       "SELECT sub, count(*) AS n_vecs, " +
       "CAST(sum(CAST(round(d2 * 1e6) AS BIGINT)) AS BIGINT) AS sum_d2_micro, " +
       "CAST(max(CAST(round(d2 * 1e6) AS BIGINT)) AS BIGINT) AS max_d2_micro, " +
       "CAST(sum(CAST(round(d2 * 1e6) AS BIGINT)) AS BIGINT) // count(*) AS mean_d2_micro " +
       "FROM pfin GROUP BY sub ORDER BY sub"),
    // ADC: per-query (sub, code) distance table in exact integer
    // micro-units; candidate distance = sum of 8 lookups (exact BIGINT
    // sum, order-invariant); rank by the sum, ties to the lower id.
    "sim_pq_adc_topk" ->
      (s"WITH $pqAdcCteSql " +
       s"SELECT q_id, vec_id, CAST(rn AS INTEGER) AS rn, adist FROM rk WHERE rn <= $TopK"),
    // serving path: ADC shortlist (rn <= 32) then exact squared-L2
    // re-rank against the float vectors, same ((qq - 2qv) + vv)
    // association as the Spark side
    "sim_pq_rerank_topk" ->
      (s"WITH $pqAdcCteSql, " +
       s"sl AS (SELECT q_id, vec_id FROM rk WHERE rn <= $PqShortlist), " +
       "ex AS (SELECT s.q_id, s.vec_id, " +
       "round(((list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]) - " +
       "2 * list_dot_product(q.embedding::DOUBLE[], e.embedding::DOUBLE[])) + " +
       "list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) * 1e6) / 1e6 AS d2 " +
       "FROM sl s JOIN embeddings e ON e.vec_id = s.vec_id " +
       "JOIN embeddings q ON q.vec_id = s.q_id) " +
       "SELECT q_id, vec_id, CAST(rn AS INTEGER) AS rn, d2 FROM (" +
       "SELECT q_id, vec_id, d2, row_number() OVER (" +
       "PARTITION BY q_id ORDER BY d2 ASC, vec_id ASC) AS rn FROM ex) " +
       s"WHERE rn <= $TopK"),
    // IVF-PQ: residual codebook within trained coarse cells, ADC over
    // probed cells only — the integer micro-unit sum ranks identically
    // on both engines (order-invariant BIGINT)
    "sim_ivfpq_topk" -> ivfpqTopKOracleSql,
    // persisted composed-index round trip: the oracle IS
    // sim_ivfpq_topk's, UNCHANGED — centroids/postings/codebook/codes
    // moved to parquet, the search they serve did not (the
    // dedup_index_persist / sim_index_persist rule)
    "sim_ivfpq_persist" -> ivfpqTopKOracleSql,
    // composed-index re-rank: the sim_ivfpq_topk ADC chain widened to
    // the shortlist, then the sim_pq_rerank_topk exact-L2 stage verbatim
    // (keep all three in lockstep)
    "sim_ivfpq_rerank_topk" ->
      (s"WITH $ivfpqCteSql, " +
       "irk AS (SELECT q_id, vec_id, row_number() OVER (" +
       "PARTITION BY q_id ORDER BY ts ASC, vec_id ASC) AS rn FROM vad), " +
       s"isl AS (SELECT q_id, vec_id FROM irk WHERE rn <= $PqShortlist), " +
       "iex AS (SELECT s.q_id, s.vec_id, " +
       "round(((list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]) - " +
       "2 * list_dot_product(q.embedding::DOUBLE[], e.embedding::DOUBLE[])) + " +
       "list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) * 1e6) / 1e6 AS d2 " +
       "FROM isl s JOIN embeddings e ON e.vec_id = s.vec_id " +
       "JOIN embeddings q ON q.vec_id = s.q_id) " +
       "SELECT q_id, vec_id, CAST(rn AS INTEGER) AS rn, d2 FROM (" +
       "SELECT q_id, vec_id, d2, row_number() OVER (" +
       "PARTITION BY q_id ORDER BY d2 ASC, vec_id ASC) AS rn FROM iex) " +
       s"WHERE rn <= $TopK"),
    "sim_ivf_train_iter" ->
      (s"WITH ${lloydCteSql(LloydMaxRounds)} " +
       s"SELECT cell, CAST(pos1 - 1 AS INTEGER) AS pos, m FROM tr$LloydMaxRounds " +
       "ORDER BY cell, pos"),
    "sim_ivf_train_hist" ->
      (s"WITH ${lloydCteSql(LloydMaxRounds)}, " +
       "tr0 AS (SELECT c.cell, p.pos1, CAST(e.embedding[p.pos1] AS DOUBLE) AS m " +
       "FROM embeddings e JOIN c ON e.vec_id = c.cell, " +
       "UNNEST(range(1, len(e.embedding)+1)) AS p(pos1)), " +
       (1 to LloydMaxRounds).map { r =>
         s"d$r AS (SELECT $r AS iter, cur.cell, " +
         "CAST(round((cur.m - prev.m) * (cur.m - prev.m) * 1e12) AS BIGINT) AS t " +
         s"FROM tr$r cur JOIN tr${r - 1} prev " +
         "ON cur.cell = prev.cell AND cur.pos1 = prev.pos1)"
       }.mkString(", ") + ", " +
       s"dd AS (${(1 to LloydMaxRounds).map(r => s"SELECT * FROM d$r").mkString(" UNION ALL ")}) " +
       "SELECT iter, cell, count(*) AS n_dims, " +
       "round((CAST(sum(t) AS DOUBLE) / 1e12) * 1e6) / 1e6 AS d2, " +
       "CAST(round((CAST(sum(t) AS DOUBLE) / 1e12) * 1e6) / 1e6 > 0 AS INTEGER) AS moved " +
       "FROM dd GROUP BY iter, cell ORDER BY iter, cell"),
    "sim_ivf_train" ->
      (s"WITH $ivfTrainCte " +
       "SELECT cell, CAST(pos1 - 1 AS INTEGER) AS pos, m FROM tr " +
       "ORDER BY cell, pos"),
    "sim_ivf_train_delta" ->
      (s"WITH $ivfTrainCte, " +
       "sd AS (SELECT c.cell, p.pos1, CAST(e.embedding[p.pos1] AS DOUBLE) AS sv " +
       "FROM embeddings e JOIN c ON e.vec_id = c.cell, " +
       "UNNEST(range(1, len(e.embedding)+1)) AS p(pos1)), " +
       "d AS (SELECT tr.cell, " +
       "CAST(round((tr.m - sd.sv) * (tr.m - sd.sv) * 1e12) AS BIGINT) AS t " +
       "FROM tr JOIN sd ON tr.cell = sd.cell AND tr.pos1 = sd.pos1) " +
       "SELECT cell, count(*) AS n_dims, " +
       "round((CAST(sum(t) AS DOUBLE) / 1e12) * 1e6) / 1e6 AS d2, " +
       "CAST(round((CAST(sum(t) AS DOUBLE) / 1e12) * 1e6) / 1e6 > 0 AS INTEGER) AS moved " +
       "FROM d GROUP BY cell ORDER BY cell"),
    "sim_ivf_assign_trained" ->
      (s"WITH $ivfTrainCte, " +
       "tc AS (SELECT cell, list(m ORDER BY pos1) AS cv FROM tr GROUP BY cell), " +
       "s2 AS (SELECT e.vec_id, t.cell, " +
       "round((list_cosine_similarity(e.embedding::DOUBLE[], t.cv)) * 1e6) / 1e6 AS csim " +
       "FROM embeddings e CROSS JOIN tc t) " +
       "SELECT vec_id, cell, csim FROM (SELECT vec_id, cell, csim, " +
       "row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell ASC) AS rn " +
       "FROM s2) WHERE rn = 1"),
    // per-cell cohesion/outlier report: the sim_ivf_assign_trained
    // chain folded per cell — exact micro-unit csim mass, worst member
    // by (csim asc, vec_id asc)
    "emb_outlier_report" ->
      (s"WITH $ivfTrainCte, " +
       "tc AS (SELECT cell, list(m ORDER BY pos1) AS cv FROM tr GROUP BY cell), " +
       "s2 AS (SELECT e.vec_id, t.cell, " +
       "round((list_cosine_similarity(e.embedding::DOUBLE[], t.cv)) * 1e6) / 1e6 AS csim " +
       "FROM embeddings e CROSS JOIN tc t), " +
       "oasg AS (SELECT vec_id, cell, csim FROM (SELECT vec_id, cell, csim, " +
       "row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell ASC) AS rn " +
       "FROM s2) WHERE rn = 1), " +
       "orr AS (SELECT vec_id, cell, csim, " +
       "CAST(round(csim * 1e6) AS BIGINT) AS cm, " +
       "row_number() OVER (PARTITION BY cell ORDER BY csim ASC, vec_id ASC) AS rn " +
       "FROM oasg) " +
       "SELECT cell, count(*) AS n_members, " +
       "CAST(sum(cm) AS BIGINT) AS sum_csim_micro, " +
       "max(CASE WHEN rn = 1 THEN vec_id END) AS worst_id, " +
       "max(CASE WHEN rn = 1 THEN csim END) AS worst_csim " +
       "FROM orr GROUP BY cell"),
    // SemDeDup: trained home-cell assignment (tc/s2/home as in
    // sim_ivf_assign_trained), within-cell pairs at a < b, cosine
    // confirm >= 0.4, keep iff no confirmed dup with a smaller id.
    // The cap CTE is omitted: no sf0.01 cell approaches 1024 (the
    // regime note at the top of this section), so the capped Spark
    // plan and this uncapped SQL are byte-identical where verified.
    "dedup_semantic" ->
      (s"WITH $semanticCellCte " +
       "SELECT m.vec_id, m.cell, " +
       "coalesce(d.n, CAST(0 AS BIGINT)) AS n_dups_smaller, " +
       "CAST(coalesce(d.n, CAST(0 AS BIGINT)) = 0 AS INTEGER) AS keep " +
       "FROM m LEFT JOIN d ON d.b_id = m.vec_id"),
    // dsc-prefixed tail over the SAME semanticCellCte chain's `p` (the
    // un-thresholded in-cell pairs — dedup and curve move together);
    // grid in micro-units, comparison value = CAST(τµ AS DOUBLE)/1e6 on
    // BOTH engines (correctly-rounded division ≡ the parsed literal);
    // counts nonneg so // ≡ div
    "dedup_semantic_curve" ->
      (s"WITH $semanticCellCte, " +
       s"dscg AS (SELECT UNNEST([${SemanticCurveTaus.mkString(", ")}]) AS tau_micro), " +
       "dscc AS (SELECT g.tau_micro, count(*) AS n_pairs, " +
       "count(DISTINCT p.b_id) AS n_drop FROM p CROSS JOIN dscg g " +
       "WHERE p.sim >= CAST(g.tau_micro AS DOUBLE) / 1e6 " +
       "GROUP BY g.tau_micro), " +
       "dscn AS (SELECT count(*) AS n_vec FROM embeddings) " +
       "SELECT CAST(g.tau_micro AS BIGINT) AS tau_micro, " +
       "CAST(coalesce(c.n_pairs, 0) AS BIGINT) AS n_pairs, " +
       "CAST(coalesce(c.n_drop, 0) AS BIGINT) AS n_drop, " +
       "(CAST(coalesce(c.n_drop, 0) AS BIGINT) * 1000000) // n.n_vec " +
       "AS drop_frac_micro " +
       "FROM dscg g LEFT JOIN dscc c USING (tau_micro) CROSS JOIN dscn n " +
       "ORDER BY tau_micro"),
    // composes the SAME semanticCellCte chain as dedup_semantic (the
    // eval can never drift from the decision it measures); probe ProbeN /
    // 0.4 threshold literals mirror semanticDedupEval — lockstep
    "dedup_semantic_eval" ->
      (s"WITH $semanticCellCte, " +
       "sdk AS (SELECT m.vec_id, " +
       "CAST(coalesce(d.n, CAST(0 AS BIGINT)) = 0 AS INTEGER) AS keep " +
       s"FROM m LEFT JOIN d ON d.b_id = m.vec_id WHERE m.vec_id < $ProbeN), " +
       "sdt AS (SELECT DISTINCT x.vec_id AS a_id FROM embeddings x " +
       s"JOIN embeddings y ON y.vec_id < x.vec_id WHERE x.vec_id < $ProbeN AND " +
       "round((list_cosine_similarity(x.embedding::DOUBLE[], y.embedding::DOUBLE[])) * 1e6) / 1e6 >= 0.4), " +
       "sdm AS (SELECT (SELECT count(*) FROM sdk) AS n_probes, " +
       "(SELECT count(*) FROM sdt) AS n_truth, " +
       "(SELECT count(*) FROM sdk WHERE keep = 0) AS n_pred, " +
       "(SELECT count(*) FROM sdk JOIN sdt ON sdt.a_id = sdk.vec_id " +
       "WHERE keep = 0) AS n_hit) " +
       "SELECT n_probes, n_truth, n_pred, n_hit, " +
       "CASE WHEN n_truth = 0 THEN CAST(1000000 AS BIGINT) " +
       "ELSE (n_hit * CAST(1000000 AS BIGINT)) // n_truth END AS recall_micro, " +
       "CASE WHEN n_pred = 0 THEN CAST(1000000 AS BIGINT) " +
       "ELSE (n_hit * CAST(1000000 AS BIGINT)) // n_pred END AS precision_micro " +
       "FROM sdm"),
    // trained-index search: the sim_ivf_topk probe/home/cap composition
    // over the TRAINED cells (tc/s2 as in sim_ivf_assign_trained)
    "sim_ivf_topk_trained" -> trainedTopKOracleSql,
    // persisted-index round trip: the oracle IS sim_ivf_topk_trained's,
    // UNCHANGED — only the index's storage moved (localCheckpoint →
    // cell-partitioned parquet), so hash equality proves the reloaded
    // index serves identical results (the dedup_index_persist rule)
    "sim_index_persist" -> trainedTopKOracleSql,
    "emb_centroid_by_source" ->
      (s"WITH $centroidCte " +
       "SELECT source, CAST(pos1 - 1 AS INTEGER) AS pos, m FROM cent " +
       "ORDER BY source, pos"),
    "emb_quantize" ->
      ("SELECT vec_id, round((mn) * 1e6) / 1e6 AS mn_r, " +
       "round((mx) * 1e6) / 1e6 AS mx_r, " +
       "CASE WHEN mx > mn THEN array_to_string(list_transform(embedding, " +
       "v -> CAST(least(255, floor((CAST(v AS DOUBLE) - mn) / (mx - mn) * 255)) " +
       "AS INTEGER)), ',') " +
       "ELSE array_to_string(list_transform(embedding, v -> 0), ',') END AS codes " +
       "FROM (SELECT vec_id, embedding, " +
       "CAST(list_min(embedding) AS DOUBLE) AS mn, " +
       "CAST(list_max(embedding) AS DOUBLE) AS mx FROM embeddings) t"),
    // exact integer-moment per-dim stats: identical element quantization
    // (round(x*1e6), round(x*x*1e12)) and exact big-integer sums on both
    // engines (DuckDB sums BIGINT into HUGEINT; Spark uses DECIMAL(38,0)
    // accumulators), so every downstream double op folds identical inputs
    "emb_pca_power" ->
      (pcaCteSql + " SELECT pos, u2, v2 FROM v2c ORDER BY pos"),
    // deflated second component: the SAME chain (keep in lockstep) plus
    // per-round matvec -> renorm -> iterate-level orthogonalization
    // (w = t*vv - (t*v)*v, multiplied through by vv so no division);
    // every sum CAST to BIGINT, every // behind abs() (sign split)
    "emb_pca_top2" ->
      (pcaCteSql + ", " +
       "vq AS (SELECT CAST(sum(v2*v2) AS BIGINT) AS vv, " +
       "CAST(sum(v2) AS BIGINT) AS sv FROM v2c), " +
       "g0 AS (SELECT pos, vq.vv - vq.sv * v2c.v2 AS g FROM v2c CROSS JOIN vq), " +
       "gm AS (SELECT max(abs(g)) AS m FROM g0), " +
       "g1 AS MATERIALIZED (SELECT pos, (CASE WHEN g < 0 THEN -1 ELSE 1 END) * " +
       "((abs(g) * 100) // m) AS v FROM g0 CROSS JOIN gm), " +
       pcaTop2RoundSql(1, "g1", "v") + ", " +
       pcaTop2RoundSql(2, "ew1", "w2") + " " +
       "SELECT v2c.pos, v2c.v2, ew2.w2 FROM v2c JOIN ew2 USING (pos) ORDER BY pos"),
    // projection composes the SAME chain (keep in lockstep): one more
    // ce ⋈ v2 matvec, still exact BIGINT
    "emb_pca_project" ->
      (pcaCteSql + ", sc AS (SELECT ce.vec_id, " +
       "CAST(sum(ce.c * v2c.v2) AS BIGINT) AS score " +
       "FROM ce JOIN v2c USING (pos) GROUP BY ce.vec_id) " +
       "SELECT e.vec_id, e.label, sc.score " +
       "FROM embeddings e JOIN sc ON e.vec_id = sc.vec_id"),
    "emb_dim_stats" ->
      (dimStatsCteSql + " SELECT pos, n, mean, var_samp, mn, mx FROM ds ORDER BY pos"),
    // whitening composes the SAME moment chain (keep in lockstep): the
    // 6-dp-rounded mean/σ are identical doubles on both engines, and
    // (x−mean)/sqrt(var) is a fixed tree of exactly-rounded IEEE ops
    "emb_whiten" ->
      (dimStatsCteSql + " SELECT x.vec_id, x.pos, " +
       "(round(((x.x - ds.mean) / sqrt(ds.var_samp)) * 1e4) / 1e4) + 0.0 AS z " +
       "FROM x JOIN ds USING (pos) WHERE ds.var_samp > 0"),
    "emb_centroid_sim" ->
      (s"WITH $centroidCte, " +
       "cl AS (SELECT source, list(m ORDER BY pos1) AS c FROM cent GROUP BY source) " +
       "SELECT x.source AS a_src, y.source AS b_src, " +
       "round((list_cosine_similarity(x.c, y.c)) * 1e6) / 1e6 AS sim " +
       "FROM cl x JOIN cl y ON x.source < y.source"),
    "emb_label_eval" ->
      ("WITH u AS (SELECT e.label, p.pos1, CAST(e.embedding[p.pos1] AS DOUBLE) AS val " +
       "FROM embeddings e, UNNEST(range(1, len(e.embedding)+1)) AS p(pos1)), " +
       "cent AS (SELECT label AS plabel, pos1, round((avg(val)) * 1e6) / 1e6 AS m " +
       "FROM u GROUP BY label, pos1), " +
       "cl AS (SELECT plabel, list(m ORDER BY pos1) AS c FROM cent GROUP BY plabel), " +
       "s AS (SELECT e.vec_id, e.label, cl.plabel, " +
       "round((list_cosine_similarity(e.embedding::DOUBLE[], cl.c)) * 1e6) / 1e6 AS sim " +
       "FROM embeddings e CROSS JOIN cl), " +
       "r AS (SELECT vec_id, label, plabel, " +
       "row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, plabel ASC) AS rn FROM s), " +
       "a AS (SELECT label, count(*) AS n, " +
       "CAST(sum(CASE WHEN plabel = label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct " +
       "FROM r WHERE rn = 1 GROUP BY label) " +
       "SELECT label, n, n_correct, " +
       "round((100.0 * n_correct / n) * 1e2) / 1e2 AS acc_pct FROM a ORDER BY label"),
    // kNN majority vote over the production top-3: kl-prefixed tail on
    // the composed chain's ranked candidates `r`; tie rule (c desc,
    // label asc) and the acc_pct form mirror emb_label_eval — lockstep
    "emb_knn_label_eval" ->
      (ivfTopKCteSql +
       ", kln AS (SELECT r.a_id, e.label AS nl FROM r " +
       s"JOIN embeddings e ON r.b_id = e.vec_id WHERE r.rn <= $TopK), " +
       "klc AS (SELECT a_id, nl, count(*) AS c FROM kln GROUP BY a_id, nl), " +
       "klp AS (SELECT a_id, nl AS plabel FROM (SELECT a_id, nl, " +
       "row_number() OVER (PARTITION BY a_id ORDER BY c DESC, nl ASC) AS rn2 " +
       "FROM klc) t WHERE rn2 = 1), " +
       "kla AS (SELECT e.label, count(*) AS n, " +
       "CAST(sum(CASE WHEN klp.plabel = e.label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct " +
       "FROM klp JOIN embeddings e ON klp.a_id = e.vec_id GROUP BY e.label) " +
       "SELECT label, n, n_correct, " +
       "round((100.0 * n_correct / n) * 1e2) / 1e2 AS acc_pct FROM kla ORDER BY label"),
    "sim_norms" ->
      ("SELECT vec_id, round((sqrt(list_dot_product(embedding::DOUBLE[], " +
       "embedding::DOUBLE[]))) * 1e6) / 1e6 AS nrm FROM embeddings"),
    "sim_brute_topk" ->
      ("SELECT e.vec_id, round((list_cosine_similarity(e.embedding::DOUBLE[], " +
       "q.embedding::DOUBLE[])) * 1e6) / 1e6 AS sim FROM embeddings e, " +
       "(SELECT embedding FROM embeddings WHERE vec_id = 0) q " +
       "WHERE e.vec_id <> 0 ORDER BY sim DESC, e.vec_id ASC LIMIT 10"),
    "sim_lsh_buckets" ->
      s"SELECT vec_id, CAST($bucketSql AS INTEGER) AS bucket FROM embeddings",
    // gs-prefixed; beam B=4 / 2 rounds / entry = sign-bit Hamming top-4
    // (gsb0) / probe
    // vec_id < ProbeN — all lockstep with graphSearch; UNION dedups ≡
    // .distinct(); search and eval share the chain (move both or
    // neither)
    "sim_graph_search" ->
      (graphSearchCteSql + " " +
       "SELECT a_id, b_id, CAST(rn AS INTEGER) AS rn, sim FROM gsb2 " +
       s"WHERE rn <= $TopK"),
    "sim_graph_search_eval" ->
      (graphSearchCteSql + ", " +
       "gst AS (SELECT p.a_id, e.vec_id AS b_id, " +
       "round((list_dot_product(e.embedding, p.qv) / (e.nrm * p.qnrm)) * 1e6) / 1e6 AS sim " +
       "FROM gse e CROSS JOIN gsp p WHERE e.vec_id <> p.a_id), " +
       "gsr AS (SELECT a_id, b_id FROM (SELECT gst.*, row_number() OVER (" +
       "PARTITION BY a_id ORDER BY sim DESC, b_id ASC) AS rn FROM gst) gsq " +
       s"WHERE rn <= $TopK), " +
       "gsh AS (SELECT count(*) AS n_hit FROM gsr JOIN gsb2 " +
       s"ON gsr.a_id = gsb2.a_id AND gsr.b_id = gsb2.b_id AND gsb2.rn <= $TopK), " +
       "gsn AS (SELECT count(*) AS n_truth FROM gsr) " +
       "SELECT CAST(gsn.n_truth AS BIGINT) AS n_truth, " +
       "CAST(gsh.n_hit AS BIGINT) AS n_hit, " +
       "CASE WHEN gsn.n_truth = 0 THEN CAST(1000000 AS BIGINT) " +
       "ELSE (CAST(gsh.n_hit AS BIGINT) * 1000000) // gsn.n_truth END " +
       "AS recall_micro FROM gsn, gsh"),
    // eb-prefixed; identical fold discipline as sim_bucket_entropy over
    // the composed chain's home cells (unreferenced CTEs are free —
    // the emb_cell_purity rule)
    "emb_cell_balance" ->
      (ivfTopKCteSql + ", " +
       "ebc AS (SELECT cell, count(*) AS c FROM home GROUP BY cell), " +
       "eba AS (SELECT CAST(count(*) AS BIGINT) AS n_cells, " +
       "CAST(sum(c) AS BIGINT) AS n_vecs, CAST(max(c) AS BIGINT) AS max_cell, " +
       "CAST(sum(c * CAST(round(ln(c) * 1e6) AS BIGINT)) AS BIGINT) AS sclnc " +
       "FROM ebc), " +
       "ebf AS (SELECT n_cells, n_vecs, max_cell, " +
       "CAST(round(ln(n_vecs) * 1e6) AS BIGINT) - (sclnc // n_vecs) AS h_micro, " +
       "CAST(round(ln(n_cells) * 1e6) AS BIGINT) AS h_max_micro FROM eba) " +
       "SELECT n_cells, n_vecs, max_cell, h_micro, h_max_micro, " +
       "CASE WHEN n_cells = 1 THEN CAST(1000000 AS BIGINT) " +
       "ELSE (h_micro * CAST(1000000 AS BIGINT)) // h_max_micro END " +
       "AS balance_micro FROM ebf"),
    // be-prefixed; micronized-ln entropy discipline, everything nonneg;
    // the n_buckets=1 guard mirrors the Spark CASE
    "sim_bucket_entropy" ->
      (s"WITH beb AS (SELECT CAST($bucketSql AS INTEGER) AS bucket " +
       "FROM embeddings), " +
       "bec AS (SELECT bucket, count(*) AS c FROM beb GROUP BY bucket), " +
       "bea AS (SELECT CAST(count(*) AS BIGINT) AS n_buckets, " +
       "CAST(sum(c) AS BIGINT) AS n_vecs, CAST(max(c) AS BIGINT) AS max_bucket, " +
       "CAST(sum(c * CAST(round(ln(c) * 1e6) AS BIGINT)) AS BIGINT) AS sclnc " +
       "FROM bec), " +
       "bef AS (SELECT n_buckets, n_vecs, max_bucket, " +
       "CAST(round(ln(n_vecs) * 1e6) AS BIGINT) - (sclnc // n_vecs) AS h_micro, " +
       "CAST(round(ln(n_buckets) * 1e6) AS BIGINT) AS h_max_micro FROM bea) " +
       "SELECT n_buckets, n_vecs, max_bucket, h_micro, h_max_micro, " +
       "CASE WHEN n_buckets = 1 THEN CAST(1000000 AS BIGINT) " +
       "ELSE (h_micro * CAST(1000000 AS BIGINT)) // h_max_micro END " +
       "AS balance_micro FROM bef"),
    // bc mirrors the Spark-side bucket cap (salted-scramble order, cap
    // 1024): no sf0.01 bucket approaches the cap, so results are
    // unchanged — the CTE pins the truncation ORDER parity for when it
    // would fire.
    "sim_ann_topk" ->
      ("WITH b AS (SELECT vec_id, embedding, CAST(" + bucketSql + " AS INTEGER) AS bucket " +
       "FROM embeddings), " +
       "bc AS (SELECT * FROM b QUALIFY row_number() OVER (PARTITION BY bucket " +
       s"ORDER BY ${saltOrdSql("vec_id")}, vec_id) <= $MaxBucketCandidates), " +
       "p AS (SELECT x.vec_id AS a_id, y.vec_id AS b_id, " +
       "round((list_cosine_similarity(x.embedding::DOUBLE[], y.embedding::DOUBLE[])) * 1e6) / 1e6 AS sim " +
       "FROM b x JOIN bc y ON x.bucket = y.bucket AND x.vec_id <> y.vec_id), " +
       "r AS (SELECT a_id, b_id, sim, row_number() OVER (PARTITION BY a_id " +
       "ORDER BY sim DESC, b_id ASC) AS rn FROM p) " +
       s"SELECT a_id, b_id, rn, sim FROM r WHERE rn <= $TopK"),
    "dedup_embedding" ->
      ("WITH b AS (SELECT vec_id, embedding, CAST(" + bucketSql + " AS INTEGER) AS bucket " +
       "FROM embeddings), " +
       "bc AS (SELECT * FROM b QUALIFY row_number() OVER (PARTITION BY bucket " +
       s"ORDER BY ${saltOrdSql("vec_id")}, vec_id) <= $MaxBucketCandidates) " +
       "SELECT x.vec_id AS a_id, y.vec_id AS b_id, " +
       "round((list_cosine_similarity(x.embedding::DOUBLE[], y.embedding::DOUBLE[])) * 1e6) / 1e6 AS sim " +
       "FROM b x JOIN bc y ON x.bucket = y.bucket AND x.vec_id < y.vec_id " +
       "WHERE round((list_cosine_similarity(x.embedding::DOUBLE[], y.embedding::DOUBLE[])) * 1e6) / 1e6 >= 0.4"),
    "sim_ivf_assign" ->
      ("WITH c AS (SELECT vec_id AS cell, embedding AS cv FROM embeddings WHERE vec_id < 16), " +
       "s AS (SELECT e.vec_id, c.cell, " +
       "round((list_cosine_similarity(e.embedding::DOUBLE[], c.cv::DOUBLE[])) * 1e6) / 1e6 AS csim " +
       "FROM embeddings e CROSS JOIN c), " +
       "r AS (SELECT vec_id, cell, csim, row_number() OVER (PARTITION BY vec_id " +
       "ORDER BY csim DESC, cell ASC) AS rn FROM s) " +
       "SELECT vec_id, cell, csim FROM r WHERE rn = 1"),
    // whiten -> index composition: the emb_whiten z chain (dimStatsCteSql
    // + w, keep in lockstep) rebuilt to pos-ordered lists, then the
    // sim_ivf_assign shape over whitened vectors; + 0.0 on csim because
    // cosines of zero-centered vectors can round to a signed zero
    "sim_ivf_assign_whitened" ->
      (dimStatsCteSql + ", " +
       "w AS (SELECT x.vec_id, x.pos, " +
       "(round(((x.x - ds.mean) / sqrt(ds.var_samp)) * 1e4) / 1e4) + 0.0 AS z " +
       "FROM x JOIN ds USING (pos) WHERE ds.var_samp > 0), " +
       "wl AS (SELECT vec_id, list(z ORDER BY pos) AS wv FROM w GROUP BY vec_id), " +
       "wc AS (SELECT vec_id AS cell, wv AS cv FROM wl WHERE vec_id < 16), " +
       "ws AS (SELECT a.vec_id, c.cell, " +
       "(round((list_cosine_similarity(a.wv, c.cv)) * 1e6) / 1e6) + 0.0 AS csim " +
       "FROM wl a CROSS JOIN wc c), " +
       "wr AS (SELECT vec_id, cell, csim, row_number() OVER (PARTITION BY vec_id " +
       "ORDER BY csim DESC, cell ASC) AS rn FROM ws) " +
       "SELECT vec_id, cell, csim FROM wr WHERE rn = 1"),
    // multi-probe composition: pr ranks every (vector, cell); queries (x)
    // take rn <= NProbe, the indexed side (y) its rn = 1 home cell, with
    // the same salted-order cap as the Spark b-side.
    "sim_ivf_topk" ->
      (ivfTopKCteSql + s" SELECT a_id, b_id, rn, sim FROM r WHERE rn <= $TopK"),
    // batch split literal 250 (= n/2 at sf0.01), micronize-then-
    // DECIMAL-sum moment discipline shared with dimStatsCteSql, signed-
    // zero `+ 0.0` after every mean round, drift threshold literal
    // 100000 µ — all lockstep with driftReport
    "emb_drift_report" ->
      ("WITH dx AS (SELECT e.vec_id, CAST(p.pos1 - 1 AS INTEGER) AS pos, " +
       "CAST(e.embedding[p.pos1] AS DOUBLE) AS x " +
       "FROM embeddings e, UNNEST(range(1, len(e.embedding)+1)) AS p(pos1)), " +
       "dt AS (SELECT vec_id, pos, CAST(round(x * 1e6) AS BIGINT) AS t1 FROM dx), " +
       "dr AS (SELECT pos, count(*) AS n_ref, CAST(sum(t1) AS DOUBLE) AS s1 " +
       "FROM dt WHERE vec_id < 250 GROUP BY pos), " +
       "dn AS (SELECT pos, count(*) AS n_new, CAST(sum(t1) AS DOUBLE) AS s1 " +
       "FROM dt WHERE vec_id >= 250 GROUP BY pos), " +
       "dm AS (SELECT dr.pos, dr.n_ref, dn.n_new, " +
       "round(((dr.s1 / 1e6) / dr.n_ref) * 1e6) / 1e6 + 0.0 AS mean_ref, " +
       "round(((dn.s1 / 1e6) / dn.n_new) * 1e6) / 1e6 + 0.0 AS mean_new " +
       "FROM dr JOIN dn USING (pos)) " +
       "SELECT pos, n_ref, n_new, mean_ref, mean_new, " +
       "CAST(round((mean_new - mean_ref) * 1e6) AS BIGINT) AS drift_micro, " +
       "CAST(abs(CAST(round((mean_new - mean_ref) * 1e6) AS BIGINT)) >= 100000 " +
       "AS INTEGER) AS shifted FROM dm ORDER BY pos"),
    // eh-prefixed; probe vec_id < ProbeN (the eval-family rule),
    // bin = least(floor((sim + 1.0)·5), 9) on the 6-dp sim with the
    // DOUBLE-cast literal (decimal rule), empty bins kept — lockstep
    // with simHist
    "emb_sim_hist" ->
      ("WITH ehp AS (SELECT vec_id AS a_id, embedding AS va " +
       s"FROM embeddings WHERE vec_id < $ProbeN), " +
       "ehs AS (SELECT round((list_cosine_similarity(e.embedding::DOUBLE[], " +
       "p.va::DOUBLE[])) * 1e6) / 1e6 AS sim " +
       "FROM embeddings e, ehp p WHERE e.vec_id <> p.a_id), " +
       "eht AS (SELECT count(*) AS n_pairs FROM ehs), " +
       "ehc AS (SELECT least(CAST(floor((sim + CAST(1.0 AS DOUBLE)) * 5) " +
       "AS INTEGER), 9) AS bucket, count(*) AS n FROM ehs GROUP BY 1), " +
       "ehl AS (SELECT UNNEST(range(0, 10)) AS bucket) " +
       "SELECT CAST(l.bucket AS INTEGER) AS bucket, " +
       "CAST(coalesce(c.n, 0) AS BIGINT) AS n, " +
       "(CAST(coalesce(c.n, 0) AS BIGINT) * 1000000) // t.n_pairs " +
       "AS share_micro FROM ehl l LEFT JOIN ehc c ON c.bucket = l.bucket, " +
       "eht t ORDER BY bucket"),
    // is-prefixed; dimStats element quantization (x·1e6 / x²·1e12 as
    // BIGINT), HUGEINT carries s1² (the DECIMAL(38) twin of the Spark
    // side), three non-negative // divisions ≡ div — lockstep with
    // isotropy
    "emb_isotropy" ->
      ("WITH isx AS (SELECT CAST(p.pos1 - 1 AS INTEGER) AS pos, " +
       "CAST(e.embedding[p.pos1] AS DOUBLE) AS x " +
       "FROM embeddings e, UNNEST(range(1, len(e.embedding)+1)) AS p(pos1)), " +
       "ist AS (SELECT pos, CAST(round(x * 1e6) AS BIGINT) AS t1, " +
       "CAST(round(x * x * 1e12) AS BIGINT) AS t2 FROM isx), " +
       "isg AS (SELECT pos, count(*) AS n, CAST(sum(t1) AS HUGEINT) AS s1, " +
       "CAST(sum(t2) AS HUGEINT) AS s2 FROM ist GROUP BY pos), " +
       "isa AS (SELECT CAST(max(n) AS BIGINT) AS n, count(*) AS n_dims, " +
       "CAST(sum(s1 * s1) AS HUGEINT) AS num, " +
       "CAST(sum(s2) AS HUGEINT) AS den FROM isg) " +
       "SELECT n, n_dims, " +
       "CAST(den // (CAST(n AS HUGEINT) * 1000000) AS BIGINT) " +
       "AS mean_norm_sq_micro, " +
       "CAST(num // (CAST(n AS HUGEINT) * CAST(n AS HUGEINT) * 1000000) " +
       "AS BIGINT) AS mu_norm_sq_micro, " +
       "CAST((num * 1000000) // (CAST(n AS HUGEINT) * den) AS BIGINT) " +
       "AS aniso_micro FROM isa"),
    // cell purity composes the chain's `home` CTE (unreferenced CTEs
    // are not executed by DuckDB); ep/et-prefixed names, label-asc ties,
    // nonneg // ≡ div — lockstep with cellPurity
    "emb_cell_purity" ->
      (ivfTopKCteSql + ", " +
       "ep AS (SELECT h.cell, e.label, count(*) AS c FROM home h " +
       "JOIN embeddings e USING (vec_id) GROUP BY 1, 2), " +
       "et AS (SELECT cell, label, c, row_number() OVER (PARTITION BY cell " +
       "ORDER BY c DESC, label ASC) AS rn2, " +
       "sum(c) OVER (PARTITION BY cell) AS n FROM ep) " +
       "SELECT cell, label AS major_label, CAST(n AS BIGINT) AS n_vecs, " +
       "CAST(c AS BIGINT) AS n_major, CAST((100 * c) // n AS BIGINT) " +
       "AS purity_pct FROM et WHERE rn2 = 1"),
    // simplified silhouette: re-ranks the chain's `s` KEEPING csim
    // (pr drops it); sil-prefixed names; (c1-c2)/(1-c2)*1e6 in the
    // SAME op order as silhouette (1.0 is binary-exact, division
    // IEEE-exact on identical 6-dp operands); c2=1 gate mirrored;
    // s_micro nonneg ⇒ // ≡ div — lockstep with silhouette
    "emb_silhouette" ->
      (ivfTopKCteSql + ", " +
       "silr AS (SELECT vec_id, cell, csim, row_number() OVER (" +
       "PARTITION BY vec_id ORDER BY csim DESC, cell ASC) AS rn FROM s), " +
       "sil1 AS (SELECT vec_id, cell, csim AS c1 FROM silr WHERE rn = 1), " +
       "sil2 AS (SELECT vec_id, csim AS c2 FROM silr WHERE rn = 2), " +
       "silv AS (SELECT sil1.cell, " +
       "CAST(round((sil1.c1 - sil2.c2) / (CAST(1.0 AS DOUBLE) - sil2.c2) * 1e6) " +
       "AS BIGINT) AS s_micro FROM sil1 JOIN sil2 USING (vec_id) " +
       "WHERE CAST(1.0 AS DOUBLE) - sil2.c2 > 0) " +
       "SELECT cell, count(*) AS n_vecs, " +
       "CAST(sum(s_micro) AS BIGINT) // count(*) AS mean_s_micro, " +
       "min(s_micro) AS min_s_micro " +
       "FROM silv GROUP BY cell ORDER BY cell"),
    // occupancy-triggered cell split over the chain's `home` CTE
    // (composing the full chain is free — unreferenced CTEs are not
    // executed; the emb_cell_purity precedent); cs-prefixed names;
    // threshold literal = SplitOccupancy, median-τ model (seed
    // direction = lowest member id, τ = lower-median rank (n+1) div 2,
    // sub 0 iff s0sim ≥ τ) — all mirrored in cellSplit
    "sim_cell_split" ->
      (ivfTopKCteSql + ", " + cellSplitCteSql + ", " +
       "csc AS (SELECT cell, " +
       "CAST(sum(CASE WHEN sub = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0, " +
       "CAST(sum(CASE WHEN sub = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1 " +
       "FROM csp GROUP BY cell) " +
       "SELECT o.cell, o.n_before, " +
       "CAST(c.cell IS NOT NULL AS INTEGER) AS split, " +
       "coalesce(c.c0, CAST(0 AS BIGINT)) AS n_child0, " +
       "coalesce(c.c1, CAST(0 AS BIGINT)) AS n_child1, " +
       "coalesce(greatest(c.c0, c.c1), o.n_before) AS n_max_after " +
       "FROM cso o LEFT JOIN csc c USING (cell) ORDER BY o.cell"),
    // split-index serve over the shared cs-chain + st-serve chain —
    // the APPLY half of sim_cell_split (audited ≡ applied split)
    "sim_split_topk" -> splitTopKOracleSql,
    // the persisted split index serves THROUGH splitServe from
    // reloaded parquet — result ≡ sim_split_topk by construction, so
    // the oracle is registered VERBATIM (only the storage moved; the
    // sim_index_persist rule)
    "sim_split_persist" -> splitTopKOracleSql,
    // the recursive split's occupancy trajectory: snapshot k = the
    // occupancy agg feeding round k+1; SplitDepth/SplitOccupancy
    // literals mirrored (lockstep)
    "sim_cell_split_deep" -> splitDeepReportOracleSql,
    // the depth-SplitDepth serve: round 1 of the chain is the audited
    // depth-1 CTEs byte-for-byte (the generator's ("cs","home")
    // instance), the dz tail mirrors the st tail
    "sim_split_deep_topk" -> splitDeepTopKOracleSql,
    // the persisted deep index serves THROUGH splitServe from
    // reloaded parquet — oracle VERBATIM (only the storage moved)
    "sim_split_deep_persist" -> splitDeepTopKOracleSql,
    // recall of the deep serve vs the SHARED truth (frontier leg
    // `deepsplit`) — the eval-family probe literal and metric forms
    "sim_split_deep_recall_eval" -> splitDeepRecallOracleSql,
    // the fail-closed depth chooser over the SAME snapshot union
    "sim_split_plan" -> splitPlanOracleSql,
    // the plan's APPLY half: arms over the SAME chooser + serve chains
    "sim_split_serve_planned" -> plannedServeOracleSql,
    // incremental split from the persisted index: the oracle rebuilds
    // the combined round from scratch — equality IS the proof
    "sim_split_incremental" -> splitIncrementalOracleSql,
    // the maintained index persisted back and SERVED from the reload —
    // the oracle re-derives the serve from scratch (maintain → persist
    // → serve loop closed; equality IS the proof)
    "sim_split_incremental_serve" -> splitIncrementalServeOracleSql,
    // multi-round incremental maintenance: the chain folded through
    // SplitDepth from-scratch rounds — equality proves the iterated
    // pruned-persisted path ≡ a recursive rebuild
    "sim_split_incremental_deep" -> splitIncrementalDeepOracleSql,
    // the median-τ split round applied to the TRAINED quantizer's home
    // cells — the SAME generator over trainedChainToHomeSql's `home`
    // (tcs-prefixed; probes/tc unreferenced CTEs are free)
    "sim_cell_split_trained" ->
      (trainedChainToHomeSql + ", " +
       cellSplitRoundCtesFor("tcs", "home") + ", " +
       "tcsc AS (SELECT cell, " +
       "CAST(sum(CASE WHEN sub = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0, " +
       "CAST(sum(CASE WHEN sub = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1 " +
       "FROM tcsp GROUP BY cell) " +
       "SELECT o.cell, o.n_before, " +
       "CAST(c.cell IS NOT NULL AS INTEGER) AS split, " +
       "coalesce(c.c0, CAST(0 AS BIGINT)) AS n_child0, " +
       "coalesce(c.c1, CAST(0 AS BIGINT)) AS n_child1, " +
       "coalesce(greatest(c.c0, c.c1), o.n_before) AS n_max_after " +
       "FROM tcso o LEFT JOIN tcsc c USING (cell) ORDER BY o.cell"),
    // the trained split's APPLY half: the shared serve-tail generator
    // ("tst", "tcs") over the trained chain's home/probes — report ≡
    // applied split on the trained quantizer too
    "sim_split_topk_trained" -> trainedSplitTopKOracleSql,
    // recall of the trained serve vs the SHARED truth (frontier leg
    // `trained`) — what Lloyd training buys in recall vs the stub
    "sim_trained_recall_eval" -> trainedRecallOracleSql,
    // recall of the trained split serve vs the SHARED truth (frontier
    // leg `trainedsplit`) — pointwise ≤ the trained leg
    "sim_split_trained_recall_eval" -> trainedSplitRecallOracleSql,
    // boundary dual-probe serve: the sb band chain over the UNCHANGED
    // split index (margin literal = SplitBandMargin, lockstep)
    "sim_split_band_topk" -> bandTopKOracleSql,
    // recall of the band serve vs the SHARED truth (frontier leg
    // `band`) — the eval-family probe literal and metric forms
    "sim_split_band_recall_eval" -> bandRecallOracleSql,
    // the margin grid (arms generated from SplitBandSweepMargins —
    // lockstep by construction); margin-0 row ≡ sim_split_recall_eval,
    // default-margin row ≡ sim_split_band_recall_eval
    "sim_split_band_sweep" -> bandSweepOracleSql,
    // measure → decide → apply on the band margin: the sweep's shared
    // arms, the cumulative-efficiency chooser, and full-probe serve
    // arms filtered by the choice (fail-closed to margin 0)
    "sim_split_band_planned" -> bandPlannedOracleSql,
    // mutual edges over the split serve — the knnMutualCteSql mutual
    // rule (sm-prefixed) over splitServeCteSql's `str`
    "sim_knn_mutual_split" ->
      (splitServeCteSql + ", " +
       s"smt AS (SELECT a_id, b_id, sim FROM str WHERE rn <= $TopK), " +
       "smu AS (SELECT t.a_id, t.b_id, t.sim FROM smt t JOIN smt u " +
       "ON t.a_id = u.b_id AND t.b_id = u.a_id WHERE t.a_id < t.b_id) " +
       "SELECT a_id, b_id, sim FROM smu"),
    // recall of the split serve vs the SHARED truth (frontier leg
    // `split`) — the eval-family probe literal and metric forms
    "sim_split_recall_eval" ->
      (splitServeCteSql + ", " + recallEvalTailSqlFor("st", "str")),
    // radius query over the SAME chain through `p` (lockstep with
    // sim_ivf_topk); threshold literal CAST to DOUBLE (decimal rule)
    "sim_range_search" ->
      (ivfTopKCteSql +
       " SELECT a_id, b_id, sim FROM p WHERE sim >= CAST(0.4 AS DOUBLE)"),
    // mutual-kNN = the top-3 frame joined to its own reversal; the CTE
    // chain is shared verbatim with sim_ivf_topk (keep in lockstep)
    "sim_knn_mutual" ->
      (knnMutualCteSql + " SELECT a_id, b_id, sim FROM mu"),
    // one NN-descent round: wedges through shared mutual neighbors,
    // exact cosine on the new pairs only, re-rank over current ∪ wedge.
    // Composes knnMutualCteSql (names c/s/pr/probes/home/m/bc/p/r/t/mu
    // claimed) — nd-prefixed names keep the chain collision-free.
    "sim_nn_descent" ->
      (nnDescentCteSql + s" SELECT a_id, b_id, rn, sim FROM ndr WHERE rn <= $TopK"),
    // recall gain of the round vs the sim_ivf_topk baseline, same probe
    // sample (vec_id < ProbeN) and exact-truth shape as sim_ivf_recall_eval
    "sim_nn_descent_eval" ->
      (nnDescentCteSql +
       s", ndbs AS (SELECT a_id, b_id FROM r WHERE rn <= $TopK AND a_id < $ProbeN), " +
       s"ndrs AS (SELECT a_id, b_id FROM ndr WHERE rn <= $TopK AND a_id < $ProbeN), " +
       exactTruthCte("ndex") + ", " +
       "ndxr AS (SELECT a_id, b_id FROM (SELECT a_id, b_id, " +
       "row_number() OVER (PARTITION BY a_id ORDER BY sim DESC, b_id ASC) AS rn " +
       s"FROM ndex) e WHERE rn <= $TopK), " +
       "ndcm AS (SELECT (SELECT count(*) FROM ndxr) AS n_truth, " +
       "(SELECT count(*) FROM ndxr JOIN ndbs USING (a_id, b_id)) AS n_hit_base, " +
       "(SELECT count(*) FROM ndxr JOIN ndrs USING (a_id, b_id)) AS n_hit_ref) " +
       "SELECT n_truth, n_hit_base, n_hit_ref, " +
       "CASE WHEN n_truth = 0 THEN CAST(1000000 AS BIGINT) " +
       "ELSE (n_hit_base * CAST(1000000 AS BIGINT)) // n_truth END AS recall_base_micro, " +
       "CASE WHEN n_truth = 0 THEN CAST(1000000 AS BIGINT) " +
       "ELSE (n_hit_ref * CAST(1000000 AS BIGINT)) // n_truth END AS recall_ref_micro " +
       "FROM ndcm"),
    // recall eval: screen = the sim_ivf_topk chain restricted to the
    // probe sample (vec_id < ProbeN, ivfRecallEval's default); truth =
    // exact top-TopK per probe query;
    // all counts non-negative so DuckDB // == Spark div
    "sim_ivf_recall_eval" ->
      (ivfTopKCteSql +
       s", scr AS (SELECT a_id, b_id FROM r WHERE rn <= $TopK AND a_id < $ProbeN), " +
       exactTruthCte("exs") + ", " +
       "exr AS (SELECT a_id, b_id FROM (SELECT a_id, b_id, " +
       "row_number() OVER (PARTITION BY a_id ORDER BY sim DESC, b_id ASC) AS rn " +
       s"FROM exs) e WHERE rn <= $TopK), " +
       "hit AS (SELECT a_id, b_id FROM exr JOIN scr USING (a_id, b_id)), " +
       "rcm AS (SELECT (SELECT count(*) FROM exr) AS n_truth, " +
       "(SELECT count(*) FROM scr) AS n_screen, " +
       "(SELECT count(*) FROM hit) AS n_hit) " +
       "SELECT n_truth, n_screen, n_hit, " +
       "CASE WHEN n_truth = 0 THEN CAST(1000000 AS BIGINT) " +
       "ELSE (n_hit * CAST(1000000 AS BIGINT)) // n_truth END AS recall_micro, " +
       "CASE WHEN n_screen = 0 THEN CAST(0 AS BIGINT) " +
       "ELSE (n_hit * CAST(1000000 AS BIGINT)) // n_screen END AS precision_micro " +
       "FROM rcm"),
    // rk-prefixed tail: truth ranking to depth 10 (TruthDepth lockstep)
    // and ivfTopKCteSql's full `r` ranking, both prefix-sliced against
    // the {1,3,5,10} grid; the k=3 row ≡ sim_ivf_recall_eval
    "sim_recall_at_k" ->
      (ivfTopKCteSql + ", " +
       "rkg AS (SELECT UNNEST([1, 3, 5, 10]) AS k), " +
       exactTruthCte("rke") + ", " +
       "rkr AS (SELECT a_id, b_id, row_number() OVER (PARTITION BY a_id " +
       "ORDER BY sim DESC, b_id ASC) AS rn FROM rke), " +
       "rkt AS (SELECT g.k, a_id, b_id FROM rkr CROSS JOIN rkg g " +
       "WHERE rn <= g.k), " +
       "rks AS (SELECT g.k, a_id, b_id FROM r CROSS JOIN rkg g " +
       s"WHERE a_id < $ProbeN AND rn <= g.k), " +
       "rkh AS (SELECT t.k, count(*) AS n_hit FROM rkt t JOIN rks s " +
       "ON t.k = s.k AND t.a_id = s.a_id AND t.b_id = s.b_id GROUP BY t.k), " +
       "rkn AS (SELECT k, count(*) AS n_truth FROM rkt GROUP BY k), " +
       "rkm AS (SELECT k, count(*) AS n_screen FROM rks GROUP BY k) " +
       "SELECT CAST(n.k AS INTEGER) AS k, " +
       "CAST(n.n_truth AS BIGINT) AS n_truth, " +
       "CAST(m.n_screen AS BIGINT) AS n_screen, " +
       "CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit, " +
       "CASE WHEN n.n_truth = 0 THEN CAST(1000000 AS BIGINT) " +
       "ELSE (CAST(coalesce(h.n_hit, 0) AS BIGINT) * 1000000) // n.n_truth END " +
       "AS recall_micro, " +
       "CASE WHEN m.n_screen = 0 THEN CAST(0 AS BIGINT) " +
       "ELSE (CAST(coalesce(h.n_hit, 0) AS BIGINT) * 1000000) // m.n_screen END " +
       "AS precision_micro " +
       "FROM rkn n JOIN rkm m USING (k) LEFT JOIN rkh h USING (k) " +
       "ORDER BY k"),
    // mq-prefixed tail over ivfTopKCteSql's full `r`: truth = exact
    // brute rank-1 NN per probe (TruthDepth's rn=1 slice in Spark),
    // screen join restricted to r.rn <= 3 (the serving cut); RR/MRR in
    // nonneg integer micro-units (// ≡ div)
    "sim_mrr_eval" ->
      (ivfTopKCteSql + ", " +
       exactTruthCte("mqe") + ", " +
       "mqt AS (SELECT a_id, b_id FROM (SELECT a_id, b_id, " +
       "row_number() OVER (PARTITION BY a_id ORDER BY sim DESC, b_id ASC) AS rn " +
       "FROM mqe) WHERE rn = 1), " +
       "mqj AS (SELECT t.a_id, r.rn FROM mqt t LEFT JOIN r " +
       s"ON r.a_id = t.a_id AND r.b_id = t.b_id AND r.rn <= $TopK), " +
       "mqs AS (SELECT CAST(count(*) AS BIGINT) AS n_probes, " +
       "CAST(sum(CASE WHEN rn IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_found, " +
       "CAST(sum(CASE WHEN rn IS NOT NULL THEN 1000000 // rn ELSE 0 END) AS BIGINT) AS rr_sum " +
       "FROM mqj) " +
       "SELECT n_probes, n_found, rr_sum, rr_sum // n_probes AS mrr_micro " +
       "FROM mqs"),
    // dl-prefixed from-scratch rebuild over the SURVIVING corpus
    // (vec_id % 10 <> 0): centroids stay the full seed POSITIONS,
    // assignment is per-vector independent, the bucket cap re-applies
    // over live members — hash equality proves filter-the-live-set ≡
    // rebuild; constants 16 / NProbe / MaxBucketCandidates lockstep with ivfTopKCteSql
    "sim_ivf_delete_search" ->
      ("WITH dlc AS (SELECT vec_id AS cell, embedding AS cv " +
       "FROM embeddings WHERE vec_id < 16), " +
       "dls AS (SELECT e.vec_id, c.cell, " +
       "round((list_cosine_similarity(e.embedding::DOUBLE[], c.cv::DOUBLE[])) * 1e6) / 1e6 AS csim " +
       "FROM embeddings e CROSS JOIN dlc c WHERE e.vec_id % 10 <> 0), " +
       "dlp AS (SELECT vec_id, cell, row_number() OVER (" +
       "PARTITION BY vec_id ORDER BY csim DESC, cell ASC) AS rn FROM dls), " +
       "dlm AS (SELECT e.vec_id, e.embedding, p.cell FROM embeddings e " +
       s"JOIN dlp p ON e.vec_id = p.vec_id AND p.rn <= $NProbe " +
       s"WHERE e.vec_id < $ProbeN), " +
       "dlb AS (SELECT e.vec_id, e.embedding, h.cell FROM embeddings e " +
       "JOIN dlp h ON e.vec_id = h.vec_id AND h.rn = 1 " +
       s"QUALIFY row_number() OVER (PARTITION BY h.cell " +
       s"ORDER BY ${saltOrdSql("e.vec_id")}, e.vec_id) <= $MaxBucketCandidates), " +
       "dlpr AS (SELECT x.vec_id AS a_id, y.vec_id AS b_id, " +
       "round((list_cosine_similarity(x.embedding::DOUBLE[], y.embedding::DOUBLE[])) * 1e6) / 1e6 AS sim " +
       "FROM dlm x JOIN dlb y ON x.cell = y.cell AND x.vec_id <> y.vec_id) " +
       "SELECT a_id, b_id, sim, CAST(rn AS INTEGER) AS rn FROM (" +
       "SELECT a_id, b_id, sim, row_number() OVER (PARTITION BY a_id " +
       s"ORDER BY sim DESC, b_id ASC) AS rn FROM dlpr) t WHERE rn <= $TopK " +
       "ORDER BY a_id, rn"),
    // fl-prefixed: the composite (cell, label) bucket key expressed as
    // join equality + a per-(cell,label) cap partition — identical
    // slicing to Spark's concat_ws key; constants lockstep with
    // ivfTopKCteSql; chain shared with sim_filtered_recall
    "sim_filtered_topk" ->
      (s"WITH $filteredCteSql " +
       "SELECT a_id, b_id, sim, CAST(rn AS INTEGER) AS rn FROM (" +
       "SELECT a_id, b_id, sim, row_number() OVER (PARTITION BY a_id " +
       s"ORDER BY sim DESC, b_id ASC) AS rn FROM flpr) t WHERE rn <= $TopK " +
       "ORDER BY a_id, rn"),
    // flsc/flex/flxr/flht/flcm tail over the SHARED fl chain (serving
    // and eval move together); truth = exact SAME-LABEL top-3 (a
    // different truth definition than the frontier's unfiltered one —
    // deliberately NOT a frontier leg)
    "sim_filtered_recall" ->
      (s"WITH $filteredCteSql, " +
       "flsc AS (SELECT a_id, b_id FROM (SELECT a_id, b_id, " +
       "row_number() OVER (PARTITION BY a_id ORDER BY sim DESC, b_id ASC) " +
       s"AS rn FROM flpr) t WHERE rn <= $TopK), " +
       exactTruthCte("flex", " AND y.label = x.label") + ", " +
       "flxr AS (SELECT a_id, b_id FROM (SELECT a_id, b_id, " +
       "row_number() OVER (PARTITION BY a_id ORDER BY sim DESC, b_id ASC) " +
       s"AS rn FROM flex) e WHERE rn <= $TopK), " +
       "flht AS (SELECT a_id, b_id FROM flxr JOIN flsc USING (a_id, b_id)), " +
       "flcm AS (SELECT (SELECT count(*) FROM flxr) AS n_truth, " +
       "(SELECT count(*) FROM flsc) AS n_screen, " +
       "(SELECT count(*) FROM flht) AS n_hit) " +
       "SELECT n_truth, n_screen, n_hit, " +
       "CASE WHEN n_truth = 0 THEN CAST(1000000 AS BIGINT) " +
       "ELSE (n_hit * CAST(1000000 AS BIGINT)) // n_truth END AS recall_micro, " +
       "CASE WHEN n_screen = 0 THEN CAST(0 AS BIGINT) " +
       "ELSE (n_hit * CAST(1000000 AS BIGINT)) // n_screen END AS precision_micro " +
       "FROM flcm"),
    // sw-prefixed CTE chain; cell count 16 / probe ProbeN / cap MaxBucketCandidates are
    // the sf0.01 adaptive-knob constants (lockstep rule); the prn<=2
    // slice mirrors sim_ivf_recall_eval's screen exactly
    "sim_nprobe_sweep" -> nprobeSweepSql,
    // the chooser composes the SAME sw chain + per-width serve arms
    // (np1/np2/np4 from ivfChainCtesFor) filtered by the choice;
    // NprobePlanCandPerHit=150 and the {1,2,4} grid are lockstep
    "sim_nprobe_planned" -> nprobePlannedSql,
    // incremental assign: the ivfTrainCte shape restricted to the
    // existing corpus half via the shared incAssignCteSql chain, then
    // the batch (>= 250) assigned to the frozen trained centroids —
    // keep split/seed literals in lockstep with ivfIncrementalAssign's
    // runtime knobs
    "sim_ivf_incremental_assign" ->
      (s"WITH $incAssignCteSql, " +
       "iib AS (SELECT e.vec_id, t.cell, " +
       "round((list_cosine_similarity(e.embedding::DOUBLE[], t.cv)) * 1e6) / 1e6 AS csim " +
       "FROM embeddings e CROSS JOIN iicl t WHERE e.vec_id >= 250) " +
       "SELECT vec_id, cell, csim FROM (SELECT vec_id, cell, csim, " +
       "row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell ASC) AS rn " +
       "FROM iib) WHERE rn = 1"),
    // up-prefixed FROM-SCRATCH rebuild over the live membership
    // ((vec_id < 250 AND vec_id % 10 <> 0) OR vec_id >= 250) against
    // the SAME frozen base-trained centroids (the shared incAssignCteSql
    // chain — train-time snapshot includes later-deleted members):
    // hash equality proves incremental add + delete-filter + re-cap ≡
    // rebuild; constants NProbe / MaxBucketCandidates / probe ProbeN lockstep with
    // ivfTopKCteSql's family
    "sim_ivf_upsert_search" ->
      (s"WITH $incAssignCteSql, " +
       "upl AS (SELECT vec_id, embedding FROM embeddings " +
       "WHERE (vec_id < 250 AND vec_id % 10 <> 0) OR vec_id >= 250), " +
       "ups AS (SELECT e.vec_id, t.cell, " +
       "round((list_cosine_similarity(e.embedding::DOUBLE[], t.cv)) * 1e6) / 1e6 AS csim " +
       "FROM upl e CROSS JOIN iicl t), " +
       "upp AS (SELECT vec_id, cell, row_number() OVER (" +
       "PARTITION BY vec_id ORDER BY csim DESC, cell ASC) AS rn FROM ups), " +
       "upm AS (SELECT e.vec_id, e.embedding, p.cell FROM upl e " +
       s"JOIN upp p ON e.vec_id = p.vec_id AND p.rn <= $NProbe " +
       s"WHERE e.vec_id < $ProbeN), " +
       "upb AS (SELECT e.vec_id, e.embedding, h.cell FROM upl e " +
       "JOIN upp h ON e.vec_id = h.vec_id AND h.rn = 1 " +
       s"QUALIFY row_number() OVER (PARTITION BY h.cell " +
       s"ORDER BY ${saltOrdSql("e.vec_id")}, e.vec_id) <= $MaxBucketCandidates), " +
       "uppr AS (SELECT x.vec_id AS a_id, y.vec_id AS b_id, " +
       "round((list_cosine_similarity(x.embedding::DOUBLE[], y.embedding::DOUBLE[])) * 1e6) / 1e6 AS sim " +
       "FROM upm x JOIN upb y ON x.cell = y.cell AND x.vec_id <> y.vec_id) " +
       "SELECT a_id, b_id, sim, CAST(rn AS INTEGER) AS rn FROM (" +
       "SELECT a_id, b_id, sim, row_number() OVER (PARTITION BY a_id " +
       s"ORDER BY sim DESC, b_id ASC) AS rn FROM uppr) t WHERE rn <= $TopK " +
       "ORDER BY a_id, rn"),
    // sign-bit family: packed words mirror packWord bit for bit (1-based
    // element i in [lo, lo+32) gets shift i-lo; Spark's 0-based lambda i
    // over slice(embedding, lo+1, 32) is the same bit); >= 0 is exact
    // float sign on both engines. Shortlist SignShortlist, probe
    // vec_id < ProbeN.
    "emb_sign_bits" ->
      (s"WITH $signCteSql " +
       "SELECT vec_id, w1, w2, " +
       "CAST(bit_count(w1) + bit_count(w2) AS INTEGER) AS nbits FROM sgpk"),
    "sim_hamming_topk" ->
      (s"WITH $signCteSql, " +
       "sgex AS (SELECT s.a_id, s.b_id, s.hd, " +
       "round((list_cosine_similarity(e.embedding::DOUBLE[], " +
       "q.embedding::DOUBLE[])) * 1e6) / 1e6 AS sim " +
       "FROM sgsh s JOIN embeddings e ON e.vec_id = s.b_id " +
       "JOIN embeddings q ON q.vec_id = s.a_id) " +
       "SELECT a_id, b_id, CAST(rn AS INTEGER) AS rn, hd, sim FROM (" +
       "SELECT a_id, b_id, hd, sim, row_number() OVER (" +
       "PARTITION BY a_id ORDER BY sim DESC, b_id ASC) AS rn FROM sgex) t " +
       s"WHERE rn <= $TopK"),
    "emb_sign_recall" ->
      (s"WITH $signCteSql, " +
       "sgts AS (SELECT q.vec_id AS a_id, x.vec_id AS b_id, " +
       "round((list_cosine_similarity(x.embedding::DOUBLE[], " +
       "q.embedding::DOUBLE[])) * 1e6) / 1e6 AS sim " +
       "FROM embeddings x JOIN embeddings q ON x.vec_id <> q.vec_id " +
       s"WHERE q.vec_id < $ProbeN), " +
       "sgtr AS (SELECT a_id, b_id FROM (SELECT a_id, b_id, " +
       "row_number() OVER (PARTITION BY a_id ORDER BY sim DESC, b_id ASC) AS rn " +
       s"FROM sgts) t WHERE rn <= $TopK), " +
       "sght AS (SELECT a_id, b_id FROM sgtr JOIN sgsh USING (a_id, b_id)), " +
       "sgcm AS (SELECT (SELECT count(*) FROM sgtr) AS n_truth, " +
       "(SELECT count(*) FROM sgsh) AS n_screen, " +
       "(SELECT count(*) FROM sght) AS n_hit) " +
       "SELECT n_truth, n_screen, n_hit, " +
       "CASE WHEN n_truth = 0 THEN CAST(1000000 AS BIGINT) " +
       "ELSE (n_hit * CAST(1000000 AS BIGINT)) // n_truth END AS recall_micro, " +
       "CASE WHEN n_screen = 0 THEN CAST(0 AS BIGINT) " +
       "ELSE (n_hit * CAST(1000000 AS BIGINT)) // n_screen END AS precision_micro " +
       "FROM sgcm"),
    // rf-prefixed; RRF composes BOTH shared chains (ivfTopKCteSql's `r`
    // + signCteSql's `sgsh`) then fuses by exact integer
    // 1e6 // (60 + rank) — depth 8 / K=60 literals mirror
    // RrfDepth/RrfK (lockstep); fusion and recall share the chain
    // (move both or neither); nonneg scores so // ≡ div
    "sim_rrf_fusion" ->
      (rrfCteSql + " " +
       "SELECT a_id, b_id, CAST(rrf_micro AS BIGINT) AS rrf_micro, " +
       s"CAST(rn AS INTEGER) AS rn FROM rfr WHERE rn <= $TopK"),
    "sim_rrf_recall" ->
      (rrfCteSql + ", " +
       s"rfs AS (SELECT a_id, b_id FROM rfr WHERE rn <= $TopK), " +
       "rft AS (SELECT q.vec_id AS a_id, x.vec_id AS b_id, " +
       "round((list_cosine_similarity(x.embedding::DOUBLE[], " +
       "q.embedding::DOUBLE[])) * 1e6) / 1e6 AS sim " +
       "FROM embeddings x JOIN embeddings q ON x.vec_id <> q.vec_id " +
       s"WHERE q.vec_id < $ProbeN), " +
       "rftr AS (SELECT a_id, b_id FROM (SELECT a_id, b_id, " +
       "row_number() OVER (PARTITION BY a_id ORDER BY sim DESC, b_id ASC) AS rn " +
       s"FROM rft) t WHERE rn <= $TopK), " +
       "rfht AS (SELECT a_id, b_id FROM rftr JOIN rfs USING (a_id, b_id)), " +
       "rfcm AS (SELECT (SELECT count(*) FROM rftr) AS n_truth, " +
       "(SELECT count(*) FROM rfs) AS n_screen, " +
       "(SELECT count(*) FROM rfht) AS n_hit) " +
       "SELECT n_truth, n_screen, n_hit, " +
       "CASE WHEN n_truth = 0 THEN CAST(1000000 AS BIGINT) " +
       "ELSE (n_hit * CAST(1000000 AS BIGINT)) // n_truth END AS recall_micro, " +
       "CASE WHEN n_screen = 0 THEN CAST(0 AS BIGINT) " +
       "ELSE (n_hit * CAST(1000000 AS BIGINT)) // n_screen END AS precision_micro " +
       "FROM rfcm"),
    // JL family: integer micro-coordinate chain shared by both queries;
    // projected similarity = exact BIGINT dot/norms, one double divide,
    // 6-dp round — both engines fold identical integers
    "emb_rand_proj" ->
      (s"WITH $jlCteSql " +
       "SELECT vec_id, CAST(t.k AS INTEGER) AS k, jl[t.k + 1] AS p_micro " +
       "FROM jlw, UNNEST(range(0, 16)) AS t(k)"),
    // mk-prefixed CTEs; prefix [1:16] and denominators mirror
    // matryoshkaRecallEval term for term (NOT list_cosine_similarity on
    // the prefix — both engines must build the same doubles)
    "emb_matryoshka_recall" ->
      ("WITH mkn AS (SELECT vec_id, embedding[1:16] AS pv, " +
       "list_dot_product(embedding[1:16]::DOUBLE[], embedding[1:16]::DOUBLE[]) AS pn2 " +
       "FROM embeddings), " +
       "mkq AS (SELECT vec_id AS a_id, pv AS qpv, pn2 AS qpn2 FROM mkn " +
       s"WHERE vec_id < $ProbeN), " +
       "mks AS (SELECT q.a_id, x.vec_id AS b_id, " +
       "CASE WHEN x.pn2 = 0 OR q.qpn2 = 0 THEN -2.0 ELSE " +
       "round((list_dot_product(x.pv::DOUBLE[], q.qpv::DOUBLE[]) / " +
       "(sqrt(x.pn2) * sqrt(q.qpn2))) * 1e6) / 1e6 END AS sim " +
       "FROM mkn x CROSS JOIN mkq q WHERE x.vec_id <> q.a_id), " +
       "mkap AS (SELECT a_id, b_id FROM (SELECT a_id, b_id, " +
       "row_number() OVER (PARTITION BY a_id ORDER BY sim DESC, b_id ASC) AS rn " +
       s"FROM mks) t WHERE rn <= $TopK), " +
       "mkts AS (SELECT q.vec_id AS a_id, x.vec_id AS b_id, " +
       "round((list_cosine_similarity(x.embedding::DOUBLE[], " +
       "q.embedding::DOUBLE[])) * 1e6) / 1e6 AS sim " +
       "FROM embeddings x JOIN embeddings q ON x.vec_id <> q.vec_id " +
       s"WHERE q.vec_id < $ProbeN), " +
       "mktr AS (SELECT a_id, b_id FROM (SELECT a_id, b_id, " +
       "row_number() OVER (PARTITION BY a_id ORDER BY sim DESC, b_id ASC) AS rn " +
       s"FROM mkts) t WHERE rn <= $TopK), " +
       "mkh AS (SELECT a_id, b_id FROM mktr JOIN mkap USING (a_id, b_id)) " +
       "SELECT (SELECT count(*) FROM mktr) AS n_truth, " +
       "(SELECT count(*) FROM mkh) AS n_hit, " +
       "CASE WHEN (SELECT count(*) FROM mktr) = 0 THEN CAST(1000000 AS BIGINT) " +
       "ELSE ((SELECT count(*) FROM mkh) * CAST(1000000 AS BIGINT)) " +
       "// (SELECT count(*) FROM mktr) END AS recall_micro"),
    "sim_jl_recall" ->
      (s"WITH $jlCteSql, " +
       "jln AS (SELECT vec_id, jl, " +
       "CAST(list_sum(list_transform(jl, x -> x * x)) AS BIGINT) AS n2 " +
       "FROM jlw), " +
       "jlq AS (SELECT vec_id AS a_id, jl AS qjl, n2 AS qn2 FROM jln " +
       s"WHERE vec_id < $ProbeN), " +
       "jlps AS (SELECT q.a_id, x.vec_id AS b_id, " +
       "CASE WHEN x.n2 = 0 OR q.qn2 = 0 THEN -2.0 ELSE " +
       "round((CAST(list_sum(list_transform(range(1, 17), " +
       "i -> x.jl[i] * q.qjl[i])) AS DOUBLE) / " +
       "(sqrt(CAST(x.n2 AS DOUBLE)) * sqrt(CAST(q.qn2 AS DOUBLE)))) * 1e6) / 1e6 " +
       "END AS sim FROM jln x CROSS JOIN jlq q WHERE x.vec_id <> q.a_id), " +
       "jlap AS (SELECT a_id, b_id FROM (SELECT a_id, b_id, " +
       "row_number() OVER (PARTITION BY a_id ORDER BY sim DESC, b_id ASC) AS rn " +
       s"FROM jlps) t WHERE rn <= $TopK), " +
       "jlts AS (SELECT q.vec_id AS a_id, x.vec_id AS b_id, " +
       "round((list_cosine_similarity(x.embedding::DOUBLE[], " +
       "q.embedding::DOUBLE[])) * 1e6) / 1e6 AS sim " +
       "FROM embeddings x JOIN embeddings q ON x.vec_id <> q.vec_id " +
       s"WHERE q.vec_id < $ProbeN), " +
       "jltr AS (SELECT a_id, b_id FROM (SELECT a_id, b_id, " +
       "row_number() OVER (PARTITION BY a_id ORDER BY sim DESC, b_id ASC) AS rn " +
       s"FROM jlts) t WHERE rn <= $TopK), " +
       "jlht AS (SELECT a_id, b_id FROM jltr JOIN jlap USING (a_id, b_id)), " +
       "jlcm AS (SELECT (SELECT count(*) FROM jltr) AS n_truth, " +
       "(SELECT count(*) FROM jlht) AS n_hit) " +
       "SELECT n_truth, n_hit, " +
       "CASE WHEN n_truth = 0 THEN CAST(1000000 AS BIGINT) " +
       "ELSE (n_hit * CAST(1000000 AS BIGINT)) // n_truth END AS recall_micro " +
       "FROM jlcm"),
    // int8 recall: dequant mirrors the emb_quantize code formula term
    // for term (mn + code*(mx-mn)/255, code = least(255, floor(...)));
    // probe vec_id < ProbeN, int8RecallEval's default
    "emb_int8_recall" ->
      ("WITH b0 AS (SELECT vec_id, embedding::DOUBLE[] AS e, " +
       "CAST(list_min(embedding) AS DOUBLE) AS mn, " +
       "CAST(list_max(embedding) AS DOUBLE) AS mx FROM embeddings), " +
       "dqt AS (SELECT vec_id, CASE WHEN mx > mn THEN " +
       "list_transform(e, v -> mn + " +
       "CAST(least(255, floor((v - mn) / (mx - mn) * 255)) AS DOUBLE) " +
       "* (mx - mn) / 255.0) " +
       "ELSE list_transform(e, v -> mn) END AS d FROM b0), " +
       s"qp AS (SELECT vec_id AS a_id, e AS qv FROM b0 WHERE vec_id < $ProbeN), " +
       "trs AS (SELECT q.a_id, x.vec_id AS b_id, " +
       "round((list_cosine_similarity(x.e, q.qv)) * 1e6) / 1e6 AS sim " +
       "FROM b0 x CROSS JOIN qp q WHERE x.vec_id <> q.a_id), " +
       "tr AS (SELECT a_id, b_id FROM (SELECT a_id, b_id, " +
       "row_number() OVER (PARTITION BY a_id ORDER BY sim DESC, b_id ASC) AS rn " +
       s"FROM trs) t WHERE rn <= $TopK), " +
       "aps AS (SELECT q.a_id, x.vec_id AS b_id, " +
       "round((list_cosine_similarity(x.d, q.qv)) * 1e6) / 1e6 AS sim " +
       "FROM dqt x CROSS JOIN qp q WHERE x.vec_id <> q.a_id), " +
       "ap AS (SELECT a_id, b_id FROM (SELECT a_id, b_id, " +
       "row_number() OVER (PARTITION BY a_id ORDER BY sim DESC, b_id ASC) AS rn " +
       s"FROM aps) t WHERE rn <= $TopK), " +
       "ht AS (SELECT a_id, b_id FROM tr JOIN ap USING (a_id, b_id)), " +
       "cm AS (SELECT (SELECT count(*) FROM tr) AS n_truth, " +
       "(SELECT count(*) FROM ht) AS n_hit) " +
       "SELECT n_truth, n_hit, " +
       "CASE WHEN n_truth = 0 THEN CAST(1000000 AS BIGINT) " +
       "ELSE (n_hit * CAST(1000000 AS BIGINT)) // n_truth END AS recall_micro " +
       "FROM cm"))

  /** The dedup_semantic oracle's chain (trained cells → home assignment
    * `m` → within-cell pairs `p` → smaller-id dup counts `d`) — ONE
    * definition shared by dedup_semantic and dedup_semantic_eval, the
    * same single-source rule as knnMutualCteSql. Composes ivfTrainCte
    * (names tc/s2/home/m/p/d claimed). */
  private def semanticCellCte: String =
    s"$ivfTrainCte, " +
    "tc AS (SELECT cell, list(m ORDER BY pos1) AS cv FROM tr GROUP BY cell), " +
    "s2 AS (SELECT e.vec_id, t.cell, " +
    "round((list_cosine_similarity(e.embedding::DOUBLE[], t.cv)) * 1e6) / 1e6 AS csim " +
    "FROM embeddings e CROSS JOIN tc t), " +
    "home AS (SELECT vec_id, cell FROM (SELECT vec_id, cell, " +
    "row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell ASC) AS rn " +
    "FROM s2) WHERE rn = 1), " +
    "m AS (SELECT e.vec_id, e.embedding, h.cell FROM embeddings e " +
    "JOIN home h ON e.vec_id = h.vec_id), " +
    "p AS (SELECT x.vec_id AS a_id, y.vec_id AS b_id, " +
    "round((list_cosine_similarity(x.embedding::DOUBLE[], y.embedding::DOUBLE[])) * 1e6) / 1e6 AS sim " +
    "FROM m x JOIN m y ON x.cell = y.cell AND x.vec_id < y.vec_id), " +
    "d AS (SELECT b_id, count(*) AS n FROM p WHERE sim >= 0.4 GROUP BY b_id)"

  /** The nprobe-sweep measurement chain (sw-prefixed, through the
    * exact-truth `swexr` and the per-width top-3 screens sw1s/sw2s/
    * sw4s) — extracted so the sweep's read-out AND
    * [[nprobePlannedSql]]'s chooser price ONE chain (the
    * bandSweepArmsCtesSql precedent: measure and decision can never
    * drift). Grid {1, 2, 4} and the INTERSECT hit shape are the shared
    * lockstep literals. */
  private def nprobeSweepChainSql: String = {
    def slice(k: Int): String =
      s"sw${k}s AS (SELECT a_id, b_id FROM (SELECT a_id, b_id, " +
      "row_number() OVER (PARTITION BY a_id ORDER BY sim DESC, b_id ASC) AS rn " +
      s"FROM swcand WHERE prn <= $k) t WHERE rn <= $TopK)"
    "swc AS (SELECT vec_id AS cell, embedding AS cv FROM embeddings " +
    "WHERE vec_id < 16), " +
    "sws AS (SELECT e.vec_id AS a_id, swc.cell, " +
    "round((list_cosine_similarity(e.embedding::DOUBLE[], swc.cv::DOUBLE[])) * 1e6) / 1e6 AS csim " +
    s"FROM embeddings e CROSS JOIN swc WHERE e.vec_id < $ProbeN), " +
    "swp AS (SELECT a_id, cell, prn FROM (SELECT a_id, cell, " +
    "row_number() OVER (PARTITION BY a_id ORDER BY csim DESC, cell ASC) AS prn " +
    s"FROM sws) t WHERE prn <= ${NprobeGrid.max}), " +
    "swall AS (SELECT e.vec_id, swc.cell, " +
    "round((list_cosine_similarity(e.embedding::DOUBLE[], swc.cv::DOUBLE[])) * 1e6) / 1e6 AS csim " +
    "FROM embeddings e CROSS JOIN swc), " +
    "swh AS (SELECT vec_id, cell FROM (SELECT vec_id, cell, " +
    "row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell ASC) AS rn " +
    "FROM swall) t WHERE rn = 1), " +
    "swb AS (SELECT e.vec_id, e.embedding, h.cell FROM embeddings e " +
    "JOIN swh h ON e.vec_id = h.vec_id " +
    s"QUALIFY row_number() OVER (PARTITION BY h.cell ORDER BY ${saltOrdSql("e.vec_id")}, e.vec_id) <= $MaxBucketCandidates), " +
    "swcand AS (SELECT p.a_id, y.vec_id AS b_id, p.prn, " +
    "round((list_cosine_similarity(x.embedding::DOUBLE[], y.embedding::DOUBLE[])) * 1e6) / 1e6 AS sim " +
    "FROM swp p JOIN embeddings x ON x.vec_id = p.a_id " +
    "JOIN swb y ON y.cell = p.cell AND y.vec_id <> p.a_id), " +
    exactTruthCte("swex") + ", " +
    "swexr AS (SELECT a_id, b_id FROM (SELECT a_id, b_id, " +
    "row_number() OVER (PARTITION BY a_id ORDER BY sim DESC, b_id ASC) AS rn " +
    s"FROM swex) e WHERE rn <= $TopK), " +
    NprobeGrid.map(slice).mkString(", ")
  }

  /** nprobe-sweep oracle: probe-side ranks to 4 cells over the ProbeN-probe
    * sample, home-cell index capped identically to ivfTopKCteSql's `bc`,
    * one candidates CTE, three prn-sliced rankings unioned. */
  private def nprobeSweepSql: String = {
    def metrics(k: Int): String =
      s"SELECT CAST($k AS INTEGER) AS nprobe, " +
      s"(SELECT count(*) FROM swcand WHERE prn <= $k) AS n_cand, " +
      "(SELECT count(*) FROM swexr) AS n_truth, " +
      s"(SELECT count(*) FROM sw${k}s) AS n_screen, " +
      s"(SELECT count(*) FROM (SELECT a_id, b_id FROM swexr " +
      s"INTERSECT SELECT a_id, b_id FROM sw${k}s) h) AS n_hit, " +
      "CASE WHEN (SELECT count(*) FROM swexr) = 0 THEN CAST(1000000 AS BIGINT) " +
      s"ELSE ((SELECT count(*) FROM (SELECT a_id, b_id FROM swexr " +
      s"INTERSECT SELECT a_id, b_id FROM sw${k}s) h) * CAST(1000000 AS BIGINT)) " +
      "// (SELECT count(*) FROM swexr) END AS recall_micro"
    "WITH " + nprobeSweepChainSql + " " +
    NprobeGrid.map(metrics).mkString(" UNION ALL ") +
    " ORDER BY nprobe"
  }

  /** sim_nprobe_planned oracle: the SHARED sweep chain (byte-identical
    * with sim_nprobe_sweep's), a chooser CTE mirroring the Spark rule
    * — largest grid width with (n_hit − h1) · [[NprobePlanCandPerHit]]
    * ≥ (n_cand − c1) vs the k = 1 arm (which qualifies trivially, the
    * fail-closed floor) — and one full-corpus serve arm per grid width
    * from [[ivfChainCtesFor]] (np1/np2/np4 prefixes), each filtered by
    * the choice (the sim_split_serve_planned arm pattern: measure,
    * decide and serve in ONE WITH). */
  private def nprobePlannedSql: String = {
    def arm(k: Int): String =
      ivfChainCtesFor(s"np$k", k) +
      s", np${k}t AS (SELECT a_id, b_id, rn, sim FROM np${k}r " +
      s"WHERE rn <= $TopK AND (SELECT chosen FROM npch) = $k)"
    val cm = NprobeGrid.map { k =>
      s"SELECT $k AS k, " +
      s"(SELECT count(*) FROM swcand WHERE prn <= $k) AS n_cand, " +
      s"(SELECT count(*) FROM (SELECT a_id, b_id FROM swexr " +
      s"INTERSECT SELECT a_id, b_id FROM sw${k}s) h) AS n_hit"
    }.mkString(" UNION ALL ")
    "WITH " + nprobeSweepChainSql +
    s", npcm AS ($cm), " +
    "npch AS (SELECT max(m.k) AS chosen FROM npcm m CROSS JOIN " +
    "(SELECT n_cand AS c1, n_hit AS h1 FROM npcm WHERE k = 1) b " +
    s"WHERE (m.n_hit - b.h1) * $NprobePlanCandPerHit >= (m.n_cand - b.c1)), " +
    NprobeGrid.map(arm).mkString(", ") +
    " SELECT a_id, b_id, rn, sim, " +
    "CAST((SELECT chosen FROM npch) AS INTEGER) AS nprobe_used " +
    "FROM (SELECT * FROM np1t UNION ALL SELECT * FROM np2t " +
    "UNION ALL SELECT * FROM np4t) u"
  }

  /** The sim_knn_mutual oracle's full CTE chain through `mu` (mutual
    * edges, a_id < b_id) — shared with Graph's triangle/label-prop
    * oracles so the similarity graph can never drift from its
    * consumers. */
  private[graft] def knnMutualCteSql: String =
    ivfTopKCteSql + s", t AS (SELECT a_id, b_id, sim FROM r WHERE rn <= $TopK), " +
    "mu AS (SELECT t.a_id, t.b_id, t.sim FROM t JOIN t u " +
    "ON t.a_id = u.b_id AND t.b_id = u.a_id WHERE t.a_id < t.b_id)"

  /** The sim_nn_descent chain through `ndr` (refined ranking) — shared
    * by the descent and its recall eval so the two can never drift.
    * Composes [[knnMutualCteSql]]; nd-prefixed names stay disjoint from
    * the composed chain's claims. */
  private def nnDescentCteSql: String =
    knnMutualCteSql +
    ", nda AS (SELECT a_id AS v, b_id AS n FROM mu " +
    "UNION ALL SELECT b_id AS v, a_id AS n FROM mu), " +
    "ndw AS (SELECT DISTINCT x.n AS a_id, y.n AS b_id " +
    "FROM nda x JOIN nda y ON x.v = y.v WHERE x.n <> y.n), " +
    "nds AS (SELECT w.a_id, w.b_id, " +
    "round((list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[])) * 1e6) / 1e6 AS sim " +
    "FROM ndw w JOIN embeddings ea ON ea.vec_id = w.a_id " +
    "JOIN embeddings eb ON eb.vec_id = w.b_id), " +
    "ndu AS (SELECT DISTINCT a_id, b_id, sim FROM " +
    "(SELECT a_id, b_id, sim FROM t UNION ALL SELECT a_id, b_id, sim FROM nds)), " +
    "ndr AS (SELECT a_id, b_id, sim, row_number() OVER (PARTITION BY a_id " +
    "ORDER BY sim DESC, b_id ASC) AS rn FROM ndu)"

  /** The cell-split chain through `csp` (hot-cell member→child picks) —
    * cs-prefixed names cso/csh/csm/css/csa/csp claimed; composed over
    * [[ivfTopKCteSql]]'s `home` by the sim_cell_split report AND the
    * sim_split_topk / sim_split_recall_eval serve chain (the audited
    * split and the applied split can never drift). Threshold literal =
    * [[SplitOccupancy]]; model = median-τ bisection (seed direction =
    * the lowest member id's embedding, τ = the lower-median 6-dp
    * member cosine to it, rank (n+1) div 2 under (s0sim desc, vec_id
    * asc)); sub 0 iff s0sim ≥ τ. */
  private def cellSplitCteSql: String = cellSplitRoundCtesFor("cs", "home")

  /** ONE split round's CTEs, generated per (prefix, source assignment
    * relation) — the bpeChainCteSqlFor discipline applied to the split:
    * the ("cs", "home") instance IS the audited depth-1 chain
    * byte-for-byte (CellSplitSpec pins the literal), and the deep
    * chain's rounds k ≥ 2 are the SAME generator over the previous
    * round's map — the audited rule and the recursed rule can never
    * drift. Emits `<pfx>o/h/m/g/d/t/s/p`: g = the seed direction
    * (lowest member id), d = member→seed 6-dp sims, t = τ (the exact
    * lower-median selection, rank (n+1) div 2 under (s0sim desc,
    * vec_id asc)), s = the per-cell model (seed embedding + τ), p =
    * the threshold child picks. */
  private[graft] def cellSplitRoundCtesFor(pfx: String, src: String): String =
    s"${pfx}o AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_before " +
    s"FROM $src GROUP BY cell), " +
    s"${pfx}h AS (SELECT cell FROM ${pfx}o WHERE n_before > $SplitOccupancy), " +
    s"${pfx}m AS (SELECT h.cell, h.vec_id, e.embedding FROM $src h " +
    s"JOIN ${pfx}h USING (cell) JOIN embeddings e ON e.vec_id = h.vec_id), " +
    s"${pfx}g AS (SELECT cell, min(vec_id) AS v0 FROM ${pfx}m GROUP BY cell), " +
    s"${pfx}d AS (SELECT m.cell, m.vec_id, " +
    "round((list_cosine_similarity(m.embedding::DOUBLE[], " +
    "e.embedding::DOUBLE[])) * 1e6) / 1e6 AS s0sim " +
    s"FROM ${pfx}m m JOIN ${pfx}g g ON g.cell = m.cell " +
    "JOIN embeddings e ON e.vec_id = g.v0), " +
    s"${pfx}t AS (SELECT cell, s0sim AS tau FROM (SELECT cell, s0sim, " +
    "row_number() OVER (PARTITION BY cell " +
    "ORDER BY s0sim DESC, vec_id ASC) AS srn, " +
    s"count(*) OVER (PARTITION BY cell) AS n FROM ${pfx}d) q " +
    "WHERE srn = (n + 1) // 2), " +
    s"${pfx}s AS (SELECT g.cell, e.embedding, t.tau FROM ${pfx}g g " +
    "JOIN embeddings e ON e.vec_id = g.v0 " +
    s"JOIN ${pfx}t t ON t.cell = g.cell), " +
    s"${pfx}p AS (SELECT d.cell, d.vec_id, " +
    "CAST(CASE WHEN d.s0sim >= t.tau THEN 0 ELSE 1 END AS INTEGER) AS sub " +
    s"FROM ${pfx}d d JOIN ${pfx}t t ON t.cell = d.cell)"

  /** The post-round full assignment map `<pfx>i` (vec_id, cell) —
    * [[nextSplitAsg]]'s mirror: hot members to cell·2 + sub, cool
    * sources to cell·2. */
  private def splitMapCteFor(pfx: String, src: String): String =
    s"${pfx}i AS (SELECT vec_id, CAST(cell * 2 + sub AS BIGINT) AS cell " +
    s"FROM ${pfx}p " +
    s"UNION ALL SELECT h.vec_id, CAST(h.cell * 2 AS BIGINT) AS cell " +
    s"FROM $src h LEFT JOIN ${pfx}h ON ${pfx}h.cell = h.cell " +
    s"WHERE ${pfx}h.cell IS NULL)"

  /** The probe-side descent `<pfx>z`/`<pfx>q` over probe source `psrc`
    * — [[splitDescend]]'s mirror: a probed hot cell routes by its own
    * `s0sim ≥ τ` compare (the exact member rule), a cool one maps to
    * cell·2. */
  private def probeDescendCteFor(pfx: String, psrc: String): String =
    probeDescendCtesFor(pfx, pfx, psrc)

  /** The descent with SEPARATE output and model prefixes — the
    * incremental serve descends one probe stream through TWO rounds'
    * models (ics then jcs), so the output names can't reuse the model
    * prefix; the (pfx, pfx, psrc) instance is [[probeDescendCteFor]]
    * byte-for-byte. */
  private def probeDescendCtesFor(outPfx: String, modelPfx: String,
                                  psrc: String): String =
    s"${outPfx}z AS (SELECT pb.vec_id, pb.cell, s.tau, " +
    "round((list_cosine_similarity(e.embedding::DOUBLE[], " +
    "s.embedding::DOUBLE[])) * 1e6) / 1e6 AS s0sim " +
    s"FROM $psrc pb JOIN ${modelPfx}s s ON s.cell = pb.cell " +
    "JOIN embeddings e ON e.vec_id = pb.vec_id), " +
    s"${outPfx}q AS (SELECT vec_id, CAST(cell * 2 + " +
    "CASE WHEN s0sim >= tau THEN 0 ELSE 1 END AS BIGINT) AS cell " +
    s"FROM ${outPfx}z " +
    s"UNION ALL SELECT pb.vec_id, CAST(pb.cell * 2 AS BIGINT) AS cell " +
    s"FROM $psrc pb LEFT JOIN ${modelPfx}h ON ${modelPfx}h.cell = pb.cell " +
    s"WHERE ${modelPfx}h.cell IS NULL)"

  /** Round-k prefix of the deep chain: round 1 is "cs" (the audited
    * depth-1 names), round k ≥ 2 is "cs<k>" — cs<k>-prefixed names
    * cs2o/h/m/s/a/p/i/z/q claimed per depth. */
  private def splitRoundPfx(k: Int): String = if (k == 1) "cs" else s"cs$k"

  /** The full depth-d chain: per round, the index-side split CTEs +
    * the assignment map + the probe descent; round 1 sources `home` /
    * `probes` (ivfTopKCteSql's names), round k the previous round's
    * `<pfx>i` / `<pfx>q`. Consumed by sim_cell_split_deep (index side
    * only — unreferenced probe CTEs are free in DuckDB) and
    * sim_split_deep_topk (both sides). */
  private def splitDeepChainSql(depth: Int): String =
    (1 to depth).map { k =>
      val pfx = splitRoundPfx(k)
      val src = if (k == 1) "home" else s"${splitRoundPfx(k - 1)}i"
      val psrc = if (k == 1) "probes" else s"${splitRoundPfx(k - 1)}q"
      cellSplitRoundCtesFor(pfx, src) + ", " +
        splitMapCteFor(pfx, src) + ", " + probeDescendCteFor(pfx, psrc)
    }.mkString(", ")

  /** The deep report's snapshot UNION (no ORDER BY): snapshot k = the
    * occupancy agg of round k+1's source (`<pfx>o`), snapshot depth =
    * a fresh agg over the final map. Shared by sim_cell_split_deep and
    * the sim_split_plan chooser (measure → decide lockstep). */
  private def splitDeepSnapshotsSql: String = snapUnionSqlFor(splitRoundPfx)

  /** ONE definition site for the snapshot SELECT shape (round /
    * n_cells / n_hot / max_occ) — shared by the deep-report chain
    * ([[splitDeepSnapshotsSql]], [[splitRoundPfx]] rounds) and the
    * deep-incremental oracle ([[incRoundPfx]] rounds); a shape change
    * moves both generators AND the Spark-side snap() together
    * (ADVICE r18: three hand-kept copies of the same literal). */
  private def snapSelectSql(k: Int, from: String): String =
    s"SELECT CAST($k AS BIGINT) AS round, " +
    "CAST(count(*) AS BIGINT) AS n_cells, " +
    s"CAST(sum(CASE WHEN n_before > $SplitOccupancy THEN 1 ELSE 0 END) " +
    "AS BIGINT) AS n_hot, " +
    s"CAST(max(n_before) AS BIGINT) AS max_occ FROM $from"

  /** The snapshot UNION over a round-prefix function (no ORDER BY):
    * snapshot k = the occupancy agg of round k+1's source (`<pfx>o`),
    * snapshot depth = a fresh agg over the final map `<pfx>i`. */
  private def snapUnionSqlFor(roundPfx: Int => String): String = {
    val snaps = (0 until SplitDepth).map { k =>
      snapSelectSql(k, s"${roundPfx(k + 1)}o")
    } :+ snapSelectSql(SplitDepth,
      "(SELECT cell, CAST(count(*) AS BIGINT) AS n_before " +
      s"FROM ${roundPfx(SplitDepth)}i GROUP BY cell) fz")
    snaps.mkString(" UNION ALL ")
  }

  /** The frozen-quantizer home CTE pair `<pfx>s/<pfx>h` over `iicl`. */
  private def frozenHomeCteFor(pfx: String, where: String): String =
    s"${pfx}s AS (SELECT e.vec_id, t.cell, " +
    "round((list_cosine_similarity(e.embedding::DOUBLE[], t.cv)) * 1e6) " +
    "/ 1e6 AS csim " +
    s"FROM embeddings e CROSS JOIN iicl t WHERE $where), " +
    s"${pfx}h AS (SELECT vec_id, cell FROM (SELECT vec_id, cell, " +
    "row_number() OVER (PARTITION BY vec_id " +
    s"ORDER BY csim DESC, cell ASC) AS rn FROM ${pfx}s) WHERE rn = 1)"

  /** The incremental chain through the jcs round CTEs — shared by the
    * sim_split_incremental report and the sim_split_incremental_serve
    * round trip (maintenance and serving can never drift). */
  private def splitIncrementalChainSql: String =
    s"WITH $incAssignCteSql, " +
    frozenHomeCteFor("ib", "e.vec_id < 250") + ", " +
    cellSplitRoundCtesFor("ics", "ibh") + ", " +
    splitMapCteFor("ics", "ibh") + ", " +
    frozenHomeCteFor("ia", "e.vec_id >= 250") + ", " +
    probeDescendCteFor("ics", "iah") + ", " +
    "icb AS (SELECT vec_id, cell FROM icsi " +
    "UNION ALL SELECT vec_id, cell FROM icsq), " +
    cellSplitRoundCtesFor("jcs", "icb")

  /** sim_split_incremental's oracle — a FROM-SCRATCH rebuild of the
    * combined-corpus split round (hash equality proves the
    * pruned-postings incremental path ≡ rebuild): the shared
    * [[incAssignCteSql]] frozen-quantizer chain, base home (ibs/ibh)
    * and arrival home (ias/iah) against the frozen `iicl` centroids,
    * the base depth-1 split round (ics-prefixed, the SAME round
    * generator) + its map (icsi) + the arrival descent (icsz/icsq),
    * the combined map (icb), and the incremental round (jcs-prefixed)
    * with the sim_cell_split report tail. Split literal 250 = the
    * CountMemo n/2 at sf0.01 (lockstep with the runtime knob). */
  private def splitIncrementalOracleSql: String = {
    splitIncrementalChainSql + ", " +
    "jcsc AS (SELECT cell, " +
    "CAST(sum(CASE WHEN sub = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0, " +
    "CAST(sum(CASE WHEN sub = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1 " +
    "FROM jcsp GROUP BY cell) " +
    "SELECT o.cell, o.n_before, " +
    "CAST(c.cell IS NOT NULL AS INTEGER) AS split, " +
    "coalesce(c.c0, CAST(0 AS BIGINT)) AS n_child0, " +
    "coalesce(c.c1, CAST(0 AS BIGINT)) AS n_child1, " +
    "coalesce(greatest(c.c0, c.c1), o.n_before) AS n_max_after " +
    "FROM jcso o LEFT JOIN jcsc c USING (cell) ORDER BY o.cell"
  }

  /** sim_split_incremental_serve's oracle — from-scratch rebuild of
    * the maintained-index SERVE: the shared incremental chain, the
    * final index map (jcsi), the all-vector frozen-quantizer probe
    * ranking (ipa/ipb, rn ≤ NProbe), the probe descent folded through
    * BOTH rounds' models (ip1 over ics, ip2 over jcs — the
    * two-prefix descent generator), and the capped pair + rerank tail
    * (ivb/ivm/ivq/ivr, the dz tail's shape). Hash equality proves
    * serving the persisted maintained index ≡ serving a from-scratch
    * build of the combined corpus. */
  private def splitIncrementalServeOracleSql: String =
    splitIncrementalChainSql + ", " +
    splitMapCteFor("jcs", "icb") + ", " +
    "ipa AS (SELECT e.vec_id, t.cell, " +
    "round((list_cosine_similarity(e.embedding::DOUBLE[], t.cv)) * 1e6) " +
    "/ 1e6 AS csim FROM embeddings e CROSS JOIN iicl t), " +
    "ipb AS (SELECT vec_id, cell FROM (SELECT vec_id, cell, " +
    "row_number() OVER (PARTITION BY vec_id " +
    s"ORDER BY csim DESC, cell ASC) AS rn FROM ipa) WHERE rn <= $NProbe), " +
    probeDescendCtesFor("ip1", "ics", "ipb") + ", " +
    probeDescendCtesFor("ip2", "jcs", "ip1q") + ", " +
    "ivb AS (SELECT e.vec_id, e.embedding, i.cell AS ncell " +
    "FROM embeddings e JOIN jcsi i ON e.vec_id = i.vec_id " +
    "QUALIFY row_number() OVER (PARTITION BY i.cell " +
    s"ORDER BY ${saltOrdSql("e.vec_id")}, e.vec_id) <= $MaxBucketCandidates), " +
    "ivm AS (SELECT e.vec_id, e.embedding, p.cell AS ncell " +
    "FROM embeddings e JOIN ip2q p ON e.vec_id = p.vec_id), " +
    "ivq AS (SELECT x.vec_id AS a_id, y.vec_id AS b_id, " +
    "round((list_cosine_similarity(x.embedding::DOUBLE[], " +
    "y.embedding::DOUBLE[])) * 1e6) / 1e6 AS sim " +
    "FROM ivm x JOIN ivb y ON x.ncell = y.ncell AND x.vec_id <> y.vec_id), " +
    "ivr AS (SELECT a_id, b_id, sim, row_number() OVER (PARTITION BY a_id " +
    "ORDER BY sim DESC, b_id ASC) AS rn FROM ivq) " +
    s"SELECT a_id, b_id, rn, sim FROM ivr WHERE rn <= $TopK"

  /** Incremental-round prefix: round 1 = "jcs" (the audited
    * [[splitIncrementalChainSql]] round), round k = the next letter —
    * kcs, lcs, … (names claimed per depth). */
  private def incRoundPfx(k: Int): String = s"${('i' + k).toChar}cs"

  /** sim_split_incremental_deep's oracle — the incremental chain
    * folded through [[SplitDepth]] from-scratch rounds (round k ≥ 2 =
    * the SAME round generator over round k−1's full map), with the
    * [[splitDeepSnapshotsSql]]-shaped trajectory union: snapshot 0 =
    * the combined occupancy (round 1's own `jcso`), snapshot k = the
    * occupancy after k rounds. Hash equality proves the
    * pruned-persisted iterated maintenance ≡ this rebuild. */
  private def splitIncrementalDeepOracleSql: String = {
    val rounds = (1 to SplitDepth).map { k =>
      val maps = splitMapCteFor(incRoundPfx(k),
        if (k == 1) "icb" else s"${incRoundPfx(k - 1)}i")
      if (k == 1) maps
      else cellSplitRoundCtesFor(incRoundPfx(k),
        s"${incRoundPfx(k - 1)}i") + ", " + maps
    }.mkString(", ")
    splitIncrementalChainSql + ", " + rounds + " " +
      snapUnionSqlFor(incRoundPfx) + " ORDER BY round"
  }

  /** sim_split_serve_planned's oracle — ONE WITH composing the deep
    * chain (round 1 = the audited cs split), the st depth-1 serve
    * tail, the dz depth-2 serve tail, and the [[splitPlanOracleSql]]
    * chooser (spl/plc); the final union has one arm per possible
    * depth, each filtered by the chosen value (sentinel 1e9 and
    * converged 0 both route to the UNSPLIT `r` arm with depth_used 0 —
    * the fail-closed contract). Arms mirror [[SplitDepth]] = 2. */
  private def plannedServeOracleSql: String =
    ivfTopKCteSql + ", " + splitDeepChainSql(SplitDepth) + ", " +
    splitServeTailFor("st", "cs") + ", " +
    splitDeepServeTailSql + ", " +
    s"spl AS ($splitDeepSnapshotsSql), " +
    "plc AS (SELECT coalesce(min(CASE WHEN n_hot = 0 THEN round END), " +
    "CAST(1000000000 AS BIGINT)) AS chosen FROM spl) " +
    "SELECT a_id, b_id, rn, sim, CAST(0 AS BIGINT) AS depth_used " +
    s"FROM r, plc WHERE rn <= $TopK " +
    "AND (plc.chosen = 0 OR plc.chosen = 1000000000) " +
    "UNION ALL SELECT a_id, b_id, rn, sim, CAST(1 AS BIGINT) AS depth_used " +
    s"FROM str, plc WHERE rn <= $TopK AND plc.chosen = 1 " +
    "UNION ALL SELECT a_id, b_id, rn, sim, CAST(2 AS BIGINT) AS depth_used " +
    s"FROM dzr, plc WHERE rn <= $TopK AND plc.chosen = 2"

  /** sim_cell_split_deep's oracle. */
  private def splitDeepReportOracleSql: String =
    ivfTopKCteSql + ", " + splitDeepChainSql(SplitDepth) + " " +
      splitDeepSnapshotsSql + " ORDER BY round"

  /** sim_split_plan's oracle — the chooser over the SAME snapshot
    * union (spl CTE): smallest all-cool round, fail-closed sentinel
    * 1e9 / converged 0 when none qualifies, final-snapshot context. */
  private def splitPlanOracleSql: String =
    ivfTopKCteSql + ", " + splitDeepChainSql(SplitDepth) + ", " +
    s"spl AS ($splitDeepSnapshotsSql) " +
    "SELECT coalesce(min(CASE WHEN n_hot = 0 THEN round END), " +
    "CAST(1000000000 AS BIGINT)) AS chosen_depth, " +
    "CAST(min(CASE WHEN n_hot = 0 THEN round END) IS NOT NULL " +
    "AS INTEGER) AS converged, " +
    s"max(CASE WHEN round = $SplitDepth THEN n_hot END) AS n_hot_final, " +
    s"max(CASE WHEN round = $SplitDepth THEN max_occ END) AS max_occ_final " +
    "FROM spl"

  /** The deep-serve CTE chain through `dzr` (dz-prefixed serve tail —
    * same saltOrd cap + (sim desc, b_id asc) rerank as the depth-1
    * serve — over the final index map and final probe map); shared by
    * sim_split_deep_topk and its recall eval. */
  private def splitDeepServeCteSql: String =
    ivfTopKCteSql + ", " + splitDeepChainSql(SplitDepth) + ", " +
    splitDeepServeTailSql

  /** The deep-serve dz tail alone — composed by [[splitDeepServeCteSql]]
    * and re-used (with the st tail and the plan chooser) by the
    * plan-driven serve's arm union. */
  private def splitDeepServeTailSql: String =
    s"dzb AS (SELECT e.vec_id, e.embedding, i.cell AS ncell " +
    s"FROM embeddings e JOIN ${splitRoundPfx(SplitDepth)}i i " +
    "ON e.vec_id = i.vec_id " +
    "QUALIFY row_number() OVER (PARTITION BY i.cell " +
    s"ORDER BY ${saltOrdSql("e.vec_id")}, e.vec_id) <= $MaxBucketCandidates), " +
    s"dzm AS (SELECT e.vec_id, e.embedding, p.cell AS ncell " +
    s"FROM embeddings e JOIN ${splitRoundPfx(SplitDepth)}q p " +
    "ON e.vec_id = p.vec_id), " +
    "dzq AS (SELECT x.vec_id AS a_id, y.vec_id AS b_id, " +
    "round((list_cosine_similarity(x.embedding::DOUBLE[], " +
    "y.embedding::DOUBLE[])) * 1e6) / 1e6 AS sim " +
    "FROM dzm x JOIN dzb y ON x.ncell = y.ncell AND x.vec_id <> y.vec_id), " +
    "dzr AS (SELECT a_id, b_id, sim, row_number() OVER (PARTITION BY a_id " +
    "ORDER BY sim DESC, b_id ASC) AS rn FROM dzq)"

  private def splitDeepTopKOracleSql: String =
    splitDeepServeCteSql + s" SELECT a_id, b_id, rn, sim FROM dzr WHERE rn <= $TopK"

  /** sim_split_deep_recall_eval's oracle — the st-eval tail with dz
    * names (probe size ProbeN, brute top-TopK truth, integer micro
    * metric forms). */
  private def splitDeepRecallOracleSql: String =
    splitDeepServeCteSql + ", " + recallEvalTailSqlFor("dz", "dzr")

  /** The COMPLETE split-serve oracle — shared VERBATIM by
    * sim_split_topk and sim_split_persist (the persisted index serves
    * through the same [[splitServe]] tail; only the storage
    * moved). */
  private lazy val splitTopKOracleSql: String =
    splitServeCteSql + s" SELECT a_id, b_id, rn, sim FROM str WHERE rn <= $TopK"

  /** The split-serve chain through `str` (st-prefixed names sti/stph/
    * stp/stb/stm/stq/str claimed) — composes [[ivfTopKCteSql]] +
    * [[cellSplitCteSql]]; shared by sim_split_topk and its recall eval.
    * ncell = cell·2 + sub for hot members / cell·2 for cool (bijective);
    * probes route a probed hot cell by the model's s0sim ≥ τ compare
    * (ties to child 0); same saltOrd MaxBucketCandidates cap and (sim desc, b_id asc)
    * rerank as the unsplit serve. */
  private def splitServeCteSql: String =
    ivfTopKCteSql + ", " + cellSplitCteSql + ", " +
    splitServeTailFor("st", "cs")

  /** The split-serve tail, generated per (serve prefix, split-round
    * prefix) — emits `<s>i/<s>ph/<s>p/<s>b/<s>m/<s>q/<s>r` over a
    * round's `<c>p/<c>h/<c>s` picks/hot-set/model plus the chain's
    * `home`/`probes` relations (whatever quantizer produced them).
    * The ("st", "cs") instance IS [[splitServeCteSql]]'s audited tail
    * byte-for-byte (CellSplitSpec pins the literal — the
    * cellSplitRoundCtesFor discipline applied to the serve), and the
    * ("tst", "tcs") instance serves the TRAINED split
    * (sim_split_topk_trained) over [[trainedChainToHomeSql]]'s
    * `home`/`probes` — the stub serve and the trained serve can never
    * drift. */
  private[graft] def splitServeTailFor(spfx: String, cspfx: String): String =
    s"${spfx}i AS (SELECT vec_id, CAST(cell * 2 + sub AS BIGINT) AS ncell " +
    s"FROM ${cspfx}p " +
    "UNION ALL SELECT h.vec_id, CAST(h.cell * 2 AS BIGINT) AS ncell " +
    s"FROM home h LEFT JOIN ${cspfx}h ON ${cspfx}h.cell = h.cell " +
    s"WHERE ${cspfx}h.cell IS NULL), " +
    s"${spfx}ph AS (SELECT pb.vec_id, pb.cell, s.tau, " +
    "round((list_cosine_similarity(e.embedding::DOUBLE[], " +
    "s.embedding::DOUBLE[])) * 1e6) / 1e6 AS s0sim " +
    s"FROM probes pb JOIN ${cspfx}s s ON s.cell = pb.cell " +
    "JOIN embeddings e ON e.vec_id = pb.vec_id), " +
    s"${spfx}p AS (SELECT vec_id, CAST(cell * 2 + " +
    "CASE WHEN s0sim >= tau THEN 0 ELSE 1 END AS BIGINT) AS ncell " +
    s"FROM ${spfx}ph " +
    "UNION ALL SELECT pb.vec_id, CAST(pb.cell * 2 AS BIGINT) AS ncell " +
    s"FROM probes pb LEFT JOIN ${cspfx}h ON ${cspfx}h.cell = pb.cell " +
    s"WHERE ${cspfx}h.cell IS NULL), " +
    s"${spfx}b AS (SELECT e.vec_id, e.embedding, i.ncell FROM embeddings e " +
    s"JOIN ${spfx}i i ON e.vec_id = i.vec_id " +
    s"QUALIFY row_number() OVER (PARTITION BY i.ncell " +
    s"ORDER BY ${saltOrdSql("e.vec_id")}, e.vec_id) <= $MaxBucketCandidates), " +
    s"${spfx}m AS (SELECT e.vec_id, e.embedding, p.ncell FROM embeddings e " +
    s"JOIN ${spfx}p p ON e.vec_id = p.vec_id), " +
    s"${spfx}q AS (SELECT x.vec_id AS a_id, y.vec_id AS b_id, " +
    "round((list_cosine_similarity(x.embedding::DOUBLE[], " +
    "y.embedding::DOUBLE[])) * 1e6) / 1e6 AS sim " +
    s"FROM ${spfx}m x JOIN ${spfx}b y ON x.ncell = y.ncell " +
    "AND x.vec_id <> y.vec_id), " +
    s"${spfx}r AS (SELECT a_id, b_id, sim, row_number() OVER (" +
    s"PARTITION BY a_id ORDER BY sim DESC, b_id ASC) AS rn FROM ${spfx}q)"

  /** The COMPLETE trained-split-serve oracle (sim_split_topk_trained) —
    * the SAME serve-tail generator over [[trainedChainToHomeSql]]'s
    * Lloyd-trained `home`/`probes` and the "tcs" split round the
    * sim_cell_split_trained report audits (report ≡ applied split, the
    * sim_split_topk rule lifted to the trained quantizer). */
  private def trainedSplitServeChainSql: String =
    trainedChainToHomeSql + ", " +
    cellSplitRoundCtesFor("tcs", "home") + ", " +
    splitServeTailFor("tst", "tcs")

  private def trainedSplitTopKOracleSql: String =
    trainedSplitServeChainSql +
    s" SELECT a_id, b_id, rn, sim FROM tstr WHERE rn <= $TopK"

  /** One band probe-map CTE `<pfx>p` over [[splitServeCteSql]]'s
    * `stph` (probed-hot-cell s0sim/τ rows) and `probes`/`csh` (cool
    * branch) — [[splitDescend]]'s mirror (margin > 0): compare-selected child,
    * PLUS the other child when the exact integer µ distance
    * |round(s0sim·1e6) − round(τ·1e6)| is inside the margin, plus
    * cool cells at cell·2. `probeWhere` restricts the probe sample
    * (the sweep's vec_id < ProbeN arms); empty = all probes.
    * CONSTRAINT: `probeWhere` must be either empty or a predicate
    * BEGINNING with a bare column name (e.g. "vec_id < 100") — the
    * cool arm splices it as `pb.$probeWhere`, which alias-qualifies
    * only the FIRST column; a compound predicate ("vec_id < 100 AND
    * label = 'x'") would leave its later columns unqualified and
    * silently change the cool arm's filter (ADVICE r17). */
  private def bandProbeMapSqlFor(pfx: String, marginMicro: Long,
                                 probeWhere: String): String = {
    // enforce the splice constraint documented above instead of letting
    // a future compound predicate generate a subtly wrong cool arm
    // (ADVICE r18): must start with a bare column name, no AND/OR
    require(probeWhere.isEmpty ||
      (probeWhere.matches("^[a-z_][a-z0-9_]*\\s*[<>=!].*") &&
       !probeWhere.toUpperCase.contains(" AND ") &&
       !probeWhere.toUpperCase.contains(" OR ")),
      s"bandProbeMapSqlFor probeWhere must be a single bare-column " +
      s"predicate (the cool arm alias-qualifies only the first column): " +
      s"'$probeWhere'")
    val w1 = if (probeWhere.isEmpty) "" else s" WHERE $probeWhere"
    val w2 = if (probeWhere.isEmpty) "" else s" AND $probeWhere"
    s"${pfx}p AS (SELECT vec_id, CAST(cell * 2 + " +
    "CASE WHEN s0sim >= tau THEN 0 ELSE 1 END AS BIGINT) AS ncell " +
    s"FROM stph$w1 " +
    "UNION ALL SELECT vec_id, CAST(cell * 2 + " +
    "CASE WHEN s0sim >= tau THEN 1 ELSE 0 END AS BIGINT) AS ncell " +
    "FROM stph WHERE abs(CAST(round(s0sim * 1e6) AS BIGINT) - " +
    s"CAST(round(tau * 1e6) AS BIGINT)) < $marginMicro$w2 " +
    "UNION ALL SELECT pb.vec_id, CAST(pb.cell * 2 AS BIGINT) AS ncell " +
    "FROM probes pb LEFT JOIN csh ON csh.cell = pb.cell " +
    s"WHERE csh.cell IS NULL${if (probeWhere.isEmpty) ""
      else s" AND pb.$probeWhere"})"
  }

  /** The band serve tail `<pfx>m/<pfx>q/<pfx>r` from a band probe map
    * against the UNCHANGED split index side `stb` (the band is
    * query-time work only). */
  private def bandServeTailSqlFor(pfx: String): String =
    s"${pfx}m AS (SELECT e.vec_id, e.embedding, p.ncell " +
    s"FROM embeddings e JOIN ${pfx}p p ON e.vec_id = p.vec_id), " +
    s"${pfx}q AS (SELECT x.vec_id AS a_id, y.vec_id AS b_id, " +
    "round((list_cosine_similarity(x.embedding::DOUBLE[], " +
    "y.embedding::DOUBLE[])) * 1e6) / 1e6 AS sim " +
    s"FROM ${pfx}m x JOIN stb y ON x.ncell = y.ncell " +
    "AND x.vec_id <> y.vec_id), " +
    s"${pfx}r AS (SELECT a_id, b_id, sim, row_number() OVER (" +
    s"PARTITION BY a_id ORDER BY sim DESC, b_id ASC) AS rn FROM ${pfx}q)"

  /** The band-serve chain through `sbr` — composes [[splitServeCteSql]]
    * (sti/stb/stph and the split model come from there; its st-tail
    * probe CTEs stay unreferenced — free in DuckDB) with the sb-
    * prefixed band probe map + serve tail at the [[SplitBandMargin]]
    * literal; shared by sim_split_band_topk and its recall eval. */
  private def bandServeCteSql: String =
    splitServeCteSql + ", " +
    bandProbeMapSqlFor("sb", SplitBandMargin, "") + ", " +
    bandServeTailSqlFor("sb")

  private def bandTopKOracleSql: String =
    bandServeCteSql + s" SELECT a_id, b_id, rn, sim FROM sbr WHERE rn <= $TopK"

  /** sim_split_band_recall_eval's oracle — the eval-family tail with
    * sb names (probe size ProbeN, brute top-TopK truth, integer micro
    * metric forms). */
  private def bandRecallOracleSql: String =
    bandServeCteSql + ", " + recallEvalTailSqlFor("sb", "sbr")

  /** The sweep's shared brute truth (bwx/bwxr) + one bw<i>-prefixed
    * probe-restricted arm per [[SplitBandSweepMargins]] entry
    * (generated from the SAME grid the Spark side folds — lockstep by
    * construction) — composed by the sweep oracle AND the planned-band
    * oracle, so the measure and the decision read ONE chain. */
  private def bandSweepArmsCtesSql: String = {
    val arms = SplitBandSweepMargins.zipWithIndex.map { case (m, i) =>
      val pfx = s"bw$i"
      bandProbeMapSqlFor(pfx, m, s"vec_id < $ProbeN") + ", " +
      bandServeTailSqlFor(pfx) + ", " +
      s"${pfx}s AS (SELECT a_id, b_id FROM ${pfx}r WHERE rn <= $TopK), " +
      s"${pfx}c AS (SELECT (SELECT count(*) FROM ${pfx}q) AS n_cand, " +
      "(SELECT count(*) FROM bwxr) AS n_truth, " +
      s"(SELECT count(*) FROM ${pfx}s) AS n_screen, " +
      s"(SELECT count(*) FROM bwxr JOIN ${pfx}s USING (a_id, b_id)) " +
      "AS n_hit)"
    }
    exactTruthCte("bwx") + ", " +
    "bwxr AS (SELECT a_id, b_id FROM (SELECT a_id, b_id, " +
    "row_number() OVER (PARTITION BY a_id ORDER BY sim DESC, b_id ASC) " +
    s"AS rn FROM bwx) e WHERE rn <= $TopK), " +
    arms.mkString(", ")
  }

  /** sim_split_band_sweep's oracle — the shared arm chain + one
    * read-out row per grid margin. */
  private def bandSweepOracleSql: String = {
    val selects = SplitBandSweepMargins.zipWithIndex.map { case (m, i) =>
      s"SELECT CAST($m AS BIGINT) AS margin_micro, " +
      "CAST(n_cand AS BIGINT) AS n_cand, " +
      "CAST(n_truth AS BIGINT) AS n_truth, " +
      "CAST(n_screen AS BIGINT) AS n_screen, " +
      "CAST(n_hit AS BIGINT) AS n_hit, " +
      "CASE WHEN n_truth = 0 THEN CAST(1000000 AS BIGINT) " +
      "ELSE (n_hit * CAST(1000000 AS BIGINT)) // n_truth END " +
      s"AS recall_micro FROM bw${i}c"
    }
    splitServeCteSql + ", " + bandSweepArmsCtesSql + " " +
    selects.mkString(" UNION ALL ") + " ORDER BY margin_micro"
  }

  /** sim_split_band_planned's oracle — ONE WITH composing the sweep's
    * shared arm chain (the measure), the cumulative-efficiency chooser
    * (bps/bpb/bpc — Δn_hit · [[BandPlanCandPerHit]] ≥ Δn_cand vs the
    * margin-0 arm, coalesced to the fail-closed 0), and one FULL-PROBE
    * serve arm per grid margin (bp<i>-prefixed; the margin-0 arm is
    * the split serve's own `str`), each filtered by the chosen margin
    * — the plannedServeOracleSql pattern applied to the band knob. */
  private def bandPlannedOracleSql: String = {
    val serveArms = SplitBandSweepMargins.zipWithIndex.collect {
      case (m, i) if m != 0L =>
        bandProbeMapSqlFor(s"bp$i", m, "") + ", " +
        bandServeTailSqlFor(s"bp$i")
    }
    val decision =
      "bps AS (" + SplitBandSweepMargins.zipWithIndex.map { case (m, i) =>
        s"SELECT CAST($m AS BIGINT) AS margin_micro, n_cand, n_hit " +
        s"FROM bw${i}c"
      }.mkString(" UNION ALL ") + "), " +
      "bpb AS (SELECT n_cand AS c0, n_hit AS h0 " +
      s"FROM bw${SplitBandSweepMargins.indexOf(0L)}c), " +
      "bpc AS (SELECT coalesce(max(CASE WHEN (s.n_hit - b.h0) * " +
      s"$BandPlanCandPerHit >= (s.n_cand - b.c0) THEN s.margin_micro " +
      "END), CAST(0 AS BIGINT)) AS chosen FROM bps s, bpb b)"
    val armSelects = SplitBandSweepMargins.zipWithIndex.map { case (m, i) =>
      val rel = if (m == 0L) "str" else s"bp${i}r"
      s"SELECT a_id, b_id, rn, sim, CAST($m AS BIGINT) AS margin_used " +
      s"FROM $rel, bpc WHERE rn <= $TopK AND bpc.chosen = $m"
    }
    splitServeCteSql + ", " + bandSweepArmsCtesSql + ", " +
    (serveArms :+ decision).mkString(", ") + " " +
    armSelects.mkString(" UNION ALL ")
  }

  /** The stub-quantizer IVF serve chain at a name PREFIX and probe
    * WIDTH — the ("", [[NProbe]]) instance reproduces the audited
    * unprefixed chain BYTE-FOR-BYTE (NprobePlannedSpec pins the frozen
    * literal; [[ivfTopKCteSql]] IS that instance, so the chain's many
    * composers are untouched); sim_nprobe_planned's serve arms are the
    * np1/np2/np4 instances (the incScreenCtesFor extraction pattern). */
  private[graft] def ivfChainCtesFor(pfx: String, k: Int): String = {
    val (cN, sN, prN, probesN, homeN, mN, bcN, pN, rN) =
      (s"${pfx}c", s"${pfx}s", s"${pfx}pr", s"${pfx}probes", s"${pfx}home",
       s"${pfx}m", s"${pfx}bc", s"${pfx}p", s"${pfx}r")
    s"$cN AS (SELECT vec_id AS cell, embedding AS cv FROM embeddings WHERE vec_id < 16), " +
    s"$sN AS (SELECT e.vec_id, $cN.cell, " +
    s"round((list_cosine_similarity(e.embedding::DOUBLE[], $cN.cv::DOUBLE[])) * 1e6) / 1e6 AS csim " +
    s"FROM embeddings e CROSS JOIN $cN), " +
    s"$prN AS (SELECT vec_id, cell, row_number() OVER (" +
    s"PARTITION BY vec_id ORDER BY csim DESC, cell ASC) AS rn FROM $sN), " +
    s"$probesN AS (SELECT vec_id, cell FROM $prN WHERE rn <= $k), " +
    s"$homeN AS (SELECT vec_id, cell FROM $prN WHERE rn = 1), " +
    s"$mN AS (SELECT e.vec_id, e.embedding, p.cell FROM embeddings e JOIN $probesN p ON e.vec_id = p.vec_id), " +
    s"$bcN AS (SELECT e.vec_id, e.embedding, h.cell FROM embeddings e JOIN $homeN h ON e.vec_id = h.vec_id " +
    s"QUALIFY row_number() OVER (PARTITION BY h.cell ORDER BY ${saltOrdSql("e.vec_id")}, e.vec_id) <= $MaxBucketCandidates), " +
    s"$pN AS (SELECT x.vec_id AS a_id, y.vec_id AS b_id, " +
    "round((list_cosine_similarity(x.embedding::DOUBLE[], y.embedding::DOUBLE[])) * 1e6) / 1e6 AS sim " +
    s"FROM $mN x JOIN $bcN y ON x.cell = y.cell AND x.vec_id <> y.vec_id), " +
    s"$rN AS (SELECT a_id, b_id, sim, row_number() OVER (PARTITION BY a_id " +
    s"ORDER BY sim DESC, b_id ASC) AS rn FROM $pN)"
  }

  /** The sim_ivf_topk oracle's full CTE chain through `r` (ranked
    * multi-probe candidates) — shared by the top-k and mutual-kNN
    * oracles so the two can never drift. */
  private def ivfTopKCteSql: String = "WITH " + ivfChainCtesFor("", NProbe)

  /** The filtered-search chain through `flpr` (fl-prefixed names
    * flc/fls/flp/flm/flb/flpr claimed; recall adds flsc/flex/flxr/
    * flht/flcm) — the composite (cell, label) key as join equality +
    * per-(cell,label) cap partition; shared by sim_filtered_topk and
    * sim_filtered_recall so serving and eval can never drift. */
  private def filteredCteSql: String =
    "flc AS (SELECT vec_id AS cell, embedding AS cv " +
    "FROM embeddings WHERE vec_id < 16), " +
    "fls AS (SELECT e.vec_id, c.cell, " +
    "round((list_cosine_similarity(e.embedding::DOUBLE[], c.cv::DOUBLE[])) * 1e6) / 1e6 AS csim " +
    "FROM embeddings e CROSS JOIN flc c), " +
    "flp AS (SELECT vec_id, cell, row_number() OVER (" +
    "PARTITION BY vec_id ORDER BY csim DESC, cell ASC) AS rn FROM fls), " +
    "flm AS (SELECT e.vec_id, e.embedding, e.label, p.cell " +
    s"FROM embeddings e JOIN flp p ON e.vec_id = p.vec_id AND p.rn <= $NProbe " +
    s"WHERE e.vec_id < $ProbeN), " +
    "flb AS (SELECT e.vec_id, e.embedding, e.label, h.cell " +
    "FROM embeddings e JOIN flp h ON e.vec_id = h.vec_id AND h.rn = 1 " +
    s"QUALIFY row_number() OVER (PARTITION BY h.cell, e.label " +
    s"ORDER BY ${saltOrdSql("e.vec_id")}, e.vec_id) <= $MaxBucketCandidates), " +
    "flpr AS (SELECT x.vec_id AS a_id, y.vec_id AS b_id, " +
    "round((list_cosine_similarity(x.embedding::DOUBLE[], y.embedding::DOUBLE[])) * 1e6) / 1e6 AS sim " +
    "FROM flm x JOIN flb y ON x.cell = y.cell AND x.label = y.label " +
    "AND x.vec_id <> y.vec_id)"

  /** The RRF chain through `rfr` (rf-prefixed names rfa/rfb/rff/rfr
    * claimed; recall adds rfs/rft/rftr/rfht/rfcm) — composes
    * [[ivfTopKCteSql]]'s `r` and [[signCteSql]]'s `sgsh`; shared by
    * sim_rrf_fusion and sim_rrf_recall so the serving and eval paths
    * can never drift. Depth/K literals = [[RrfDepth]]/[[RrfK]]. */
  private def rrfCteSql: String =
    ivfTopKCteSql + ", " + signCteSql + ", " +
    s"rfa AS (SELECT a_id, b_id, rn AS ra FROM r WHERE a_id < $ProbeN AND rn <= $RrfDepth), " +
    "rfb AS (SELECT a_id, b_id, row_number() OVER (PARTITION BY a_id " +
    "ORDER BY hd ASC, b_id ASC) AS rb FROM sgsh), " +
    "rff AS (SELECT coalesce(a.a_id, b.a_id) AS a_id, " +
    "coalesce(a.b_id, b.b_id) AS b_id, " +
    s"coalesce(CAST(1000000 AS BIGINT) // ($RrfK + a.ra), 0) + " +
    s"coalesce(CAST(1000000 AS BIGINT) // ($RrfK + b.rb), 0) AS rrf_micro " +
    "FROM rfa a FULL JOIN rfb b ON a.a_id = b.a_id AND a.b_id = b.b_id), " +
    "rfr AS (SELECT a_id, b_id, rrf_micro, row_number() OVER (" +
    "PARTITION BY a_id ORDER BY rrf_micro DESC, b_id ASC) AS rn FROM rff)"

  /** The frontier oracle wraps the twelve REGISTERED leg oracles
    * verbatim as parenthesized subqueries (CTE names stay scoped per
    * leg) plus the inline nn_descent column rename — thirteen legs
    * total, so frontier and legs move together by construction. */
  private def frontierLegSql(m: String, q: String): String =
    s"SELECT '$m' AS method, n_truth, n_hit, recall_micro " +
    s"FROM (${oracleBase(q)}) f_$m"

  // Every registered Similarity oracle gets the DuckDB materialization
  // hint post-composition (see [[OracleHints.materializeCtes]] — the
  // VERDICT r18 item-1 fix): Similarity has no recursive CTEs, the
  // byte-frozen generator literals stay untouched at their definition
  // sites, and verbatim-pair oracles transform identically because
  // both names map the same val.
  val sql: Map[String, String] = (oracleBase +
    ("sim_eval_frontier" ->
      ((Seq("band" -> "sim_split_band_recall_eval",
            "deepsplit" -> "sim_split_deep_recall_eval",
            "graph" -> "sim_graph_search_eval",
            "int8" -> "emb_int8_recall",
            "ivf" -> "sim_ivf_recall_eval",
            "jl" -> "sim_jl_recall",
            "matryoshka" -> "emb_matryoshka_recall",
            "rrf" -> "sim_rrf_recall",
            "sign" -> "emb_sign_recall",
            "split" -> "sim_split_recall_eval",
            "trained" -> "sim_trained_recall_eval",
            "trainedsplit" -> "sim_split_trained_recall_eval")
          .map { case (m, q) => frontierLegSql(m, q) } :+
         // descent's refined columns renamed to the frontier contract
         ("SELECT 'nn_descent' AS method, n_truth, n_hit_ref AS n_hit, " +
          "recall_ref_micro AS recall_micro " +
          s"FROM (${oracleBase("sim_nn_descent_eval")}) f_nnd"))
         .mkString(" UNION ALL ") + " ORDER BY method")))
    .map { case (k, v) => k -> OracleHints.materializeCtes(v) }
}
