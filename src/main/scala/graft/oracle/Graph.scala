package graft.oracle

/** DuckDB reference SQL of the [[graft.ext.Graph]] queries. */
private[graft] object Graph {

  private def rankRound(prev: String, out: String): String =
    s"c$out AS (SELECT e.dst AS node, CAST(sum($prev.r // d.deg) AS BIGINT) AS c " +
      s"FROM e JOIN $prev ON e.src = $prev.node JOIN deg d ON e.src = d.node " +
      s"GROUP BY e.dst), " +
    s"$out AS (SELECT deg.node, 150000 + (85 * coalesce(c$out.c, 0)) // 100 AS r " +
      s"FROM deg LEFT JOIN c$out USING (node))"

  /** One synchronous label-prop round: majority vote of `labeled`
    * neighbors over still-unlabeled nodes (count desc, label asc) —
    * mirrors [[labelProp]]'s `round` in lockstep. */
  private def lpRound(labeled: String, out: String): String =
    s"v$out AS (SELECT und.u AS vec_id, l.label, count(*) AS n " +
    s"FROM und JOIN $labeled l ON und.v = l.vec_id " +
    s"WHERE und.u NOT IN (SELECT vec_id FROM $labeled) GROUP BY 1, 2), " +
    s"$out AS (SELECT vec_id, label FROM (SELECT v$out.*, row_number() OVER " +
    s"(PARTITION BY vec_id ORDER BY n DESC, label ASC) AS rn FROM v$out) r " +
    "WHERE rn = 1)"

  private def undCte: String =
    "und AS (SELECT a_id AS u, b_id AS v FROM mu " +
    "UNION ALL SELECT b_id, a_id FROM mu)"

  /** The CC closure + min-reachable labels as CTEs ending in `clab`
    * (vec_id, comp) — oracle mirror of [[components]]; shared by
    * graph_components and graph_component_sizes (names claimed:
    * creach/clab; requires WITH RECURSIVE at the head). */
  private def ccLabCte: String =
    "creach(u, v) AS (SELECT u, v FROM und " +
    "UNION SELECT cr.u, e2.v FROM creach cr JOIN und e2 ON cr.v = e2.u), " +
    "clab AS (SELECT e.vec_id, " +
    "least(e.vec_id, coalesce(min(cr.v), e.vec_id)) AS comp " +
    "FROM embeddings e LEFT JOIN creach cr ON cr.u = e.vec_id " +
    "GROUP BY e.vec_id)"

  /** One synchronous peel round over the survivor set `prev`:
    * degrees in the prev-induced subgraph, keep dg >= 2 — mirrors
    * [[kcore]]'s loop body in lockstep. */
  private def peelRound(prev: String, out: String): String =
    s"kd$out AS (SELECT und.u, count(*) AS dg FROM und " +
    s"JOIN $prev a ON und.u = a.u JOIN $prev b ON und.v = b.u " +
    "GROUP BY und.u), " +
    s"$out AS (SELECT u FROM kd$out WHERE dg >= 2)"

  /** One synchronous PPR round over the mutual graph: spread `r div
    * deg` along edges, re-inject the seed restart mass — mirrors
    * [[ppr]]'s loop body in lockstep (pp-prefixed names; all values
    * non-negative so `//` ≡ div). */
  private def pprRound(prev: String, out: String): String =
    s"pc$out AS (SELECT und.v AS node, CAST(sum($prev.r // pd.deg) AS BIGINT) AS c " +
    s"FROM und JOIN $prev ON und.u = $prev.node " +
    s"JOIN ppd pd ON und.u = pd.node GROUP BY und.v), " +
    s"$out AS (SELECT ppn.node, ppn.seed * 150000 + " +
    s"(85 * coalesce(pc$out.c, 0)) // 100 AS r " +
    s"FROM ppn LEFT JOIN pc$out ON ppn.node = pc$out.node)"

  /** One synchronous normalized power-iteration round: s(v) = Σ neighbor
    * mass, re-scaled to a 10⁶ ceiling by the round max — mirrors
    * [[eigenCentrality]]'s loop body in lockstep (eg-prefixed names;
    * all mass non-negative so `//` ≡ div). */
  private def ecRound(prev: String, out: String): String =
    s"egs$out AS (SELECT und.v AS node, CAST(sum(p.x) AS BIGINT) AS s " +
    s"FROM und JOIN $prev p ON und.u = p.node GROUP BY und.v), " +
    s"egm$out AS (SELECT CAST(max(s) AS BIGINT) AS mx FROM egs$out), " +
    s"$out AS (SELECT d.node, " +
    s"coalesce((egs$out.s * CAST(1000000 AS BIGINT)) // m.mx, 0) AS x " +
    s"FROM egd d LEFT JOIN egs$out ON d.node = egs$out.node, egm$out m)"

  /** One synchronous BFS hop: frontier = nodes at distance r-1, newly
    * reached nodes get distance r — mirrors [[bfsLayers]]'s loop body. */
  private def bfsRound(prev: String, out: String, r: Int): String =
    s"bfr$r AS (SELECT DISTINCT und.v AS vec_id FROM und " +
    s"JOIN $prev s ON und.u = s.vec_id AND s.d = ${r - 1}), " +
    s"$out AS (SELECT $prev.vec_id, coalesce($prev.d, " +
    s"CASE WHEN rr$r.vec_id IS NOT NULL THEN $r END) AS d " +
    s"FROM $prev LEFT JOIN bfr$r rr$r ON $prev.vec_id = rr$r.vec_id)"

  val sql: Map[String, String] = Map(
    // dh-prefixed; nodes-with-an-edge only (graph nodes, same universe
    // as kcore's kn0); nonneg micro division — lockstep with degreeHist
    "graph_degree_hist" ->
      (Similarity.knnMutualCteSql + ", " + undCte + ", " +
       "dhd AS (SELECT u, count(*) AS deg FROM und GROUP BY u), " +
       "dht AS (SELECT count(*) AS n_nodes FROM dhd) " +
       "SELECT deg, count(*) AS n, " +
       "CAST((count(*) * 1000000) // max(dht.n_nodes) AS BIGINT) AS share_micro " +
       "FROM dhd, dht GROUP BY deg ORDER BY deg"),
    // bf-prefixed CTE chain; seed literal 50 = n/10 at sf0.01 n=500
    // (adaptive-knob lockstep rule), 3 unrolled hops
    "graph_bfs_layers" ->
      (Similarity.knnMutualCteSql + ", " + undCte + ", " +
       "bf0 AS (SELECT vec_id, CASE WHEN vec_id < 50 THEN 0 END AS d " +
       "FROM embeddings), " +
       bfsRound("bf0", "bf1", 1) + ", " +
       bfsRound("bf1", "bf2", 2) + ", " +
       bfsRound("bf2", "bf3", 3) + " " +
       "SELECT vec_id, CAST(coalesce(d, -1) AS INTEGER) AS layer FROM bf3"),
    // kc-prefixed CTE chain; identical 3 unrolled peel rounds (k=2) +
    // the final-subgraph degree — lockstep with kcore()
    "graph_kcore" ->
      (Similarity.knnMutualCteSql + ", " + undCte + ", " +
       "kn0 AS (SELECT DISTINCT u FROM und), " +
       peelRound("kn0", "kn1") + ", " +
       peelRound("kn1", "kn2") + ", " +
       peelRound("kn2", "kn3") + ", " +
       "kdf AS (SELECT und.u, count(*) AS dg FROM und " +
       "JOIN kn3 a ON und.u = a.u JOIN kn3 b ON und.v = b.u " +
       "GROUP BY und.u) " +
       "SELECT kn0.u AS vec_id, " +
       "CAST(CASE WHEN s.u IS NOT NULL THEN 1 ELSE 0 END AS INTEGER) AS in_core, " +
       "CAST(coalesce(d.dg, 0) AS BIGINT) AS core_deg " +
       "FROM kn0 LEFT JOIN kn3 s ON kn0.u = s.u " +
       "LEFT JOIN kdf d ON kn0.u = d.u"),
    // cc-prefixed CTE names (knnMutualCteSql owns c/s/pr/probes/home/
    // m/bc/p/r/t/mu, undCte owns und — namespace rule); WITH RECURSIVE
    // must head the whole chain for the closure CTE. creach/clab are
    // single-sourced (ccLabCte) for graph_components AND its size
    // histogram.
    "graph_components" ->
      ("WITH RECURSIVE " +
       Similarity.knnMutualCteSql.stripPrefix("WITH ") + ", " + undCte + ", " +
       ccLabCte + " " +
       "SELECT vec_id, comp FROM clab"),
    // cz-prefixed tail over the SAME clab closure (single-sourced via
    // ccLabCte — labels and their histogram can't drift); non-negative
    // share division — lockstep with componentSizes
    "graph_component_sizes" ->
      ("WITH RECURSIVE " +
       Similarity.knnMutualCteSql.stripPrefix("WITH ") + ", " + undCte + ", " +
       ccLabCte + ", " +
       "czs AS (SELECT comp, count(*) AS sz FROM clab GROUP BY comp), " +
       "czt AS (SELECT count(*) AS n_comp FROM czs) " +
       "SELECT sz, count(*) AS n_components, " +
       "CAST((count(*) * 1000000) // max(czt.n_comp) AS BIGINT) " +
       "AS share_micro FROM czs, czt GROUP BY sz ORDER BY sz"),
    // both graph-on-similarity oracles compose Similarity.knnMutualCteSql
    // (the chain through `mu`) — the graph can never drift from the
    // sim_knn_mutual edges it consumes
    "graph_triangles" ->
      (Similarity.knnMutualCteSql + ", " + undCte + ", " +
       "dg AS (SELECT u, count(*) AS deg FROM und GROUP BY u), " +
       "o AS (SELECT und.u, und.v FROM und JOIN dg du ON und.u = du.u " +
       "JOIN dg dv ON und.v = dv.u " +
       "WHERE du.deg < dv.deg OR (du.deg = dv.deg AND und.u < und.v)), " +
       "wed AS (SELECT e1.u AS apex, e1.v AS x, e2.v AS y " +
       "FROM o e1 JOIN o e2 ON e1.u = e2.u AND e1.v < e2.v) " +
       "SELECT least(apex, x, y) AS x_id, " +
       "apex + x + y - least(apex, x, y) - greatest(apex, x, y) AS y_id, " +
       "greatest(apex, x, y) AS z_id FROM wed " +
       "JOIN mu ON mu.a_id = least(wed.x, wed.y) " +
       "AND mu.b_id = greatest(wed.x, wed.y)"),
    // da-prefixed; both orientations -> coincident marginals -> the
    // sqrt-free rational r; sign-split // (negative numerator when
    // disassortative) — lockstep with degreeAssort
    "graph_degree_assort" ->
      (Similarity.knnMutualCteSql + ", " + undCte + ", " +
       "dadg AS (SELECT u, count(*) AS deg FROM und GROUP BY u), " +
       "daj AS (SELECT dx.deg AS dx, dy.deg AS dy FROM und " +
       "JOIN dadg dx ON und.u = dx.u JOIN dadg dy ON und.v = dy.u), " +
       "das AS (SELECT count(*) AS n, CAST(sum(dx) AS BIGINT) AS sum_x, " +
       "CAST(sum(dx * dy) AS BIGINT) AS sum_xy, " +
       "CAST(sum(dx * dx) AS BIGINT) AS sum_x2 FROM daj) " +
       "SELECT n, sum_x, sum_xy, sum_x2, " +
       "CASE WHEN n * sum_x2 - sum_x * sum_x = 0 THEN CAST(0 AS BIGINT) " +
       "ELSE (CASE WHEN n * sum_xy - sum_x * sum_x < 0 THEN -1 ELSE 1 END) * " +
       "(abs(1000000 * (n * sum_xy - sum_x * sum_x)) // " +
       "(n * sum_x2 - sum_x * sum_x)) END AS r_micro FROM das"),
    // gm-prefixed; reuses the composed chain's `home` CTE (= the rn=1
    // home-cell assignment — unreferenced CTEs cost nothing, the
    // emb_cell_purity precedent); q_num = 4m·e_in − d_tot², q_micro by
    // the sign-split // form (negative numerators — CLAUDE.md rule)
    "graph_cell_modularity" ->
      (Similarity.knnMutualCteSql + ", " + undCte + ", " +
       "gmdg AS (SELECT u, count(*) AS deg FROM und GROUP BY u), " +
       "gmm AS (SELECT count(*) AS m FROM mu), " +
       "gme AS (SELECT ha.cell, count(*) AS e_in FROM mu " +
       "JOIN home ha ON mu.a_id = ha.vec_id " +
       "JOIN home hb ON mu.b_id = hb.vec_id " +
       "WHERE ha.cell = hb.cell GROUP BY ha.cell), " +
       "gmd AS (SELECT h.cell, count(*) AS n_nodes, " +
       "CAST(sum(d.deg) AS BIGINT) AS d_tot " +
       "FROM gmdg d JOIN home h ON d.u = h.vec_id GROUP BY h.cell), " +
       "gmq AS (SELECT d.cell, d.n_nodes, d.d_tot, " +
       "CAST(coalesce(e.e_in, 0) AS BIGINT) AS e_in, gmm.m " +
       "FROM gmd d LEFT JOIN gme e ON d.cell = e.cell, gmm) " +
       "SELECT cell, n_nodes, d_tot, e_in, " +
       "CAST(4 * m * e_in - d_tot * d_tot AS BIGINT) AS q_num, " +
       "(CASE WHEN 4 * m * e_in - d_tot * d_tot < 0 THEN -1 ELSE 1 END) * " +
       "(abs(1000000 * (4 * m * e_in - d_tot * d_tot)) // (4 * m * m)) AS q_micro " +
       "FROM gmq ORDER BY cell"),
    // cc-prefixed; wedges among each node's neighbors closed against
    // the a<b edge list; (2*T*1e6) div (deg*(deg-1)) nonneg — lockstep
    // with clusteringCoeff
    "graph_clustering_coeff" ->
      (Similarity.knnMutualCteSql + ", " + undCte + ", " +
       "ccdg AS (SELECT u, count(*) AS deg FROM und GROUP BY u), " +
       "ccwd AS (SELECT e1.u, e1.v AS x, e2.v AS y " +
       "FROM und e1 JOIN und e2 ON e1.u = e2.u AND e1.v < e2.v), " +
       "cctr AS (SELECT w.u, count(*) AS n_tri FROM ccwd w " +
       "JOIN mu ON mu.a_id = w.x AND mu.b_id = w.y GROUP BY w.u) " +
       "SELECT d.u AS vec_id, d.deg, " +
       "CAST(coalesce(t.n_tri, 0) AS BIGINT) AS n_tri, " +
       "CASE WHEN d.deg < 2 THEN CAST(0 AS BIGINT) " +
       "ELSE (2 * coalesce(t.n_tri, 0) * CAST(1000000 AS BIGINT)) " +
       "// (d.deg * (d.deg - 1)) END AS cc_micro " +
       "FROM ccdg d LEFT JOIN cctr t ON d.u = t.u ORDER BY vec_id"),
    "graph_common_neighbors" ->
      (Similarity.knnMutualCteSql + ", " + undCte + ", " +
       "cnw AS (SELECT e1.v AS x_id, e2.v AS y_id, count(*) AS cn " +
       "FROM und e1 JOIN und e2 ON e1.u = e2.u AND e1.v < e2.v " +
       "GROUP BY 1, 2) " +
       "SELECT c.x_id, c.y_id, c.cn FROM cnw c " +
       "LEFT JOIN mu ON mu.a_id = c.x_id AND mu.b_id = c.y_id " +
       "WHERE mu.a_id IS NULL"),
    // RA index: micro-unit 1000000 // deg mirrors resourceAlloc's div
    // (degrees positive — // == div); ra-prefixed CTE names because
    // knnMutualCteSql already defines r/t/mu (namespace rule)
    "graph_resource_alloc" ->
      (Similarity.knnMutualCteSql + ", " + undCte + ", " +
       "radg AS (SELECT u, count(*) AS deg FROM und GROUP BY u), " +
       "rawd AS (SELECT e1.v AS x_id, e2.v AS y_id, d.deg " +
       "FROM und e1 JOIN und e2 ON e1.u = e2.u AND e1.v < e2.v " +
       "JOIN radg d ON d.u = e1.u), " +
       "rap AS (SELECT x_id, y_id, count(*) AS cn, " +
       "CAST(sum(1000000 // deg) AS BIGINT) AS ra_micro " +
       "FROM rawd GROUP BY 1, 2) " +
       "SELECT p.x_id, p.y_id, p.cn, p.ra_micro FROM rap p " +
       "LEFT JOIN mu ON mu.a_id = p.x_id AND mu.b_id = p.y_id " +
       "WHERE mu.a_id IS NULL"),
    // AA index: micronized ln(deg) first (CLAUDE.md ln rule), then the
    // integer floor 1e12 // lnm — apex deg >= 2 so lnm >= 693147 and
    // // == div; aa-prefixed CTE names (knnMutualCteSql owns r/t/mu)
    "graph_adamic_adar" ->
      (Similarity.knnMutualCteSql + ", " + undCte + ", " +
       "aadg AS (SELECT u, count(*) AS deg FROM und GROUP BY u), " +
       "aaln AS (SELECT u, CAST(round(ln(CAST(deg AS DOUBLE)) * 1e6) AS BIGINT) AS lnm " +
       "FROM aadg), " +
       "aawd AS (SELECT e1.v AS x_id, e2.v AS y_id, d.lnm " +
       "FROM und e1 JOIN und e2 ON e1.u = e2.u AND e1.v < e2.v " +
       "JOIN aaln d ON d.u = e1.u), " +
       "aap AS (SELECT x_id, y_id, count(*) AS cn, " +
       "CAST(sum(1000000000000 // lnm) AS BIGINT) AS aa_micro " +
       "FROM aawd GROUP BY 1, 2) " +
       "SELECT p.x_id, p.y_id, p.cn, p.aa_micro FROM aap p " +
       "LEFT JOIN mu ON mu.a_id = p.x_id AND mu.b_id = p.y_id " +
       "WHERE mu.a_id IS NULL"),
    // Jaccard index: (cn·1e6) // (dx + dy − cn) — union ≥ cn ≥ 1 so
    // non-negative, // == div; ja-prefixed names
    "graph_jaccard_link" ->
      (Similarity.knnMutualCteSql + ", " + undCte + ", " +
       "jadg AS (SELECT u, count(*) AS deg FROM und GROUP BY u), " +
       "jaw AS (SELECT e1.v AS x_id, e2.v AS y_id, count(*) AS cn " +
       "FROM und e1 JOIN und e2 ON e1.u = e2.u AND e1.v < e2.v " +
       "GROUP BY 1, 2), " +
       "jap AS (SELECT w.x_id, w.y_id, w.cn, " +
       "CAST((w.cn * 1000000) // (dx.deg + dy.deg - w.cn) AS BIGINT) " +
       "AS jac_micro FROM jaw w " +
       "JOIN jadg dx ON dx.u = w.x_id JOIN jadg dy ON dy.u = w.y_id) " +
       "SELECT p.x_id, p.y_id, p.cn, p.jac_micro FROM jap p " +
       "LEFT JOIN mu ON mu.a_id = p.x_id AND mu.b_id = p.y_id " +
       "WHERE mu.a_id IS NULL"),
    // pp-prefixed unrolled rounds; seed literal 50 = n/10 at sf0.01
    // (adaptive-knob lockstep, same rule as graph_bfs_layers); seeds
    // start at 1e6 µ, restart mass 150000 on seeds only, damping
    // (85·c)//100 — all mirrored from ppr(); everything non-negative
    "graph_ppr" ->
      (Similarity.knnMutualCteSql + ", " + undCte + ", " +
       "ppd AS (SELECT u AS node, count(*) AS deg FROM und GROUP BY u), " +
       "ppn AS (SELECT node, deg, CASE WHEN node < 50 THEN 1 ELSE 0 END " +
       "AS seed FROM ppd), " +
       "pp0 AS (SELECT node, CAST(seed * 1000000 AS BIGINT) AS r FROM ppn), " +
       pprRound("pp0", "pp1") + ", " +
       pprRound("pp1", "pp2") + ", " +
       pprRound("pp2", "pp3") + " " +
       "SELECT ppn.node AS vec_id, ppn.deg, CAST(ppn.seed AS INTEGER) AS seed, " +
       "pp3.r AS ppr_micro FROM ppn JOIN pp3 USING (node) ORDER BY vec_id"),
    // lh-prefixed; HUGEINT squares, signed homophily numerator →
    // sign-split //; all-one-label CASE mirrored
    "graph_label_homophily" ->
      (Similarity.knnMutualCteSql + ", " +
       "lhe AS (SELECT mu.a_id, mu.b_id, x.label AS la, y.label AS lb " +
       "FROM mu JOIN embeddings x ON mu.a_id = x.vec_id " +
       "JOIN embeddings y ON mu.b_id = y.vec_id), " +
       "lho AS (SELECT count(*) AS n_edges, " +
       "CAST(sum(CASE WHEN la = lb THEN 1 ELSE 0 END) AS BIGINT) AS n_same " +
       "FROM lhe), " +
       "lhc AS (SELECT l, count(*) AS c FROM " +
       "(SELECT la AS l FROM lhe UNION ALL SELECT lb FROM lhe) lhu GROUP BY l), " +
       "lhx AS (SELECT CAST(sum(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) " +
       "AS HUGEINT) AS ssq, CAST(sum(c) AS HUGEINT) AS tot FROM lhc), " +
       "lhf AS (SELECT o.n_edges, o.n_same, " +
       "(o.n_same * CAST(1000000 AS BIGINT)) // o.n_edges AS obs_micro, " +
       "CAST((x.ssq * 1000000) // (x.tot * x.tot) AS BIGINT) AS exp_micro " +
       "FROM lho o, lhx x) " +
       "SELECT n_edges, n_same, obs_micro, exp_micro, " +
       "CASE WHEN exp_micro = 1000000 THEN CAST(1000000 AS BIGINT) " +
       "ELSE (CASE WHEN obs_micro - exp_micro < 0 THEN -1 ELSE 1 END) * " +
       "((abs(obs_micro - exp_micro) * 1000000) // (1000000 - exp_micro)) END " +
       "AS homophily_micro FROM lhf"),
    // h2-prefixed; union of 1-hop and wedge 2-hop, self excluded,
    // DISTINCT before the count
    "graph_2hop_reach" ->
      (Similarity.knnMutualCteSql + ", " + undCte + ", " +
       "h2d AS (SELECT u, count(*) AS deg FROM und GROUP BY u), " +
       "h2w AS (SELECT e1.u AS u, e2.v AS v FROM und e1 " +
       "JOIN und e2 ON e1.v = e2.u WHERE e1.u <> e2.v), " +
       "h2a AS (SELECT DISTINCT u, v FROM " +
       "(SELECT u, v FROM und UNION ALL SELECT u, v FROM h2w) t), " +
       "h2r AS (SELECT u, count(*) AS n_reach FROM h2a GROUP BY u) " +
       "SELECT d.u AS vec_id, d.deg, r.n_reach FROM h2d d " +
       "JOIN h2r r ON d.u = r.u ORDER BY vec_id"),
    // eg-prefixed unrolled rounds; x₀ = 1e6 per node, per-round s·1e6
    // // max re-normalization — all mirrored from eigenCentrality();
    // everything non-negative
    "graph_eigen_centrality" ->
      (Similarity.knnMutualCteSql + ", " + undCte + ", " +
       "egd AS (SELECT u AS node, count(*) AS deg FROM und GROUP BY u), " +
       "egr0 AS (SELECT node, CAST(1000000 AS BIGINT) AS x FROM egd), " +
       ecRound("egr0", "egr1") + ", " +
       ecRound("egr1", "egr2") + ", " +
       ecRound("egr2", "egr3") + " " +
       "SELECT d.node AS vec_id, d.deg, egr3.x AS ec_micro " +
       "FROM egd d JOIN egr3 ON d.node = egr3.node ORDER BY vec_id"),
    "graph_label_prop" ->
      (Similarity.knnMutualCteSql + ", " + undCte + ", " +
       "l0 AS (SELECT vec_id, label FROM embeddings WHERE vec_id < 250), " +
       lpRound("l0", "n1") + ", " +
       "l1 AS (SELECT * FROM l0 UNION ALL SELECT * FROM n1), " +
       lpRound("l1", "n2") + " " +
       "SELECT vec_id, label, CAST(1 AS INT) AS iter FROM n1 " +
       "UNION ALL SELECT vec_id, label, CAST(2 AS INT) AS iter FROM n2"),
    "graph_pagerank" ->
      ("WITH cs AS (SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS c, " +
       "'s' || CAST(l_suppkey AS VARCHAR) AS s " +
       "FROM lineitem JOIN orders ON l_orderkey = o_orderkey), " +
       "e AS (SELECT c AS src, s AS dst FROM cs " +
       "UNION ALL SELECT s AS src, c AS dst FROM cs), " +
       "deg AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY src), " +
       "r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM deg), " +
       rankRound("r0", "r1") + ", " + rankRound("r1", "r2") + ", " +
       rankRound("r2", "r3") + " " +
       "SELECT deg.node, deg.deg, r3.r AS rank_micro FROM deg JOIN r3 USING (node)"))
}
