package graft.oracle

import graft.ext.Dedup.P1
import graft.ext.TextOps._

/** DuckDB reference SQL of the [[graft.ext.TextOps]] queries. */
private[graft] object TextOps {

  private def sqlHits(ms: Seq[String]): String =
    ms.map(m => s"(CASE WHEN ' ' || text || ' ' LIKE '% $m %' THEN 1 ELSE 0 END)")
      .mkString(" + ")

  /** The contamination chain as namespaced CTEs ending in `ctm`
    * (doc_id, n_sh, n_hit, contam_pct) — the oracle mirror of
    * [[contamination]] at its default evalSource; shared by
    * text_contamination and the curation-funnel oracle ([[Curate]]).
    * CTE names are ct-prefixed so the chain composes next to the
    * Dedup shingle chain (whose `toks`/`sh0` carry hashed keys). */
  private[graft] def contaminationCteSql: String =
    contaminationCteSqlFor("ct", EvalSuites.head)

  /** Parametric form — prefix `p` namespaces EVERY CTE (so two suites
    * can compose in one WITH), `src` is the eval slice; the chain ends
    * in `<p>m`. The default ("ct", first suite) is what text_contamination
    * and the funnel consume as `ctm`. */
  private[graft] def contaminationCteSqlFor(p: String, src: String): String =
    s"${p}tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
    s"${p}sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS s " +
    s"FROM ${p}tk, UNNEST(range(1, greatest(len(t) - 3, 1))) AS u(i)), " +
    s"${p}ev AS (SELECT DISTINCT s FROM ${p}sh JOIN documents d USING (doc_id) " +
    s"WHERE d.source = '$src'), " +
    s"${p}base AS (SELECT ${p}sh.doc_id, ${p}sh.s FROM ${p}sh " +
    s"JOIN documents d USING (doc_id) WHERE d.source <> '$src'), " +
    s"${p}m AS (SELECT b.doc_id, count(*) AS n_sh, " +
    "CAST(sum(CASE WHEN e.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit, " +
    "round((100.0 * sum(CASE WHEN e.s IS NOT NULL THEN 1 ELSE 0 END) / count(*)) " +
    s"* 1e2) / 1e2 AS contam_pct " +
    s"FROM ${p}base b LEFT JOIN ${p}ev e ON b.s = e.s GROUP BY b.doc_id)"

  /** The quality gate's SQL condition — mirrors [[quality]]'s
    * `quality_ok` predicate; shared by text_stats_agg and the
    * curation-funnel oracle ([[Curate]]). */
  private[graft] val qualityOkCondSql: String =
    "len(string_split(text, ' ')) BETWEEN 10 AND 2000 " +
    "AND len(list_distinct(string_split(text, ' '))) >= 5"

  /** Per-doc marker-score inner select — shared by [[langidSql]] and the
    * curation-funnel oracle ([[Curate]]). */
  private[graft] def langScoresInnerSql: String = {
    val scores = langMarkers
      .map { case (l, ms) => s"${sqlHits(ms)} AS s_$l" }.mkString(", ")
    s"SELECT doc_id, lang, $scores FROM documents"
  }

  /** CASE priority chain over the s_* score columns: first lang whose
    * score >= all later langs — shared with the funnel oracle. */
  private[graft] def langPredCaseSql: String = {
    val langs = langMarkers.map(_._1)
    val branches = langs.zipWithIndex.init.map { case (l, i) =>
      val conds = langs.drop(i + 1).map(o => s"s_$l >= s_$o").mkString(" AND ")
      s"WHEN $conds THEN '$l'"
    }.mkString(" ")
    s"CASE $branches ELSE '${langs.last}' END"
  }

  /** The unigram-LM per-doc chain as CTEs ending in `pd` (doc_id,
    * n_tok, sum_lp_micro) — oracle mirror of [[unigramPerDoc]]; shared
    * by text_unigram_logprob and corpus_ppl_buckets (names claimed:
    * tk/cnt/tot/lp/pd). */
  private[graft] val unigramPdCteSql: String =
    "tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents), " +
    "cnt AS (SELECT tok, count(*) AS c FROM tk GROUP BY tok), " +
    "tot AS (SELECT sum(c) AS n FROM cnt), " +
    "lp AS (SELECT tok, CAST(round(ln(c / n) * 1e6) AS BIGINT) AS lpm FROM cnt, tot), " +
    "pd AS (SELECT tk.doc_id, count(*) AS n_tok, " +
    "CAST(sum(lp.lpm) AS BIGINT) AS sum_lp_micro FROM tk JOIN lp USING (tok) " +
    "GROUP BY tk.doc_id)"

  /** DSIR chain through `dwpd` (doc_id, n_tok, logratio_micro) —
    * shared by corpus_dsir_weights and corpus_dsir_select so the
    * measure and its apply can never drift. dw-prefixed names claimed;
    * target literal 'src0' and the Laplace/micro-nat discipline are
    * lockstep with [[dsirWeights]]. */
  private val dsirPdCteSql: String =
    "dwtk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok " +
    "FROM documents), " +
    "dwtg AS (SELECT doc_id FROM documents WHERE source = 'src0'), " +
    "dwcr AS (SELECT tok, count(*) AS cr FROM dwtk GROUP BY tok), " +
    "dwct AS (SELECT tok, count(*) AS ct FROM dwtk " +
    "JOIN dwtg USING (doc_id) GROUP BY tok), " +
    "dwk AS (SELECT (SELECT count(*) FROM dwcr) AS v, " +
    "(SELECT sum(cr) FROM dwcr) AS nr, " +
    "(SELECT count(*) FROM dwtk JOIN dwtg USING (doc_id)) AS nt), " +
    "dwlp AS (SELECT dwcr.tok, " +
    "CAST(round(ln((coalesce(dwct.ct, 0) + 1) / (dwk.nt + dwk.v)) * 1e6) AS BIGINT) - " +
    "CAST(round(ln((dwcr.cr + 1) / (dwk.nr + dwk.v)) * 1e6) AS BIGINT) AS dlt_micro " +
    "FROM dwcr LEFT JOIN dwct ON dwcr.tok = dwct.tok, dwk), " +
    "dwpd AS (SELECT dwtk.doc_id, count(*) AS n_tok, " +
    "CAST(sum(dwlp.dlt_micro) AS BIGINT) AS logratio_micro " +
    "FROM dwtk JOIN dwlp USING (tok) GROUP BY dwtk.doc_id)"

  private def cmsFoldSql(e: String, b: Long): String =
    s"list_reduce([CAST(0 AS BIGINT)] || list_transform(range(1, len($e)+1), " +
    s"cmi -> CAST(ascii(($e)[cmi]) AS BIGINT)), " +
    s"(cma, cmb) -> (cma*$b + cmb) % 1000003) % $CmsBuckets"

  /** text_cms_estimate oracle — per-base sketch/probe selects generated
    * from the SAME CmsBases list the Spark side folds with. */
  private def cmsOracleSql: String = {
    val sketch = CmsBases.zipWithIndex.map { case (b, j) =>
      s"SELECT $j AS row_j, ${cmsFoldSql("tok", b)} AS bucket FROM cmt"
    }.mkString(" UNION ALL ")
    val probes = CmsBases.zipWithIndex.map { case (b, j) =>
      s"SELECT term, $j AS row_j, ${cmsFoldSql("term", b)} AS bucket FROM cmv"
    }.mkString(" UNION ALL ")
    val termsList = CmsProbeTerms.map(t => s"('$t')").mkString(", ")
    val termsIn = CmsProbeTerms.map(t => s"'$t'").mkString(", ")
    "WITH cmt AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents), " +
    s"cmv AS (SELECT term FROM (VALUES $termsList) t(term)), " +
    s"cmh AS ($sketch), " +
    "cmc AS (SELECT row_j, bucket, count(*) AS cnt FROM cmh GROUP BY 1, 2), " +
    s"cmp AS ($probes), " +
    "cme AS (SELECT cmp.term, CAST(min(coalesce(cmc.cnt, 0)) AS BIGINT) AS est_c " +
    "FROM cmp LEFT JOIN cmc USING (row_j, bucket) GROUP BY 1), " +
    s"cmtr AS (SELECT tok AS term, count(*) AS true_c FROM cmt " +
    s"WHERE tok IN ($termsIn) GROUP BY 1) " +
    "SELECT cme.term, CAST(coalesce(cmtr.true_c, 0) AS BIGINT) AS true_c, " +
    "cme.est_c FROM cme LEFT JOIN cmtr USING (term) ORDER BY term"
  }

  private def langidSql: String = {
    val langs = langMarkers.map(_._1)
    s"SELECT doc_id, ${langs.map(l => s"s_$l").mkString(", ")}, " +
      s"$langPredCaseSql AS predicted, " +
      s"CAST(($langPredCaseSql) = lang AS INTEGER) AS is_correct " +
      s"FROM ($langScoresInnerSql) t"
  }

  /** Oracle mirror of [[boilerplate]] — the >1-member prefix groups;
    * shared by text_boilerplate and the curation-funnel oracle. */
  private[graft] val boilerplateGroupsSql: String =
    "SELECT pfx, count(*) AS n_docs, min(doc_id) AS keep_doc FROM (" +
    "SELECT doc_id, array_to_string(string_split(text, ' ')[1:8], ' ') AS pfx " +
    "FROM documents) p GROUP BY pfx HAVING count(*) > 1"

  /** The mixture-plan oracle chain through `j` (source, n_docs,
    * n_tokens, rate_micro) — shared by corpus_mixture_plan and
    * corpus_mixture_apply. All quantities non-negative, so DuckDB //
    * (floor) == Spark div (truncate); the budget is [[mixturePlan]]'s
    * default MixtureBudget. */
  private val mixturePlanCteSql: String =
    "ps AS (SELECT source, count(*) AS n_docs, " +
    "CAST(sum(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) " +
    "AS n_tokens FROM documents GROUP BY source), " +
    "n AS (SELECT count(*) AS n_src FROM ps), " +
    "j AS (SELECT ps.source, ps.n_docs, ps.n_tokens, " +
    "least(CAST(1000000 AS BIGINT), " +
    s"((CAST($MixtureBudget AS BIGINT) // n.n_src) * CAST(1000000 AS BIGINT)) " +
    "// ps.n_tokens) AS rate_micro FROM ps CROSS JOIN n)"

  /** The shared training-chain CTE body (wc → s0 → a_r/t_r/s_r per
    * round) composed by BOTH bpe oracles — single-sourced so a round
    * count or tie-break change moves them together. CTE names wc, s0,
    * and the per-round a/t/s families belong to this chain (namespace
    * rule). */
  private def bpeChainCteSql: String = bpeChainCteSqlFor(BpeRounds)

  /** The chain at an arbitrary round count — the sweep oracle composes
    * a longer unroll of the SAME generator, so a recipe change moves
    * every BPE oracle together. */
  private def bpeChainCteSqlFor(nRounds: Int): String = {
    val rounds = (1 to nRounds).map { r =>
      s"a$r AS (SELECT w, c, pos, sym, " +
      "lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt, " +
      s"lag(sym) OVER (PARTITION BY w ORDER BY pos) AS prv FROM s${r - 1}), " +
      s"t$r AS (SELECT sym AS ma, nxt AS mb, CAST(sum(c) AS BIGINT) AS pc " +
      s"FROM a$r WHERE nxt IS NOT NULL AND sym <> nxt GROUP BY 1, 2 " +
      "ORDER BY pc DESC, ma ASC, mb ASC LIMIT 1), " +
      s"s$r AS (SELECT s.w, s.c, s.pos, " +
      "CASE WHEN s.sym = t.ma AND s.nxt = t.mb THEN s.sym || t.mb " +
      "ELSE s.sym END AS sym " +
      s"FROM a$r s CROSS JOIN t$r t " +
      "WHERE NOT (s.sym = t.mb AND coalesce(s.prv, '') = t.ma))"
    }.mkString(", ")
    "wc AS (SELECT w, count(*) AS c FROM (" +
    "SELECT unnest(string_split(text, ' ')) AS w FROM documents) t GROUP BY w), " +
    "s0 AS (SELECT w, c, i AS pos, a[i] AS sym FROM (" +
    "SELECT w, c, regexp_extract_all(w, '.') AS a FROM wc) q, " +
    "UNNEST(range(1, len(a)+1)) AS p(i)), " +
    rounds
  }

  /** [[bpeMerges]] oracle — same unrolled rounds, same tie-break, same
    * a ≠ b restriction and NULL-safe prv guard; each round's top-1 is a
    * LIMIT 1 CTE cross-joined into the rewrite exactly as the Spark
    * side broadcasts it. */
  private def bpeOracleSql: String =
    "WITH " + bpeChainCteSql + " " +
    (1 to BpeRounds)
      .map(r => s"SELECT $r AS round, ma AS a, mb AS b, pc AS pair_count FROM t$r")
      .mkString(" UNION ALL ")

  /** [[bpeApply]] oracle — the same chain through s{BpeRounds}, folded
    * to the |vocab|-row model table, joined to the exploded corpus. */
  private def bpeApplyOracleSql: String =
    "WITH " + bpeChainCteSql + ", " +
    s"wn AS (SELECT w, CAST(count(*) AS BIGINT) AS n_sym FROM s$BpeRounds " +
    "GROUP BY w), " +
    "dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w " +
    "FROM documents) " +
    "SELECT dw.doc_id, CAST(count(*) AS BIGINT) AS n_ws_tok, " +
    "CAST(sum(wn.n_sym) AS BIGINT) AS n_bpe_tok " +
    "FROM dw JOIN wn ON dw.w = wn.w GROUP BY dw.doc_id"

  /** [[bpeFertility]] oracle — the same chain folded per SOURCE
    * (bf-prefixed names, disjoint from bpeApply's `wn`/`dw`); savings
    * non-negative ⇒ // ≡ div, len ≡ length under the ASCII invariant. */
  private def bpeFertilityOracleSql: String =
    "WITH " + bpeChainCteSql + ", " +
    s"bfw AS (SELECT w, CAST(count(*) AS BIGINT) AS n_sym FROM s$BpeRounds " +
    "GROUP BY w), " +
    "bfd AS (SELECT source, unnest(string_split(text, ' ')) AS w " +
    "FROM documents) " +
    "SELECT source, CAST(count(*) AS BIGINT) AS n_words, " +
    "CAST(sum(n_sym) AS BIGINT) AS n_syms, " +
    "CAST(sum(len(w)) AS BIGINT) AS n_chars, " +
    "(CAST(sum(n_sym) AS BIGINT) * 1000000) // CAST(count(*) AS BIGINT) " +
    "AS fertility_micro, " +
    "((CAST(sum(len(w)) AS BIGINT) - CAST(sum(n_sym) AS BIGINT)) * 1000000) " +
    "// CAST(sum(len(w)) AS BIGINT) AS savings_micro " +
    "FROM bfd JOIN bfw USING (w) GROUP BY source ORDER BY source"

  /** The sweep CURVE as a composable CTE chain ending in `bscurve`
    * (bs-prefixed read-out CTEs over the [[bpeChainCteSqlFor]] unroll;
    * the chain's own wc/s0/a·t·s names are claimed by the generator),
    * one global symbol-count read per prefix, n_chars = the round-0
    * count. Shared by [[bpeSweepOracleSql]] and the [[bpePick]] oracle
    * — the curve the chooser reads can never drift from the reported
    * one. */
  private def bpeSweepCtesSql: String = {
    val snaps = (0 to BpeSweepRounds).map { r =>
      s"bs$r AS (SELECT CAST(sum(c) AS BIGINT) AS n_syms FROM s$r)"
    }.mkString(", ")
    val rows = (0 to BpeSweepRounds).map { r =>
      s"SELECT CAST($r AS INTEGER) AS rounds, bsw.n_words, bs$r.n_syms, " +
      "bsc.n_chars, " +
      s"(bs$r.n_syms * 1000000) // bsw.n_words AS fertility_micro, " +
      s"((bsc.n_chars - bs$r.n_syms) * 1000000) // bsc.n_chars " +
      s"AS savings_micro FROM bs$r CROSS JOIN bsw CROSS JOIN bsc"
    }.mkString(" UNION ALL ")
    bpeChainCteSqlFor(BpeSweepRounds) + ", " +
    "bsw AS (SELECT CAST(sum(c) AS BIGINT) AS n_words FROM wc), " +
    "bsc AS (SELECT CAST(sum(c) AS BIGINT) AS n_chars FROM s0), " +
    snaps + ", bscurve AS (" + rows + ")"
  }

  private def bpeSweepOracleSql: String =
    "WITH " + bpeSweepCtesSql + " " +
    "SELECT rounds, n_words, n_syms, n_chars, fertility_micro, " +
    "savings_micro FROM bscurve ORDER BY rounds"

  /** [[bpePick]] oracle — a bp-prefixed chooser tail over the SAME
    * `bscurve` chain; target literal = [[BpeFertilityTarget]],
    * sentinels mirrored (fail-closed fertility 1e9, rounds −1). */
  private def bpePickOracleSql: String =
    "WITH " + bpeSweepCtesSql + ", " +
    "bpq AS (SELECT min(rounds) AS cr FROM bscurve " +
    s"WHERE fertility_micro <= $BpeFertilityTarget), " +
    "bpj AS (SELECT q.cr, c.n_syms, c.fertility_micro, c.savings_micro " +
    "FROM bpq q LEFT JOIN bscurve c ON q.cr = c.rounds) " +
    s"SELECT CAST($BpeFertilityTarget AS BIGINT) AS target_micro, " +
    "CAST(CASE WHEN cr IS NULL THEN 0 ELSE 1 END AS INTEGER) AS qualified, " +
    "COALESCE(cr, CAST(-1 AS INTEGER)) AS chosen_rounds, " +
    "COALESCE(n_syms, CAST(0 AS BIGINT)) AS n_syms, " +
    "COALESCE(fertility_micro, CAST(1000000000 AS BIGINT)) " +
    "AS fertility_micro, " +
    "COALESCE(savings_micro, CAST(0 AS BIGINT)) AS savings_micro FROM bpj"

  /** Winnowing fingerprint chain (wn-prefixed CTE names): gram hashes →
    * packed rightmost-min window selection → fingerprint rows, over
    * [[winnowHashes]]/[[winnow]]'s [[WinK]], [[WinW]], [[P1]] and
    * [[WinPack]]. */
  private def winnowCteSql: String =
    "wnt AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
    s"wng AS (SELECT doc_id, CAST(len(t) - ${WinK - 1} AS BIGINT) AS ng, " +
    s"CAST(i AS BIGINT) AS p, array_to_string(t[i:i+${WinK - 1}], ' ') AS g " +
    s"FROM wnt, UNNEST(range(1, len(t) - ${WinK - 2})) AS u(i) WHERE len(t) >= $WinK), " +
    "wnh AS (SELECT doc_id, ng, p, " +
    "list_reduce([CAST(0 AS BIGINT)] || list_transform(range(1, len(g)+1), " +
    s"i -> CAST(ascii(g[i]) AS BIGINT)), (a,b) -> (a*31 + b) % $P1) AS h " +
    "FROM wng), " +
    "wnm AS (SELECT doc_id, ng, p, " +
    s"min(h * $WinPack + ($WinPack - p)) OVER (PARTITION BY doc_id ORDER BY p " +
    s"ROWS BETWEEN CURRENT ROW AND ${WinW - 1} FOLLOWING) AS kmin FROM wnh), " +
    s"wns AS (SELECT DISTINCT doc_id, $WinPack - (kmin % $WinPack) AS fp_p " +
    s"FROM wnm WHERE p <= ng - ${WinW - 1}), " +
    "wnf AS (SELECT s.doc_id, CAST(s.fp_p AS BIGINT) AS fp_p, h.h AS fp_h " +
    "FROM wns s JOIN wnh h ON s.doc_id = h.doc_id AND s.fp_p = h.p)"

  /** Gopher-gate DuckDB fragments — single source for the
    * text_gopher_gates oracle AND the NB trainer's label CTE (the
    * round-7 shared-fragment rule: gate literals live ONCE per engine).
    * n_tok/n_ns/n_alpha cast to INTEGER (DuckDB len/length are BIGINT
    * where Spark size/length are INT). */
  private def gopherMwlSql: String =
    "CASE WHEN n_tok > 0 THEN CAST(n_ns AS BIGINT) * 100 // n_tok " +
    "ELSE CAST(0 AS BIGINT) END"

  private def gopherAlphaSql: String =
    "CASE WHEN n_ns > 0 THEN CAST(n_alpha AS BIGINT) * 100 // n_ns " +
    "ELSE CAST(0 AS BIGINT) END"

  private def gopherCondSql: String =
    s"n_tok BETWEEN 20 AND 100000 " +
    s"AND ($gopherMwlSql) BETWEEN 300 AND 1000 " +
    s"AND ($gopherAlphaSql) >= 70 " +
    "AND n_stop >= 2"

  private def gopherInnerSql: String =
    "SELECT doc_id, " +
    "CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tok, " +
    "CAST(length(replace(text, ' ', '')) AS INTEGER) AS n_ns, " +
    "CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS INTEGER) AS n_alpha, " +
    "(CASE WHEN ' ' || text || ' ' LIKE '% the %' THEN 1 ELSE 0 END) + " +
    "(CASE WHEN ' ' || text || ' ' LIKE '% a %' THEN 1 ELSE 0 END) + " +
    "(CASE WHEN ' ' || text || ' ' LIKE '% to %' THEN 1 ELSE 0 END) + " +
    "(CASE WHEN ' ' || text || ' ' LIKE '% of %' THEN 1 ELSE 0 END) + " +
    "(CASE WHEN ' ' || text || ' ' LIKE '% and %' THEN 1 ELSE 0 END) AS n_stop " +
    "FROM documents"

  /** [[featureHash]] over the VARCHAR column `tok`: PolyHashMod(tok,
    * 31, P1) as a DuckDB fold. */
  private val featureHashSql: String =
    "list_reduce([CAST(0 AS BIGINT)] || list_transform(range(1, len(tok)+1), " +
    s"i -> CAST(ascii((tok)[i]) AS BIGINT)), (a,b) -> (a*31 + b) % $P1)"

  /** NB-trainer CTE chain (qlab/qtk/qtb/qcnt/qfull/qtot/qw — qt/q
    * prefix, disjoint from every other chain) — shared VERBATIM by
    * text_quality_train and text_quality_score_trained (lockstep pair).
    * Mirrors [[qualityTrain]]: gopher labels, PolyHashMod(31, 1e9+7)
    * mod-64 buckets, Laplace(+1) counts over a 64-row scaffold, each ln
    * rounded to micro-nats BEFORE the BIGINT log-odds arithmetic. */
  // private[graft]: Dedup's quality-aware survivor oracle composes it
  // with the cluster chain (dedup_keep_best)
  private[graft] def qualityTrainCteSql: String =
    s"qlab AS (SELECT doc_id, CAST($gopherCondSql AS INTEGER) AS y " +
    s"FROM ($gopherInnerSql) t), " +
    "qtk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents), " +
    s"qtb AS (SELECT doc_id, $featureHashSql % 64 AS b FROM qtk), " +
    "qcnt AS (SELECT b, " +
    "CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos, " +
    "CAST(sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg " +
    "FROM qtb JOIN qlab USING (doc_id) GROUP BY b), " +
    "qfull AS (SELECT CAST(i AS BIGINT) AS bucket, " +
    "coalesce(n_pos, CAST(0 AS BIGINT)) AS n_pos, " +
    "coalesce(n_neg, CAST(0 AS BIGINT)) AS n_neg " +
    "FROM UNNEST(range(0, 64)) AS u(i) LEFT JOIN qcnt ON i = b), " +
    "qtot AS (SELECT CAST(sum(n_pos) AS BIGINT) AS tp, " +
    "CAST(sum(n_neg) AS BIGINT) AS tn FROM qfull), " +
    "qw AS (SELECT bucket, n_pos, n_neg, " +
    "CAST(round(ln(n_pos + 1) * 1e6) AS BIGINT) - " +
    "CAST(round(ln(tp + 64) * 1e6) AS BIGINT) - " +
    "CAST(round(ln(n_neg + 1) * 1e6) AS BIGINT) + " +
    "CAST(round(ln(tn + 64) * 1e6) AS BIGINT) AS w_micro " +
    "FROM qfull, qtot)"

  val sql: Map[String, String] = Map(
    "text_winnow" ->
      (s"WITH $winnowCteSql " +
       "SELECT doc_id, fp_p, fp_h FROM wnf ORDER BY doc_id, fp_p"),
    // fingerprint chain verbatim + DF cap [[Dedup.MaxShingleDf]] +
    // shared-count self-join — lockstep with winnowPairs
    "dedup_winnow_pairs" ->
      (s"WITH $winnowCteSql, " +
       "wnd AS (SELECT DISTINCT doc_id, fp_h FROM wnf), " +
       "wnr AS (SELECT fp_h FROM wnd GROUP BY fp_h " +
       s"HAVING count(DISTINCT doc_id) <= ${graft.ext.Dedup.MaxShingleDf}), " +
       "wnk AS (SELECT d.doc_id, d.fp_h FROM wnd d JOIN wnr USING (fp_h)) " +
       "SELECT a.doc_id AS a_id, b.doc_id AS b_id, " +
       "CAST(count(*) AS BIGINT) AS n_shared " +
       "FROM wnk a JOIN wnk b ON a.fp_h = b.fp_h AND a.doc_id < b.doc_id " +
       "GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY a_id, b_id"),
    "text_url_parse" ->
      ("SELECT doc_id, 'https://' || source || '.example.com/docs/' || doc_id " +
       "|| '?lang=' || lang AS url, " +
       "source || '.example.com' AS host, " +
       "'/docs/' || doc_id AS path, " +
       "'lang=' || lang AS query, " +
       "CAST(source || '.example.com' IN ('src0.example.com', " +
       "'src1.example.com', 'src2.example.com') AS INTEGER) AS domain_kept " +
       "FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL " +
       "AND doc_id IS NOT NULL"),
    "text_bm25" ->
      // fractional literals that multiply INTEGER columns are CAST to
      // DOUBLE: DuckDB would otherwise compute tf*2.2 in exact DECIMAL,
      // diverging from Spark's double product at the ulp level
      ("WITH dl AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents), " +
       "tf AS (SELECT doc_id, tok, count(*) AS tf FROM (" +
       "SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) t " +
       s"WHERE tok IN (${Bm25Terms.map(t => s"'$t'").mkString(", ")}) " +
       "GROUP BY doc_id, tok), " +
       "dfq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok), " +
       "st AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS n_toks FROM dl), " +
       "sc AS (SELECT tf.doc_id, CAST(round(" +
       "(round((ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (CAST(df AS DOUBLE) + 0.5))) * 1e6) / 1e6) " +
       "* ((tf * CAST(2.2 AS DOUBLE)) / (tf + CAST(1.2 AS DOUBLE) * " +
       "(0.25 + 0.75 * (CAST(dl.dl AS DOUBLE) / (CAST(n_toks AS DOUBLE) / n_docs))))) " +
       "* 1e6) AS BIGINT) AS sc_micro " +
       "FROM tf JOIN dfq USING (tok) JOIN dl USING (doc_id) CROSS JOIN st), " +
       "pd AS (SELECT doc_id, count(*) AS n_hit, " +
       "CAST(sum(sc_micro) AS BIGINT) AS score_micro FROM sc GROUP BY doc_id), " +
       "top AS (SELECT * FROM pd ORDER BY score_micro DESC, doc_id LIMIT 10) " +
       "SELECT doc_id, n_hit, score_micro, " +
       "CAST(score_micro AS DOUBLE) / 1e6 AS score, " +
       "CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id) AS INTEGER) AS rn " +
       "FROM top"),
    // multi-query BM25: the literal VALUES table mirrors Bm25Queries
    // (keep in lockstep); df/dl/avgdl shared across queries, per-query
    // top-k; same CAST-to-DOUBLE literal + 6-dp-ln discipline as above
    "text_bm25_multi" ->
      ("WITH qt AS (SELECT * FROM (VALUES " + Bm25Queries.flatMap { case (q, ts) =>
         ts.map(t => s"($q, '$t')") }.mkString(", ") + ") AS t(query_id, tok)), " +
       "dl AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents), " +
       "tf AS (SELECT doc_id, tok, count(*) AS tf FROM (" +
       "SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) t " +
       "WHERE tok IN (SELECT tok FROM qt) GROUP BY doc_id, tok), " +
       "dfq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok), " +
       "st AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS n_toks FROM dl), " +
       "sc AS (SELECT qt.query_id, tf.doc_id, CAST(round(" +
       "(round((ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (CAST(df AS DOUBLE) + 0.5))) * 1e6) / 1e6) " +
       "* ((tf * CAST(2.2 AS DOUBLE)) / (tf + CAST(1.2 AS DOUBLE) * " +
       "(0.25 + 0.75 * (CAST(dl.dl AS DOUBLE) / (CAST(n_toks AS DOUBLE) / n_docs))))) " +
       "* 1e6) AS BIGINT) AS sc_micro " +
       "FROM tf JOIN qt USING (tok) JOIN dfq USING (tok) JOIN dl USING (doc_id) CROSS JOIN st), " +
       "pd AS (SELECT query_id, doc_id, count(*) AS n_hit, " +
       "CAST(sum(sc_micro) AS BIGINT) AS score_micro FROM sc GROUP BY query_id, doc_id) " +
       "SELECT query_id, doc_id, n_hit, score_micro, " +
       "CAST(score_micro AS DOUBLE) / 1e6 AS score, rn FROM (" +
       "SELECT *, CAST(row_number() OVER (PARTITION BY query_id " +
       "ORDER BY score_micro DESC, doc_id) AS INTEGER) AS rn FROM pd) " +
       "WHERE rn <= 10"),
    "text_boilerplate" -> boilerplateGroupsSql,
    "text_bpe_merges" -> bpeOracleSql,
    "text_bpe_apply" -> bpeApplyOracleSql,
    "text_bpe_fertility" -> bpeFertilityOracleSql,
    "text_bpe_sweep" -> bpeSweepOracleSql,
    "text_bpe_pick" -> bpePickOracleSql,
    // exact-integer KS: cross-multiplied CDF compare, divide only the
    // final micro ratio (all quantities non-negative: // == div)
    "text_ks_drift" ->
      ("WITH klv AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS len, " +
       "CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS isa FROM documents), " +
       "kg AS (SELECT len, CAST(sum(isa) AS BIGINT) AS ca, " +
       "CAST(sum(1 - isa) AS BIGINT) AS cb FROM klv GROUP BY len), " +
       "kc AS (SELECT len, sum(ca) OVER (ORDER BY len " +
       "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f1, " +
       "sum(cb) OVER (ORDER BY len " +
       "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f2 FROM kg), " +
       "kt AS (SELECT CAST(sum(isa) AS BIGINT) AS n_a, " +
       "CAST(sum(1 - isa) AS BIGINT) AS n_b FROM klv), " +
       "km AS (SELECT CAST(max(abs(f1 * n_b - f2 * n_a)) AS BIGINT) AS d_num " +
       "FROM kc CROSS JOIN kt) " +
       "SELECT kt.n_a, kt.n_b, km.d_num, " +
       "(km.d_num * CAST(1000000 AS BIGINT)) // (kt.n_a * kt.n_b) AS ks_micro " +
       "FROM km CROSS JOIN kt"),
    "text_zipf" ->
      ("WITH cnt AS (SELECT tok, count(*) AS c FROM (" +
       "SELECT unnest(string_split(text, ' ')) AS tok FROM documents) t GROUP BY tok), " +
       "r AS (SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS rn FROM cnt), " +
       "q AS (SELECT CAST(round(ln(CAST(rn AS DOUBLE)) * 1e6) AS BIGINT) AS x, " +
       "CAST(round(ln(CAST(c AS DOUBLE)) * 1e6) AS BIGINT) AS y FROM r), " +
       // sums stay HUGEINT (no BIGINT cast): k*sxy passes 2^63 past a
       // few hundred vocab tokens — mirrors Spark's DECIMAL(38,0)
       "s AS (SELECT count(*) AS k, sum(x) AS sx, sum(y) AS sy, " +
       "sum(x * y) AS sxy, sum(x * x) AS sxx FROM q) " +
       "SELECT k, round((CAST(k * sxy - sx * sy AS DOUBLE) / " +
       "CAST(k * sxx - sx * sx AS DOUBLE)) * 1e6) / 1e6 AS zipf_slope FROM s"),
    "text_pmi" ->
      ("WITH dt AS (SELECT DISTINCT doc_id, tok FROM (" +
       "SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) t), " +
       "n AS (SELECT count(DISTINCT doc_id) AS n FROM dt), " +
       "cx AS (SELECT tok, count(*) AS cx FROM dt GROUP BY tok), " +
       "pr AS (SELECT a.tok AS x, b.tok AS y, count(*) AS cxy " +
       "FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.tok < b.tok " +
       "GROUP BY a.tok, b.tok), " +
       "sc AS (SELECT pr.x, pr.y, pr.cxy, CAST(round(" +
       "ln(CAST(pr.cxy * n.n AS DOUBLE) / (cx1.cx * cx2.cx)) * 1e6) AS BIGINT) AS pmi_micro " +
       "FROM pr JOIN cx cx1 ON pr.x = cx1.tok JOIN cx cx2 ON pr.y = cx2.tok CROSS JOIN n), " +
       "top AS (SELECT * FROM sc ORDER BY pmi_micro DESC, x, y LIMIT 20) " +
       "SELECT x, y, cxy, pmi_micro, " +
       "CAST(row_number() OVER (ORDER BY pmi_micro DESC, x, y) AS INTEGER) AS rn " +
       "FROM top"),
    // sg-prefixed; ±2-position directed pairs, PMI over the pair joint
    // with its own marginals; ratio formed in doubles with the IDENTICAL
    // cast-multiply-divide order (cxy·T overflows BIGINT at scale), ln
    // micronized once; window 2 / top-20 literals — lockstep with
    // skipgramPmi
    "text_skipgram_pmi" ->
      ("WITH sgp AS (SELECT doc_id, CAST(u.i AS INTEGER) AS pos, " +
       "toks[CAST(u.i AS INTEGER)] AS tok FROM (SELECT doc_id, " +
       "string_split(text, ' ') AS toks FROM documents) sgd, " +
       "UNNEST(range(1, len(toks)+1)) AS u(i)), " +
       "sgc AS (SELECT a.tok AS x, b.tok AS y, count(*) AS cxy " +
       "FROM sgp a JOIN sgp b ON a.doc_id = b.doc_id " +
       "AND b.pos > a.pos AND b.pos <= a.pos + 2 GROUP BY 1, 2), " +
       "sgt AS (SELECT CAST(sum(cxy) AS BIGINT) AS t FROM sgc), " +
       "sgx AS (SELECT x, CAST(sum(cxy) AS BIGINT) AS cxl FROM sgc GROUP BY x), " +
       "sgy AS (SELECT y, CAST(sum(cxy) AS BIGINT) AS cyr FROM sgc GROUP BY y), " +
       "sgs AS (SELECT c.x, c.y, c.cxy, " +
       "CAST(round(ln(CAST(c.cxy AS DOUBLE) * CAST(t.t AS DOUBLE) / " +
       "(CAST(mx.cxl AS DOUBLE) * CAST(my.cyr AS DOUBLE))) * 1e6) AS BIGINT) " +
       "AS pmi_micro FROM sgc c JOIN sgx mx ON mx.x = c.x " +
       "JOIN sgy my ON my.y = c.y CROSS JOIN sgt t), " +
       "sgk AS (SELECT * FROM sgs ORDER BY pmi_micro DESC, x, y LIMIT 20) " +
       "SELECT x, y, cxy, pmi_micro, " +
       "CAST(row_number() OVER (ORDER BY pmi_micro DESC, x, y) AS INTEGER) " +
       "AS rn FROM sgk"),
    "text_entropy" ->
      ("WITH tk AS (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents), " +
       "cnt AS (SELECT source, tok, count(*) AS c FROM tk GROUP BY source, tok), " +
       "tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n, count(*) AS vocab " +
       "FROM cnt GROUP BY source), " +
       "t AS (SELECT cnt.source, tot.n, tot.vocab, " +
       "cnt.c * CAST(round(ln(cnt.c / tot.n) * 1e6) AS BIGINT) AS clpm " +
       "FROM cnt JOIN tot USING (source)) " +
       "SELECT source, n AS n_tok, vocab, " +
       "round((-CAST(sum(clpm) AS DOUBLE) / (n * 1e6)) * 1e6) / 1e6 AS entropy " +
       "FROM t GROUP BY source, n, vocab ORDER BY source"),
    "dedup_url" ->
      // the oracle rebuilds raw AND canonical from the construction —
      // ground truth for the parse_url + normalize path, not a second
      // parser
      ("WITH u AS (SELECT doc_id, " +
       "'h' || CAST((doc_id // 4) % 7 AS VARCHAR) || '.example.com/docs/' || " +
       "CAST(doc_id // 4 AS VARCHAR) AS canon, " +
       "CASE doc_id % 4 " +
       "WHEN 0 THEN 'https://h' || CAST((doc_id // 4) % 7 AS VARCHAR) || '.example.com/docs/' || CAST(doc_id // 4 AS VARCHAR) " +
       "WHEN 1 THEN 'https://H' || CAST((doc_id // 4) % 7 AS VARCHAR) || '.EXAMPLE.COM/docs/' || CAST(doc_id // 4 AS VARCHAR) " +
       "WHEN 2 THEN 'https://h' || CAST((doc_id // 4) % 7 AS VARCHAR) || '.example.com/docs/' || CAST(doc_id // 4 AS VARCHAR) || '/' " +
       "ELSE 'https://h' || CAST((doc_id // 4) % 7 AS VARCHAR) || '.example.com/docs/' || CAST(doc_id // 4 AS VARCHAR) || '?utm_source=feed#frag' " +
       "END AS url " +
       "FROM documents WHERE doc_id IS NOT NULL) " +
       "SELECT canon, count(*) AS n_dups, min(doc_id) AS keep_doc, " +
       "count(DISTINCT url) AS n_variants FROM u GROUP BY canon"),
    "text_bigram_logprob" ->
      ("WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
       // parallel unnests expand in positional lockstep: (t[i], t[i+1])
       "bg AS (SELECT doc_id, unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2 FROM tk), " +
       "uni AS (SELECT unnest(t) AS tok FROM tk), " +
       "c1 AS (SELECT tok AS w1, count(*) AS c1 FROM uni GROUP BY tok), " +
       "vc AS (SELECT count(DISTINCT tok) AS v FROM uni), " +
       "c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2), " +
       "lp AS (SELECT c2.w1, c2.w2, CAST(round(" +
       "ln((CAST(c2 AS DOUBLE) + 1.0) / (c1 + v)) * 1e6) AS BIGINT) AS lpm " +
       "FROM c2 JOIN c1 USING (w1) CROSS JOIN vc) " +
       "SELECT bg.doc_id, count(*) AS n_bi, " +
       "CAST(sum(lp.lpm) AS BIGINT) AS sum_lp_micro, " +
       "round((CAST(sum(lp.lpm) AS DOUBLE) / (count(*) * 1e6)) * 1e6) / 1e6 AS avg_lp " +
       "FROM bg JOIN lp ON bg.w1 = lp.w1 AND bg.w2 = lp.w2 " +
       "GROUP BY bg.doc_id"),
    "corpus_quantile_select" ->
      ("WITH d AS (SELECT source, doc_id, len(text) AS n_char FROM documents), " +
       "r AS (SELECT source, doc_id, n_char, " +
       "row_number() OVER (PARTITION BY source ORDER BY n_char, doc_id) AS rn, " +
       "count(*) OVER (PARTITION BY source) AS cnt FROM d), " +
       "m AS (SELECT source, CAST(n_char AS INTEGER) AS med_chars " +
       "FROM r WHERE rn = (cnt + 1) // 2) " +
       "SELECT d.source, m.med_chars, count(*) AS n_docs, " +
       "CAST(sum(CASE WHEN d.n_char >= m.med_chars THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, " +
       "round((100.0 * CAST(sum(CASE WHEN d.n_char >= m.med_chars THEN 1 ELSE 0 END) " +
       "AS DOUBLE) / count(*)) * 1e2) / 1e2 AS kept_pct " +
       "FROM d JOIN m USING (source) GROUP BY d.source, m.med_chars ORDER BY d.source"),
    "corpus_split" ->
      ("SELECT source, CASE WHEN b < 80 THEN 'train' " +
       "WHEN b < 90 THEN 'validation' ELSE 'test' END AS split, " +
       "count(*) AS n_docs FROM (SELECT source, " +
       s"${Similarity.saltOrdSql("doc_id")} % 100 AS b FROM documents) t " +
       "GROUP BY source, split ORDER BY source, split"),
    "text_unigram_logprob" ->
      (s"WITH $unigramPdCteSql " +
       "SELECT doc_id, n_tok, sum_lp_micro, " +
       "round((CAST(sum_lp_micro AS DOUBLE) / (n_tok * 1e6)) * 1e6) / 1e6 AS avg_lp, " +
       "CAST(round((CAST(sum_lp_micro AS DOUBLE) / (n_tok * 1e6)) * 1e6) / 1e6 >= -3.42 " +
       "AS INTEGER) AS keep FROM pd"),
    // CCNet buckets: composes the unigramPdCteSql chain (tk/cnt/tot/lp/
    // pd names claimed) with the langScores/langPredCase fragments; the
    // NLL is ONE double division + negation (exactly-rounded → ranking
    // order engine-identical), rank rule 3·rn ≤ nd / 2·nd in lockstep
    // with pplBuckets, row_number cast to INTEGER (CLAUDE.md)
    "corpus_ppl_buckets" ->
      (s"WITH $unigramPdCteSql, " +
       s"ppl AS (SELECT doc_id, $langPredCaseSql AS plang " +
       s"FROM ($langScoresInnerSql) t), " +
       "ppj AS (SELECT pd.doc_id, ppl.plang, pd.n_tok, " +
       "-(CAST(pd.sum_lp_micro AS DOUBLE) / (pd.n_tok * 1e6)) AS nll " +
       "FROM pd JOIN ppl USING (doc_id)), " +
       "ppr AS (SELECT ppj.*, CAST(row_number() OVER (PARTITION BY plang " +
       "ORDER BY nll ASC, doc_id ASC) AS INTEGER) AS rn, " +
       "count(*) OVER (PARTITION BY plang) AS nd FROM ppj) " +
       "SELECT doc_id, plang, n_tok, round((nll) * 1e6) / 1e6 AS avg_nll, rn, " +
       "CASE WHEN rn * 3 <= nd THEN 'head' WHEN rn * 3 <= nd * 2 THEN 'middle' " +
       "ELSE 'tail' END AS bucket FROM ppr"),
    // DSIR: dw-prefixed chain; target literal 'src0', Laplace (c+1)/
    // (n+|V|) over the SHARED corpus vocab, each ln rounded at 6 dp
    // into micro-nats BEFORE the per-token difference (CLAUDE.md ln
    // rule) — all lockstep with dsirWeights
    "corpus_dsir_weights" ->
      (s"WITH $dsirPdCteSql " +
       "SELECT doc_id, n_tok, logratio_micro, " +
       "CAST(CASE WHEN logratio_micro > 0 THEN 1 ELSE 0 END AS INTEGER) AS keep " +
       "FROM dwpd ORDER BY doc_id"),
    // apply half: per-SOURCE rank + running token count under
    // dsirSelect's DsirBudget; row_number cast to INTEGER
    "corpus_dsir_select" ->
      (s"WITH $dsirPdCteSql, " +
       "dssrc AS (SELECT doc_id, source FROM documents), " +
       "dsr AS (SELECT s.source, p.doc_id, p.n_tok, p.logratio_micro, " +
       "CAST(row_number() OVER w AS INTEGER) AS rn, " +
       "CAST(sum(p.n_tok) OVER w AS BIGINT) AS cum_tok " +
       "FROM dwpd p JOIN dssrc s USING (doc_id) " +
       "WINDOW w AS (PARTITION BY s.source " +
       "ORDER BY p.logratio_micro DESC, p.doc_id ASC ROWS UNBOUNDED PRECEDING)) " +
       "SELECT source, doc_id, rn, n_tok, cum_tok, logratio_micro, " +
       s"CAST(CASE WHEN cum_tok <= $DsirBudget THEN 1 ELSE 0 END AS INTEGER) AS selected " +
       "FROM dsr ORDER BY source, rn"),
    // vo-prefixed; (inter·1e6) // (v_a + v_b − inter) non-negative so
    // // ≡ div; src_a < src_b unordered pairs — lockstep with
    // vocabOverlap
    "text_vocab_overlap" ->
      ("WITH vot AS (SELECT DISTINCT source, tok FROM (SELECT source, " +
       "unnest(string_split(text, ' ')) AS tok FROM documents) voq), " +
       "voz AS (SELECT source, count(*) AS v FROM vot GROUP BY source), " +
       "voi AS (SELECT a.source AS src_a, b.source AS src_b, " +
       "count(*) AS inter FROM vot a JOIN vot b " +
       "ON a.tok = b.tok AND a.source < b.source GROUP BY 1, 2) " +
       "SELECT i.src_a, i.src_b, za.v AS v_a, zb.v AS v_b, i.inter, " +
       "CAST((i.inter * 1000000) // (za.v + zb.v - i.inter) AS BIGINT) " +
       "AS jac_micro FROM voi i " +
       "JOIN voz za ON za.source = i.src_a " +
       "JOIN voz zb ON zb.source = i.src_b " +
       "ORDER BY src_a, src_b"),
    // kd-prefixed; source × shared-vocab grid, Laplace (c+1)/(n+|V|)
    // smoothing, each ln micronized BEFORE the difference (ln rule),
    // num = Σ (c_s+1)·Δln exact BIGINT; the one division uses the
    // sign-split floor form (num can round a hair negative) — all
    // jd-prefixed; lockstep with jsdDrift — mixture ln from exact
    // integer rationals (aB+bA over 2AB), each ln micronized FIRST;
    // trailing divisions sign-split (near-identical sources can round
    // a hair negative)
    "text_jsd_drift" ->
      ("WITH jdtk AS (SELECT source, unnest(string_split(text, ' ')) AS tok " +
       "FROM documents), " +
       "jdcr AS (SELECT tok, count(*) AS cr FROM jdtk GROUP BY tok), " +
       "jdk AS (SELECT (SELECT count(*) FROM jdcr) AS v, " +
       "(SELECT CAST(sum(cr) AS BIGINT) FROM jdcr) AS nr), " +
       "jdns AS (SELECT source, count(*) AS ns FROM jdtk GROUP BY source), " +
       "jdcs AS (SELECT source, tok, count(*) AS cs FROM jdtk GROUP BY 1, 2), " +
       "jdt AS (SELECT s.source, s.ns, k.v, " +
       "(coalesce(x.cs, 0) + 1) AS a, (c.cr + 1) AS b, " +
       "(s.ns + k.v) AS aa, (k.nr + k.v) AS bb " +
       "FROM jdcr c CROSS JOIN jdns s " +
       "LEFT JOIN jdcs x ON x.source = s.source AND x.tok = c.tok, jdk k), " +
       "jdd AS (SELECT source, ns, v, aa, bb, a, b, " +
       "CAST(round(ln(a*bb + b*aa) * 1e6) AS BIGINT) - " +
       "CAST(round(ln(2*aa*bb) * 1e6) AS BIGINT) AS lnmd, " +
       "CAST(round(ln(a) * 1e6) AS BIGINT) AS lna, " +
       "CAST(round(ln(b) * 1e6) AS BIGINT) AS lnb, " +
       "CAST(round(ln(aa) * 1e6) AS BIGINT) AS lnaa, " +
       "CAST(round(ln(bb) * 1e6) AS BIGINT) AS lnbb FROM jdt), " +
       "jda AS (SELECT source, CAST(max(ns) AS BIGINT) AS n_tok, " +
       "CAST(max(v) AS BIGINT) AS n_vocab, " +
       "CAST(max(aa) AS BIGINT) AS aa, CAST(max(bb) AS BIGINT) AS bb, " +
       "CAST(sum(CAST(a AS BIGINT) * (lna - lnaa - lnmd)) AS BIGINT) AS num_pm, " +
       "CAST(sum(CAST(b AS BIGINT) * (lnb - lnbb - lnmd)) AS BIGINT) AS num_qm " +
       "FROM jdd GROUP BY source), " +
       "jdf AS (SELECT source, n_tok, n_vocab, num_pm, num_qm, " +
       "(CASE WHEN num_pm < 0 THEN -1 ELSE 1 END) * (abs(num_pm) // aa) AS kl_pm_micro, " +
       "(CASE WHEN num_qm < 0 THEN -1 ELSE 1 END) * (abs(num_qm) // bb) AS kl_qm_micro " +
       "FROM jda) " +
       "SELECT source, n_tok, n_vocab, num_pm, num_qm, kl_pm_micro, kl_qm_micro, " +
       "(CASE WHEN kl_pm_micro + kl_qm_micro < 0 THEN -1 ELSE 1 END) * " +
       "(abs(kl_pm_micro + kl_qm_micro) // 2) AS jsd_micro " +
       "FROM jdf ORDER BY source"),
    // lq-prefixed; ceil-rank (q·n+99)//100 under the (n_tok, doc_id)
    // order — the time_value_quantiles discipline on token counts
    "text_len_quantiles" ->
      ("WITH lqr AS (SELECT source, " +
       "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok, " +
       "row_number() OVER (PARTITION BY source " +
       "ORDER BY len(string_split(text, ' ')), doc_id) AS rn, " +
       "count(*) OVER (PARTITION BY source) AS n FROM documents) " +
       "SELECT source, CAST(max(n) AS BIGINT) AS n_docs, " +
       "max(CASE WHEN rn = (n * 50 + 99) // 100 THEN n_tok END) AS p50_tok, " +
       "max(CASE WHEN rn = (n * 90 + 99) // 100 THEN n_tok END) AS p90_tok, " +
       "max(CASE WHEN rn = (n * 99 + 99) // 100 THEN n_tok END) AS p99_tok " +
       "FROM lqr GROUP BY source ORDER BY source"),
    // vg-prefixed; cut literals lockstep with VocabGrowthCuts
    "corpus_vocab_growth" ->
      ("WITH vgc AS (SELECT CAST(cut AS BIGINT) AS cut FROM " +
       s"(VALUES ${VocabGrowthCuts.map(c => s"($c)").mkString(", ")}) t(cut)), " +
       "vgtk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok " +
       "FROM documents), " +
       "vgfd AS (SELECT tok, min(doc_id) AS fd FROM vgtk GROUP BY tok), " +
       "vgv AS (SELECT c.cut, count(*) AS n_vocab FROM vgfd f " +
       "JOIN vgc c ON f.fd < c.cut GROUP BY c.cut), " +
       "vgdt AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) " +
       "AS nt FROM documents), " +
       "vgt AS (SELECT c.cut, count(*) AS n_docs, " +
       "CAST(sum(d.nt) AS BIGINT) AS n_tok FROM vgdt d " +
       "JOIN vgc c ON d.doc_id < c.cut GROUP BY c.cut) " +
       "SELECT t.cut, t.n_docs, t.n_tok, CAST(v.n_vocab AS BIGINT) AS n_vocab, " +
       "(CAST(v.n_vocab AS BIGINT) * CAST(1000000 AS BIGINT)) // t.n_tok " +
       "AS ttr_micro FROM vgt t JOIN vgv v ON t.cut = v.cut ORDER BY t.cut"),
    // tv-prefixed; all shares non-negative so // == div
    "text_ttr" ->
      ("WITH tvc AS (SELECT doc_id, tok, count(*) AS c FROM (" +
       "SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) t " +
       "GROUP BY 1, 2), " +
       "tva AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tok, " +
       "CAST(count(*) AS BIGINT) AS n_types, " +
       "CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax " +
       "FROM tvc GROUP BY 1) " +
       "SELECT doc_id, n_tok, n_types, n_hapax, " +
       "(n_types * CAST(1000000 AS BIGINT)) // n_tok AS ttr_micro, " +
       "(n_hapax * CAST(1000000 AS BIGINT)) // n_tok AS hapax_micro " +
       "FROM tva ORDER BY doc_id"),
    // shp-prefixed; shard = saltOrd(doc_id) mod NumShards (the Knuth scramble
    // the sampling family mirrors); dev is SIGNED → sign-split //
    "corpus_shard_plan" ->
      ("WITH shpd AS (SELECT doc_id, " +
       s"CAST(${Similarity.saltOrdSql("doc_id")} % $NumShards AS INTEGER) AS shard, " +
       "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents), " +
       "shps AS (SELECT shard, count(*) AS n_docs, " +
       "CAST(sum(n_tok) AS BIGINT) AS shard_tok FROM shpd GROUP BY shard), " +
       "shpt AS (SELECT CAST(sum(shard_tok) AS BIGINT) AS tot FROM shps) " +
       "SELECT shard, n_docs, shard_tok, " +
       "(shard_tok * CAST(1000000 AS BIGINT)) // tot AS share_micro, " +
       s"(CASE WHEN shard_tok * CAST(${NumShards * 1000000} AS BIGINT) - tot * 1000000 < 0 " +
       "THEN -1 ELSE 1 END) * " +
       s"(abs(shard_tok * CAST(${NumShards * 1000000} AS BIGINT) - tot * 1000000) // tot) AS dev_micro " +
       "FROM shps, shpt ORDER BY shard"),
    // lockstep with klDrift
    "text_kl_drift" ->
      ("WITH kdtk AS (SELECT source, unnest(string_split(text, ' ')) AS tok " +
       "FROM documents), " +
       "kdcr AS (SELECT tok, count(*) AS cr FROM kdtk GROUP BY tok), " +
       "kdk AS (SELECT (SELECT count(*) FROM kdcr) AS v, " +
       "(SELECT CAST(sum(cr) AS BIGINT) FROM kdcr) AS nr), " +
       "kdns AS (SELECT source, count(*) AS ns FROM kdtk GROUP BY source), " +
       "kdcs AS (SELECT source, tok, count(*) AS cs FROM kdtk GROUP BY 1, 2), " +
       "kdt AS (SELECT s.source, s.ns, (coalesce(x.cs, 0) + 1) AS csp, " +
       "CAST(round(ln((coalesce(x.cs, 0) + 1) / (s.ns + kdk.v)) * 1e6) AS BIGINT) - " +
       "CAST(round(ln((c.cr + 1) / (kdk.nr + kdk.v)) * 1e6) AS BIGINT) AS dlt " +
       "FROM kdcr c CROSS JOIN kdns s " +
       "LEFT JOIN kdcs x ON x.source = s.source AND x.tok = c.tok, kdk), " +
       "kda AS (SELECT source, CAST(max(ns) AS BIGINT) AS n_tok, " +
       "CAST(sum(CAST(csp AS BIGINT) * dlt) AS BIGINT) AS num " +
       "FROM kdt GROUP BY source) " +
       "SELECT a.source, a.n_tok, CAST(k.v AS BIGINT) AS n_vocab, a.num, " +
       "(CASE WHEN a.num < 0 THEN -1 ELSE 1 END) * " +
       "(abs(a.num) // (a.n_tok + k.v)) AS kl_micro " +
       "FROM kda a, kdk k ORDER BY source"),
    "text_quality_model" ->
      ("WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents), " +
       s"th AS (SELECT doc_id, $featureHashSql AS h FROM tk), " +
       "ag AS (SELECT doc_id, count(*) AS n_tok, " +
       "CAST(sum((((h % 64) * 37) % 21) - 10) AS BIGINT) AS score FROM th GROUP BY doc_id) " +
       "SELECT doc_id, n_tok, score, " +
       "round((CAST(score AS DOUBLE) / n_tok) * 1e6) / 1e6 AS score_per_tok, " +
       "CAST(score > 0 AS INTEGER) AS keep FROM ag"),
    "text_dup_span_frac" ->
      ("WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
       "sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+7], ' ') AS s " +
       "FROM toks, UNNEST(range(1, greatest(len(t) - 6, 1))) AS u(i)), " +
       "dfq AS (SELECT s, count(*) AS df FROM sh GROUP BY s), " +
       "pd AS (SELECT sh.doc_id, count(*) AS n_sh, " +
       "CAST(sum(CASE WHEN dfq.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup " +
       "FROM sh JOIN dfq USING (s) GROUP BY sh.doc_id) " +
       "SELECT d.doc_id, CAST(coalesce(pd.n_sh, 0) AS BIGINT) AS n_sh, " +
       "CAST(coalesce(pd.n_dup, 0) AS BIGINT) AS n_dup, " +
       "CASE WHEN coalesce(pd.n_sh, 0) = 0 THEN 0.0 " +
       "ELSE round((CAST(pd.n_dup AS DOUBLE) / pd.n_sh) * 1e6) / 1e6 END AS dup_frac, " +
       "CAST((CASE WHEN coalesce(pd.n_sh, 0) = 0 THEN 0.0 " +
       "ELSE round((CAST(pd.n_dup AS DOUBLE) / pd.n_sh) * 1e6) / 1e6 END) <= 0.5 " +
       "AS INTEGER) AS keep FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id"),
    // exact semantics: the MG sketch only screens candidates (provably
    // complete above the threshold); the confirmed result equals the
    // plain exact query
    "text_heavy_hitters" ->
      ("WITH tk AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents), " +
       "n AS (SELECT count(*) AS n_total FROM tk), " +
       "c AS (SELECT tok, count(*) AS cnt FROM tk GROUP BY tok) " +
       "SELECT tok, cnt, n_total FROM c, n WHERE cnt * 64 > n_total"),
    "corpus_mixture_plan" ->
      (s"WITH $mixturePlanCteSql " +
       "SELECT source, n_docs, n_tokens, rate_micro, " +
       "(n_tokens * rate_micro) // CAST(1000000 AS BIGINT) AS planned_tokens " +
       "FROM j"),
    // epj tail over the SHARED mixture chain's ps/n (j unreferenced —
    // free); uncapped epochs + pass/tail split; MixtureBudget and the
    // > 4-epoch flag; all nonneg so // ≡ div, % ≡ %
    "corpus_epoch_plan" ->
      (s"WITH $mixturePlanCteSql, " +
       "epj AS (SELECT ps.source, ps.n_docs, ps.n_tokens, " +
       s"CAST($MixtureBudget AS BIGINT) // n.n_src AS share_tokens " +
       "FROM ps CROSS JOIN n) " +
       "SELECT source, n_docs, n_tokens, share_tokens, " +
       "(share_tokens * CAST(1000000 AS BIGINT)) // n_tokens AS epochs_micro, " +
       "share_tokens // n_tokens AS n_full_passes, " +
       "share_tokens % n_tokens AS tail_tokens, " +
       "CAST((share_tokens * CAST(1000000 AS BIGINT)) // n_tokens > 4000000 " +
       "AS INTEGER) AS over_repeat " +
       "FROM epj ORDER BY source"),
    // the plan chain verbatim + the Knuth-scramble rate gate (lockstep
    // with mixtureApply's saltOrd % 1e6 < rate_micro)
    "corpus_mixture_apply" ->
      (s"WITH $mixturePlanCteSql " +
       "SELECT d.doc_id, d.source, j.rate_micro " +
       "FROM documents d JOIN j ON d.source = j.source " +
       s"WHERE ${Similarity.saltOrdSql("d.doc_id")} % 1000000 " +
       "< j.rate_micro"),
    "text_temperature_sample" ->
      ("WITH bysrc AS (SELECT source, count(*) AS c, " +
       "round((sqrt(count(*))) * 1e6) / 1e6 AS w0 FROM documents GROUP BY source), " +
       "tot AS (SELECT sum(w0) AS tw FROM bysrc), " +
       "q AS (SELECT source, CAST(floor(200 * (round((w0 / tw) * 1e6) / 1e6)) " +
       "AS BIGINT) AS quota FROM bysrc, tot), " +
       "r AS (SELECT source, doc_id, row_number() OVER (PARTITION BY source " +
       "ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn FROM documents) " +
       "SELECT r.source, r.doc_id, CAST(r.rn AS INTEGER) AS rn, q.quota " +
       "FROM r JOIN q USING (source) WHERE r.rn <= q.quota"),
    "text_pack" ->
      ("SELECT doc_id, source, n_tok, start_off, start_off // 512 AS seq_id " +
       "FROM (SELECT doc_id, source, " +
       "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok, " +
       "CAST(coalesce(sum(len(string_split(text, ' '))) OVER (" +
       "PARTITION BY source ORDER BY doc_id " +
       "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) " +
       "AS start_off FROM documents) t"),
    // shares text_pack's cumulative-offset form; candidate lengths
    // PackSeqLens, as packReport
    "corpus_pack_report" ->
      ("WITH pkb AS (SELECT doc_id, source, " +
       "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok, " +
       "CAST(coalesce(sum(len(string_split(text, ' '))) OVER (" +
       "PARTITION BY source ORDER BY doc_id " +
       "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) " +
       "AS start_off FROM documents), " +
       s"pkl AS (SELECT unnest([${PackSeqLens.mkString(", ")}]) AS seq_len), " +
       "pka AS (SELECT source, seq_len, count(*) AS n_docs, " +
       "CAST(sum(n_tok) AS BIGINT) AS n_tokens, " +
       "CAST(sum(CASE WHEN n_tok > 0 AND " +
       "(start_off + n_tok - 1) // seq_len <> start_off // seq_len " +
       "THEN 1 ELSE 0 END) AS BIGINT) AS n_split " +
       "FROM pkb CROSS JOIN pkl GROUP BY source, seq_len) " +
       "SELECT source, CAST(seq_len AS INTEGER) AS seq_len, n_docs, n_tokens, " +
       "(n_tokens + seq_len - 1) // seq_len AS n_seqs, " +
       "((n_tokens + seq_len - 1) // seq_len) * seq_len - n_tokens AS tail_waste, " +
       "n_split, " +
       "CASE WHEN n_docs > 0 THEN n_split * 1000000 // n_docs " +
       "ELSE CAST(0 AS BIGINT) END AS split_micro FROM pka"),
    "text_contamination" ->
      s"WITH $contaminationCteSql SELECT doc_id, n_sh, n_hit, contam_pct FROM ctm",
    // one suite chain per EvalSuites entry, composed in ONE WITH via
    // disjoint prefixes (ct/cu), tagged like contaminationMulti
    "text_contamination_multi" -> {
      val chains = EvalSuites.zip(Seq("ct", "cu"))
      "WITH " + chains.map { case (s, p) => contaminationCteSqlFor(p, s) }
        .mkString(", ") + " " + chains.map { case (s, p) =>
          s"SELECT '$s' AS suite, doc_id, n_sh, n_hit, contam_pct FROM ${p}m"
        }.mkString(" UNION ALL ")
    },
    "text_pii_scan" ->
      ("SELECT doc_id, n_email, n_phone, n_ssn, n_word, " +
       "CAST(n_email + n_phone + n_ssn > 0 AS INTEGER) AS has_pii FROM (" +
       "SELECT doc_id, " +
       s"CAST(len(regexp_extract_all(text, '$PiiEmail')) AS INTEGER) AS n_email, " +
       s"CAST(len(regexp_extract_all(text, '$PiiPhone')) AS INTEGER) AS n_phone, " +
       s"CAST(len(regexp_extract_all(text, '$PiiSsn')) AS INTEGER) AS n_ssn, " +
       "CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS INTEGER) AS n_word " +
       "FROM documents) t"),
    // CMS: the SAME deterministic PolyHashMod fold per base (CLAUDE.md
    // portable-hash pattern — BIGINT seed cast required), 4×64 sketch,
    // min-over-rows estimate; bases/buckets/probe terms lockstep with
    // CmsBases/CmsBuckets/CmsProbeTerms
    "text_cms_estimate" -> cmsOracleSql,
    // coverage cut points {10,100,1000} capped at |vocab|, (c desc,
    // tok asc) rank order, nonneg micro division — lockstep with
    // ngramCoverage; row_number cast INT (CLAUDE.md)
    "text_ngram_coverage" ->
      ("WITH ncc AS (SELECT tok, count(*) AS c FROM (SELECT " +
       "unnest(string_split(text, ' ')) AS tok FROM documents) t GROUP BY tok), " +
       "ncr AS (SELECT CAST(row_number() OVER " +
       "(ORDER BY c DESC, tok ASC) AS INTEGER) AS rk, " +
       "CAST(sum(c) OVER (ORDER BY c DESC, tok ASC " +
       "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum " +
       "FROM ncc), " +
       "ntot AS (SELECT CAST(sum(c) AS BIGINT) AS total, " +
       "count(*) AS vocab FROM ncc) " +
       "SELECT v.k, ntot.vocab, ntot.total, ncr.cum AS covered, " +
       "CAST((ncr.cum * 1000000) // ntot.total AS BIGINT) AS coverage_micro " +
       "FROM (VALUES (10), (100), (1000)) AS v(k), ntot " +
       "JOIN ncr ON ncr.rk = least(v.k, ntot.vocab) ORDER BY v.k"),
    // composes the langScores/langPredCase fragments (lockstep with
    // text_langid and corpus_ppl_buckets)
    "text_lang_confusion" ->
      (s"SELECT lang, $langPredCaseSql AS predicted, count(*) AS n " +
       s"FROM ($langScoresInnerSql) t GROUP BY 1, 2 ORDER BY lang, predicted"),
    // temperature τ=0.5 token budgeting: √n_tokens micronized to BIGINT
    // BEFORE summing (order-invariant), TokenBudget and all nonneg
    // `//` ≡ div divisions as tokenBudgetMix; sqrt
    // is IEEE-exactly-rounded so both engines micronize identical values
    "corpus_token_budget" ->
      ("WITH tbp AS (SELECT source, count(*) AS n_docs, " +
       "CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens " +
       "FROM documents GROUP BY source), " +
       "tbw AS (SELECT source, n_docs, n_tokens, " +
       "CAST(round(sqrt(CAST(n_tokens AS DOUBLE)) * 1e6) AS BIGINT) " +
       "AS weight_micro FROM tbp), " +
       "tbs AS (SELECT CAST(sum(weight_micro) AS BIGINT) AS tw FROM tbw) " +
       "SELECT source, n_docs, n_tokens, weight_micro, " +
       s"CAST(($TokenBudget * weight_micro) // tw AS BIGINT) AS planned_tokens, " +
       s"CAST(((($TokenBudget * weight_micro) // tw) * 1000000) // n_tokens " +
       "AS BIGINT) AS epochs_micro FROM tbw, tbs ORDER BY source"),
    // composes boilerplateGroupsSql (the >1-member template families);
    // slice semantics proven equal: list[9:] on short lists → empty →
    // '' on both engines; split('') is 1-element on both, hence the
    // shared empty-string → 0 token-count CASE — lockstep with
    // boilerplateStrip
    "text_boilerplate_strip" ->
      (s"WITH bsg AS ($boilerplateGroupsSql), " +
       "bsd AS (SELECT doc_id, text, " +
       "array_to_string(string_split(text, ' ')[1:8], ' ') AS pfx FROM documents), " +
       "bsk AS (SELECT d.doc_id, CASE WHEN g.pfx IS NOT NULL THEN " +
       "array_to_string(string_split(d.text, ' ')[9:], ' ') ELSE d.text END " +
       "AS kept_text, CASE WHEN g.pfx IS NOT NULL THEN 1 ELSE 0 END AS stripped " +
       "FROM bsd d LEFT JOIN bsg g ON d.pfx = g.pfx) " +
       "SELECT doc_id, kept_text, CAST(stripped AS INTEGER) AS stripped, " +
       "CAST(CASE WHEN kept_text = '' THEN 0 ELSE " +
       "len(string_split(kept_text, ' ')) END AS INTEGER) AS n_tok_after " +
       "FROM bsk"),
    // inject → count → replace mirrored exactly (injection literals,
    // replacement order email → SSN → phone, 'g' flag = Spark's
    // replace-all default); len()/strlen cast to INTEGER per CLAUDE.md
    "text_pii_redact" ->
      ("WITH pii2 AS (SELECT doc_id, CASE " +
       "WHEN doc_id % 10 = 0 THEN text || ' reach user' || " +
       "CAST(doc_id AS VARCHAR) || '@mail.example.com or 555-123-4567' " +
       "WHEN doc_id % 10 = 5 THEN text || ' ssn 123-45-6789 on file' " +
       "ELSE text END AS t2 FROM documents) " +
       "SELECT doc_id, " +
       s"CAST(len(regexp_extract_all(t2, '$PiiEmail')) AS INTEGER) AS n_email, " +
       s"CAST(len(regexp_extract_all(t2, '$PiiPhone')) AS INTEGER) AS n_phone, " +
       s"CAST(len(regexp_extract_all(t2, '$PiiSsn')) AS INTEGER) AS n_ssn, " +
       s"regexp_replace(regexp_replace(regexp_replace(t2, '$PiiEmail', " +
       "'<EMAIL>', 'g'), '" + PiiSsn + "', '<SSN>', 'g'), '" + PiiPhone +
       "', '<PHONE>', 'g') AS redacted, " +
       s"CAST(strlen(regexp_replace(regexp_replace(regexp_replace(t2, " +
       s"'$PiiEmail', '<EMAIL>', 'g'), '$PiiSsn', '<SSN>', 'g'), " +
       s"'$PiiPhone', '<PHONE>', 'g')) AS INTEGER) AS redacted_len " +
       "FROM pii2"),
    "text_chunk" ->
      ("SELECT doc_id, chunk_idx, chunk, CAST(length(chunk) AS INTEGER) AS chunk_len " +
       "FROM (SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx, " +
       "substr(text, CAST(i * 160 + 1 AS INTEGER), 200) AS chunk " +
       "FROM documents, UNNEST(range(0, (length(text) - 1) // 160 + 1)) AS u(i) " +
       "WHERE length(text) > 0) t"),
    "text_tfidf" ->
      ("WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok " +
       "FROM documents), " +
       "tf AS (SELECT doc_id, tok, count(*) AS tf FROM tk GROUP BY 1, 2), " +
       "dfq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok), " +
       "n AS (SELECT count(*) AS n_docs FROM documents), " +
       "sc AS (SELECT tf.doc_id, tf.tok, tf.tf, dfq.df, " +
       "round((tf.tf * (round((ln((n.n_docs + 1.0) / (dfq.df + 1.0))) * 1e6) / 1e6)) " +
       "* 1e6) / 1e6 AS score " +
       "FROM tf JOIN dfq USING (tok) CROSS JOIN n) " +
       "SELECT doc_id, tok, tf, df, score, CAST(rn AS INTEGER) AS rn FROM (" +
       "SELECT sc.*, row_number() OVER (PARTITION BY doc_id " +
       "ORDER BY score DESC, tok ASC) AS rn FROM sc) r WHERE rn <= 5"),
    "text_cosine_pairs" ->
      // the milli-idf BIGINT cast and the HAVING-side df cap mirror the
      // Spark chain literally; shingles are 1-based t[i]..t[i+2] over
      // range(1, len-1) = Spark's 0-based sequence(0, size-3)
      ("WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
       "sh AS (SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g " +
       "FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)), " +
       "tf AS (SELECT doc_id, g, count(*) AS tf FROM sh GROUP BY 1, 2), " +
       "dfq AS (SELECT g, count(*) AS df FROM tf GROUP BY g " +
       "HAVING count(*) <= 50), " +
       "n AS (SELECT count(*) AS n_docs FROM documents), " +
       "w AS (SELECT tf.doc_id, tf.g, tf.tf * " +
       "CAST(round(ln((n.n_docs + 1.0) / (dfq.df + 1.0)) * 1e3) AS BIGINT) AS w " +
       "FROM tf JOIN dfq USING (g) CROSS JOIN n), " +
       "nrm AS (SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS n2 FROM w GROUP BY doc_id), " +
       "dp AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, " +
       "CAST(sum(a.w * b.w) AS BIGINT) AS dot " +
       "FROM w a JOIN w b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
       "SELECT a_id, b_id, cos_sim FROM (" +
       "SELECT a_id, b_id, round((dp.dot / (sqrt(CAST(na.n2 AS DOUBLE)) * " +
       "sqrt(CAST(nb.n2 AS DOUBLE)))) * 1e6) / 1e6 AS cos_sim " +
       "FROM dp JOIN nrm na ON dp.a_id = na.doc_id " +
       "JOIN nrm nb ON dp.b_id = nb.doc_id) c WHERE cos_sim >= 0.5"),
    "text_top_tokens" ->
      ("SELECT tok, count(*) AS n FROM (" +
       "SELECT unnest(string_split(text, ' ')) AS tok FROM documents) t " +
       "GROUP BY tok ORDER BY n DESC, tok ASC LIMIT 20"),
    // vocab cap literal 16 = VocabTopK (keep in lockstep); all sums are
    // non-negative so // matches Spark's div; HUGEINT sums cast back
    "text_vocab_oov" ->
      ("WITH vst AS (SELECT source, tok, count(*) AS n FROM (" +
       "SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents) t " +
       "GROUP BY source, tok), " +
       "vtc AS (SELECT tok, CAST(sum(n) AS BIGINT) AS cn FROM vst GROUP BY tok), " +
       "vrk AS (SELECT tok, row_number() OVER (ORDER BY cn DESC, tok ASC) AS rk " +
       "FROM vtc) " +
       "SELECT source, CAST(sum(n) AS BIGINT) AS n_tokens, " +
       s"CAST(sum(CASE WHEN rk > $VocabTopK THEN n ELSE 0 END) AS BIGINT) AS n_oov, " +
       s"CAST(sum(CASE WHEN rk <= $VocabTopK THEN 1 ELSE 0 END) AS BIGINT) AS n_types_invocab, " +
       "CASE WHEN CAST(sum(n) AS BIGINT) = 0 THEN CAST(0 AS BIGINT) " +
       s"ELSE (CAST(sum(CASE WHEN rk > $VocabTopK THEN n ELSE 0 END) AS BIGINT) * " +
       "CAST(1000000 AS BIGINT)) // CAST(sum(n) AS BIGINT) END AS oov_rate_micro " +
       "FROM vst JOIN vrk USING (tok) GROUP BY source"),
    "text_len_hist" ->
      ("SELECT CAST(floor(length(text) / 100) * 100 AS BIGINT) AS bucket, " +
       "count(*) AS n_docs FROM documents GROUP BY bucket ORDER BY bucket"),
    "text_stats_agg" ->
      ("SELECT lang, count(*) AS n_docs, " +
       "round((avg(n_tok)) * 1e2) / 1e2 AS avg_tokens, " +
       "round((100.0 * sum(ok) / count(*)) * 1e1) / 1e1 AS quality_pct FROM (" +
       "SELECT lang, len(string_split(text, ' ')) AS n_tok, " +
       s"CAST($qualityOkCondSql AS INTEGER) AS ok " +
       "FROM documents) t GROUP BY lang ORDER BY lang"),
    "text_tokens" ->
      ("SELECT doc_id, CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws, " +
       "CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^ ]')) AS INTEGER) AS n_bpe " +
       "FROM documents"),
    "text_quality" ->
      ("SELECT doc_id, n_char, n_tok, n_uniq, " +
       "CASE WHEN n_tok > 0 THEN round((100.0 * n_uniq / n_tok) * 1e1) / 1e1 ELSE 0.0 END AS ttr_pct, " +
       "CAST(n_tok BETWEEN 10 AND 2000 AND n_uniq >= 5 AS INTEGER) AS quality_ok FROM (" +
       "SELECT doc_id, CAST(length(text) AS INTEGER) AS n_char, " +
       "CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tok, " +
       "CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_uniq " +
       "FROM documents) t"),
    // stopword list + gate constants mirror gopherGates literally —
    // lockstep only (shared fragments below also label the NB trainer)
    "text_gopher_gates" ->
      (s"SELECT doc_id, n_tok, n_ns, n_alpha, n_stop, " +
       s"$gopherMwlSql AS mwl_x100, " +
       s"$gopherAlphaSql AS alpha_x100, " +
       s"CAST($gopherCondSql AS INTEGER) AS gopher_ok FROM (" +
       s"$gopherInnerSql) t"),
    // NB log-odds trainer: gopher labels × hashed-bucket occurrence
    // counts; each ln independently rounded to integer micro-nats
    // (CLAUDE.md ln rule) then exact BIGINT log-odds
    "text_quality_train" ->
      s"WITH $qualityTrainCteSql SELECT bucket, n_pos, n_neg, w_micro FROM qw ORDER BY bucket",
    // apply: same bucket chain joined to the learned 64-row table
    "text_quality_score_trained" ->
      (s"WITH $qualityTrainCteSql, " +
       "qsc AS (SELECT doc_id, count(*) AS n_tok, " +
       "CAST(sum(w_micro) AS BIGINT) AS score_micro " +
       "FROM qtb JOIN qw ON qtb.b = qw.bucket GROUP BY doc_id) " +
       "SELECT doc_id, n_tok, score_micro, " +
       "CAST(score_micro > 0 AS INTEGER) AS keep FROM qsc ORDER BY doc_id"),
    // qr-prefixed tail over the SAME trainer chain (qlab supplies the
    // labels, qtb/qw the score — train, score and curve move together);
    // cut grid = QualityRocCuts mirrored literally; predicted is the
    // division-free cross-multiplied form, counts nonneg so // ≡ div
    "text_quality_roc" ->
      (s"WITH $qualityTrainCteSql, " +
       "qrs AS (SELECT doc_id, count(*) AS n_tok, " +
       "CAST(sum(w_micro) AS BIGINT) AS score_micro " +
       "FROM qtb JOIN qw ON qtb.b = qw.bucket GROUP BY doc_id), " +
       s"qrc AS (SELECT UNNEST([${QualityRocCuts.mkString(", ")}]) AS cut_micro), " +
       "qrj AS (SELECT c.cut_micro, s.score_micro, s.n_tok, l.y " +
       "FROM qrs s JOIN qlab l USING (doc_id) CROSS JOIN qrc c), " +
       "qrg AS (SELECT CAST(cut_micro AS BIGINT) AS cut_micro, " +
       "CAST(sum(CASE WHEN score_micro > cut_micro * n_tok THEN 1 ELSE 0 END) AS BIGINT) AS n_pred, " +
       "CAST(sum(CASE WHEN score_micro > cut_micro * n_tok AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp, " +
       "CAST(sum(CASE WHEN score_micro > cut_micro * n_tok AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp, " +
       "CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos " +
       "FROM qrj GROUP BY cut_micro) " +
       "SELECT cut_micro, n_pred, tp, fp, n_pos, " +
       "CASE WHEN n_pred = 0 THEN CAST(1000000 AS BIGINT) " +
       "ELSE (tp * CAST(1000000 AS BIGINT)) // n_pred END AS precision_micro, " +
       "CASE WHEN n_pos = 0 THEN CAST(1000000 AS BIGINT) " +
       "ELSE (tp * CAST(1000000 AS BIGINT)) // n_pos END AS recall_micro " +
       "FROM qrg ORDER BY cut_micro"),
    // qc-prefixed tail over the SAME trainer chain: per-token score
    // spt = score_micro div n_tok mirrored with the sign-split // form
    // (score can be negative); decile = least(9, (cum_before·10) // n)
    // over the spt histogram — equal scores share a decile on both
    // engines, so no literal-grid scaffold is needed; trailing counts
    // non-negative ⇒ // ≡ div
    "text_quality_calibration" ->
      (s"WITH $qualityTrainCteSql, " +
       "qcs AS (SELECT doc_id, count(*) AS n_tok, " +
       "CAST(sum(w_micro) AS BIGINT) AS score_micro " +
       "FROM qtb JOIN qw ON qtb.b = qw.bucket GROUP BY doc_id), " +
       "qcj AS (SELECT (CASE WHEN s.score_micro < 0 THEN -1 ELSE 1 END) * " +
       "(abs(s.score_micro) // s.n_tok) AS spt_micro, l.y " +
       "FROM qcs s JOIN qlab l USING (doc_id)), " +
       "qcg AS (SELECT spt_micro, CAST(count(*) AS BIGINT) AS n_g, " +
       "CAST(sum(y) AS BIGINT) AS p_g FROM qcj GROUP BY spt_micro), " +
       "qcn AS (SELECT CAST(sum(n_g) AS BIGINT) AS n FROM qcg), " +
       "qcc AS (SELECT spt_micro, n_g, p_g, " +
       "CAST(coalesce(sum(n_g) OVER (ORDER BY spt_micro " +
       "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) " +
       "AS cum FROM qcg), " +
       "qcd AS (SELECT least(CAST(9 AS BIGINT), (cum * 10) // n) AS decile, " +
       "n_g, p_g, spt_micro FROM qcc CROSS JOIN qcn) " +
       "SELECT decile, CAST(sum(n_g) AS BIGINT) AS n_docs, " +
       "CAST(sum(p_g) AS BIGINT) AS n_pos, " +
       "CAST(min(spt_micro) AS BIGINT) AS spt_min_micro, " +
       "CAST(max(spt_micro) AS BIGINT) AS spt_max_micro, " +
       "(CAST(sum(p_g) AS BIGINT) * 1000000) // CAST(sum(n_g) AS BIGINT) " +
       "AS rate_micro FROM qcd GROUP BY decile ORDER BY decile"),
    // qg-prefixed tail composing the FULL qc calibration chain (qcs..qcd
    // names claimed above — the decile table, τ rule and gate flags move
    // with text_quality_calibration or not at all); τ literals (rate ≥
    // 500000, sentinel 1e9) mirror qualityGateCalibrated; spt is SIGNED
    // → sign-split //; flag/count sums non-negative ⇒ // ≡ div
    "text_quality_gate_calibrated" ->
      (s"WITH $qualityTrainCteSql, " +
       "qcs AS (SELECT doc_id, count(*) AS n_tok, " +
       "CAST(sum(w_micro) AS BIGINT) AS score_micro " +
       "FROM qtb JOIN qw ON qtb.b = qw.bucket GROUP BY doc_id), " +
       "qcj AS (SELECT (CASE WHEN s.score_micro < 0 THEN -1 ELSE 1 END) * " +
       "(abs(s.score_micro) // s.n_tok) AS spt_micro, l.y " +
       "FROM qcs s JOIN qlab l USING (doc_id)), " +
       "qcg AS (SELECT spt_micro, CAST(count(*) AS BIGINT) AS n_g, " +
       "CAST(sum(y) AS BIGINT) AS p_g FROM qcj GROUP BY spt_micro), " +
       "qcn AS (SELECT CAST(sum(n_g) AS BIGINT) AS n FROM qcg), " +
       "qcc AS (SELECT spt_micro, n_g, p_g, " +
       "CAST(coalesce(sum(n_g) OVER (ORDER BY spt_micro " +
       "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) " +
       "AS cum FROM qcg), " +
       "qcd AS (SELECT least(CAST(9 AS BIGINT), (cum * 10) // n) AS decile, " +
       "n_g, p_g, spt_micro FROM qcc CROSS JOIN qcn), " +
       "qgd AS (SELECT decile, CAST(min(spt_micro) AS BIGINT) AS spt_min_micro, " +
       "(CAST(sum(p_g) AS BIGINT) * 1000000) // CAST(sum(n_g) AS BIGINT) " +
       "AS rate_micro FROM qcd GROUP BY decile), " +
       "qgt AS (SELECT coalesce(min(spt_min_micro), " +
       "CAST(1000000000 AS BIGINT)) AS tau_micro FROM qgd " +
       "WHERE rate_micro >= 500000), " +
       "qgf AS (SELECT CAST(l.y AS BIGINT) AS y, t.tau_micro, " +
       "CAST(CASE WHEN s.score_micro > 0 THEN 1 ELSE 0 END AS BIGINT) AS ks, " +
       "CAST(CASE WHEN (CASE WHEN s.score_micro < 0 THEN -1 ELSE 1 END) * " +
       "(abs(s.score_micro) // s.n_tok) >= t.tau_micro " +
       "THEN 1 ELSE 0 END AS BIGINT) AS kc " +
       "FROM qcs s JOIN qlab l USING (doc_id) CROSS JOIN qgt t), " +
       "qgl AS (SELECT UNNEST(['both', 'calib_only', 'calibrated', " +
       "'score_cut', 'score_only']) AS gate), " +
       "qgx AS (SELECT g.gate, f.y, f.tau_micro, " +
       "CASE g.gate WHEN 'score_cut' THEN f.ks " +
       "WHEN 'calibrated' THEN f.kc " +
       "WHEN 'both' THEN f.ks * f.kc " +
       "WHEN 'calib_only' THEN f.kc * (1 - f.ks) " +
       "ELSE f.ks * (1 - f.kc) END AS flag " +
       "FROM qgf f CROSS JOIN qgl g) " +
       "SELECT gate, CAST(max(tau_micro) AS BIGINT) AS tau_micro, " +
       "CAST(sum(flag) AS BIGINT) AS n_keep, " +
       "CAST(sum(flag * y) AS BIGINT) AS n_pos_kept, " +
       "CASE WHEN sum(flag) = 0 THEN CAST(1000000 AS BIGINT) " +
       "ELSE (CAST(sum(flag * y) AS BIGINT) * 1000000) // " +
       "CAST(sum(flag) AS BIGINT) END AS precision_micro " +
       "FROM qgx GROUP BY gate ORDER BY gate"),
    // same segmentations as text_tokens; all sums non-negative so //
    // matches Spark's div
    "text_fertility_by_source" ->
      ("SELECT source, count(*) AS n_docs, " +
       "CAST(sum(n_ws) AS BIGINT) AS n_words, " +
       "CAST(sum(n_bpe) AS BIGINT) AS n_tokens, " +
       "CASE WHEN CAST(sum(n_ws) AS BIGINT) > 0 " +
       "THEN (CAST(sum(n_bpe) AS BIGINT) * 1000000) // CAST(sum(n_ws) AS BIGINT) " +
       "ELSE CAST(0 AS BIGINT) END AS fertility_micro FROM (" +
       "SELECT source, len(string_split(text, ' ')) AS n_ws, " +
       "len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^ ]')) AS n_bpe " +
       "FROM documents) t GROUP BY source"),
    "text_langid" -> langidSql,
    "text_hash_embed" ->
      ("WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok " +
       "FROM documents), " +
       "tf AS (SELECT doc_id, tok, count(*) AS cnt FROM tk GROUP BY 1, 2), " +
       s"th AS (SELECT tok, $featureHashSql AS h " +
       "FROM (SELECT DISTINCT tok FROM tf) t) " +
       "SELECT tf.doc_id, CAST(th.h % 64 AS INTEGER) AS dim, " +
       "CAST(sum((CASE WHEN ((th.h >> 6) & 1) = 1 THEN 1 ELSE -1 END) * tf.cnt) " +
       "AS BIGINT) AS v " +
       "FROM tf JOIN th ON tf.tok = th.tok GROUP BY tf.doc_id, dim"),
    "text_fingerprint" ->
      ("SELECT doc_id, md5(regexp_replace(lower(trim(text)), ' +', ' ', 'g')) AS fp " +
       "FROM documents"),
    // PolyHash computes h = Σ byte[i]·131^i mod 2^61-1, which is a Horner
    // fold over the REVERSED byte sequence; DuckDB mirrors it exactly in
    // HUGEINT (products < 2^68 fit int128; acc < 2^61 casts back to
    // BIGINT). ascii(char) == byte because the corpus is ASCII — enforced
    // by TestdataAsciiSpec, the same invariant mm_byte_histogram rests on.
    "text_rollhash" ->
      ("SELECT doc_id, CAST(list_reduce([CAST(0 AS HUGEINT)] || " +
       "list_transform(range(len(text), 0, -1), " +
       "i -> CAST(ascii(text[i]) AS HUGEINT)), " +
       s"(a,b) -> (a*${graft.functions.PolyHash.Base} + b) % " +
       s"${graft.functions.PolyHash.Mod}) AS BIGINT) AS rh FROM documents"),
    "text_repetition" ->
      ("SELECT doc_id, n_tok, n_uniq, " +
       "round((1.0 - CAST(n_uniq AS DOUBLE) / n_tok) * 1e6) / 1e6 AS rep_ratio, " +
       "CAST(round((1.0 - CAST(n_uniq AS DOUBLE) / n_tok) * 1e6) / 1e6 <= 0.5 " +
       "AS INTEGER) AS keep FROM (" +
       "SELECT doc_id, CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tok, " +
       "CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_uniq " +
       "FROM documents) t"),
    "text_length_band" ->
      ("WITH q AS (SELECT " +
       "round((quantile_cont(CAST(n_chars AS DOUBLE), 0.10)) * 1e6) / 1e6 AS lo, " +
       "round((quantile_cont(CAST(n_chars AS DOUBLE), 0.90)) * 1e6) / 1e6 AS hi " +
       "FROM documents) " +
       "SELECT doc_id, n_chars FROM documents, q " +
       "WHERE n_chars >= lo AND n_chars <= hi"),
    "text_sample_per_source" ->
      ("SELECT source, doc_id, CAST(rn AS INTEGER) AS rn FROM (" +
       "SELECT source, doc_id, row_number() OVER (PARTITION BY source " +
       "ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn FROM documents) t " +
       "WHERE rn <= 5"),
    // ws-prefixed; A-ES keys: u from the saltOrd Knuth scramble into
    // (0,1] micro grain, ln rounded to micro-nats FIRST (ln rule), key
    // = (−lnu·1000) // n_tok non-negative (// ≡ div), k literal 5 and
    // the doc_id tie-break — all lockstep with weightedSample
    "text_weighted_sample" ->
      ("WITH wsd AS (SELECT source, doc_id, " +
       "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok, " +
       s"(${Similarity.saltOrdSql("doc_id")} % 1000000) + 1 AS u_micro " +
       "FROM documents), " +
       "wsk AS (SELECT source, doc_id, n_tok, " +
       "((-(CAST(round(ln(CAST(u_micro AS DOUBLE) / CAST(1000000 AS DOUBLE)) " +
       "* 1e6) AS BIGINT))) * 1000) // n_tok AS key_nano FROM wsd), " +
       "wsr AS (SELECT source, doc_id, n_tok, key_nano, " +
       "row_number() OVER (PARTITION BY source " +
       "ORDER BY key_nano ASC, doc_id ASC) AS rn FROM wsk) " +
       "SELECT source, doc_id, CAST(rn AS INTEGER) AS rn, n_tok, key_nano " +
       "FROM wsr WHERE rn <= 5"),
    "corpus_select" ->
      ("WITH surv AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text), " +
       "rep AS (SELECT doc_id FROM (SELECT doc_id, " +
       "round((1.0 - CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) " +
       "/ len(string_split(text, ' '))) * 1e6) / 1e6 AS r FROM documents) t " +
       "WHERE r <= 0.5), " +
       "q AS (SELECT " +
       "round((quantile_cont(CAST(n_chars AS DOUBLE), 0.10)) * 1e6) / 1e6 AS lo, " +
       "round((quantile_cont(CAST(n_chars AS DOUBLE), 0.90)) * 1e6) / 1e6 AS hi " +
       "FROM documents), " +
       "lenk AS (SELECT doc_id FROM documents, q " +
       "WHERE n_chars >= lo AND n_chars <= hi) " +
       "SELECT d.doc_id, d.lang, d.source, d.n_chars FROM documents d " +
       "WHERE d.doc_id IN (SELECT doc_id FROM surv) " +
       "AND d.doc_id IN (SELECT doc_id FROM rep) " +
       "AND d.doc_id IN (SELECT doc_id FROM lenk)"))
}
