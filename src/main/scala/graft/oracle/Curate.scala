package graft.oracle

import graft.ext.Curate._
import graft.ext.TextOps.{EvalSuites, NumShards}

/** DuckDB reference SQL of the [[graft.ext.Curate]] queries. */
private[graft] object Curate {

  /** The gate-flags WITH chain through `flags` (doc_id, g1..g6) —
    * oracle mirror of [[gateFlags]], shared by corpus_curate_funnel
    * and corpus_gate_report (lockstep; the Spark twins share the
    * frame the same way). */
  private def gateFlagsCteSql: String =
    s"WITH RECURSIVE ${Dedup.clusterLabCte}, " +
    s"${TextOps.contaminationCteSql}, " +
    s"lid AS (SELECT doc_id, ${TextOps.langPredCaseSql} AS predicted " +
    s"FROM (${TextOps.langScoresInnerSql}) t), " +
    s"ql AS (SELECT doc_id, " +
    s"CAST(${TextOps.qualityOkCondSql} AS INTEGER) AS quality_ok " +
    "FROM documents), " +
    s"bpg AS (${TextOps.boilerplateGroupsSql}), " +
    "kl AS (SELECT min(doc_id) AS doc_id FROM lab GROUP BY cluster), " +
    "flags AS (SELECT d.doc_id, " +
    s"CASE WHEN l.predicted = '$KeepLang' THEN 1 ELSE 0 END AS g1, " +
    "q.quality_ok AS g2, " +
    "CASE WHEN b.keep_doc IS NULL OR b.keep_doc = d.doc_id " +
    "THEN 1 ELSE 0 END AS g3, " +
    s"CASE WHEN d.source <> '${EvalSuites.head}' THEN 1 ELSE 0 END AS g4, " +
    s"CASE WHEN coalesce(c.contam_pct, 0.0) < $MaxContamPct THEN 1 ELSE 0 END AS g5, " +
    "CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END AS g6 " +
    "FROM documents d " +
    "JOIN lid l USING (doc_id) JOIN ql q USING (doc_id) " +
    "LEFT JOIN bpg b ON b.pfx = " +
    "array_to_string(string_split(d.text, ' ')[1:8], ' ') " +
    "LEFT JOIN ctm c ON c.doc_id = d.doc_id " +
    "LEFT JOIN kl k ON k.doc_id = d.doc_id)"

  /** The curriculum's cur-prefixed phase chain (q-chain scores → spt →
    * value-grouped quartile bands), ending in `curj(doc_id, spt)` +
    * `curb(spt, qband)` — single-sourced so corpus_curriculum and
    * corpus_train_schedule read ONE banding (lockstep). Composes after
    * [[TextOps.qualityTrainCteSql]] in the same WITH. */
  private def curPhaseCtesSql: String =
    "curs AS (SELECT doc_id, count(*) AS n_tok, " +
    "CAST(sum(w_micro) AS BIGINT) AS score_micro " +
    "FROM qtb JOIN qw ON qtb.b = qw.bucket GROUP BY doc_id), " +
    "curj AS (SELECT doc_id, (CASE WHEN score_micro < 0 THEN -1 ELSE 1 END) * " +
    "(abs(score_micro) // n_tok) AS spt FROM curs), " +
    "curg AS (SELECT spt, CAST(count(*) AS BIGINT) AS n_g " +
    "FROM curj GROUP BY spt), " +
    "curn AS (SELECT CAST(sum(n_g) AS BIGINT) AS n FROM curg), " +
    "curc AS (SELECT spt, CAST(coalesce(sum(n_g) OVER (ORDER BY spt " +
    "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) " +
    "AS cum FROM curg), " +
    "curb AS (SELECT spt, least(CAST(3 AS BIGINT), (cum * 4) // n) " +
    "AS qband FROM curc CROSS JOIN curn)"

  val sql: Map[String, String] = Map(
    // first-fail attribution follows funnel order (a doc dropped at
    // langid never reaches quality) — stage names lockstep with funnel
    "corpus_gate_report" -> (
      gateFlagsCteSql + " " +
      "SELECT doc_id, g1, g2, g3, g4, g5, g6, " +
      "6 - (g1 + g2 + g3 + g4 + g5 + g6) AS n_fail, " +
      "CASE WHEN g1 = 0 THEN 'langid_en' WHEN g2 = 0 THEN 'quality' " +
      "WHEN g3 = 0 THEN 'boilerplate' WHEN g4 = 0 THEN 'holdout' " +
      "WHEN g5 = 0 THEN 'contamination' WHEN g6 = 0 THEN 'dedup' " +
      "ELSE 'pass' END AS first_fail " +
      "FROM flags ORDER BY doc_id"),
    // tm-prefixed tail over the shared flags chain; shard = the
    // corpus_shard_plan scramble, pack length PackLen (the
    // text_pack family); everything non-negative
    "corpus_train_manifest" -> (
      gateFlagsCteSql + ", " +
      "tmk AS (SELECT doc_id FROM flags WHERE g1 = 1 AND g2 = 1 AND g3 = 1 " +
      "AND g4 = 1 AND g5 = 1 AND g6 = 1), " +
      "tmt AS (SELECT doc_id, " +
      s"CAST(${Similarity.saltOrdSql("doc_id")} % $NumShards AS INTEGER) AS shard, " +
      "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents), " +
      "tma AS (SELECT t.shard, count(*) AS n_docs, " +
      "CAST(sum(t.n_tok) AS BIGINT) AS n_tokens " +
      "FROM tmk k JOIN tmt t USING (doc_id) GROUP BY t.shard) " +
      s"SELECT shard, n_docs, n_tokens, (n_tokens + ${PackLen - 1}) // $PackLen AS n_seqs " +
      "FROM tma ORDER BY shard"),
    // cur-prefixed tail over the q-trainer chain: spt sign-split //,
    // quartile = the calibration banding rule at 4 bands, scramble =
    // the shard plan's — all three lockstep groups compose here
    "corpus_curriculum" -> (
      s"WITH ${TextOps.qualityTrainCteSql}, $curPhaseCtesSql " +
      "SELECT j.doc_id, CAST(3 - b.qband AS BIGINT) AS phase, " +
      s"CAST(${Similarity.saltOrdSql("j.doc_id")} AS BIGINT) AS order_key, " +
      s"CAST(${Similarity.saltOrdSql("j.doc_id")} % $NumShards AS INTEGER) AS shard " +
      "FROM curj j JOIN curb b USING (spt) ORDER BY j.doc_id"),
    // sch-prefixed tail composing THREE chains in one WITH: the
    // gate-flags keep set, the q-trainer phase banding (the shared
    // curPhase chain — the applied schedule can never drift from the
    // published curriculum), and the scramble shard; pack length PackLen
    "corpus_train_schedule" -> (
      gateFlagsCteSql + s", ${TextOps.qualityTrainCteSql}, $curPhaseCtesSql, " +
      "schk AS (SELECT doc_id FROM flags WHERE g1 = 1 AND g2 = 1 AND g3 = 1 " +
      "AND g4 = 1 AND g5 = 1 AND g6 = 1), " +
      "scht AS (SELECT doc_id, " +
      "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents), " +
      "scha AS (SELECT CAST(3 - b.qband AS BIGINT) AS phase, " +
      s"CAST(${Similarity.saltOrdSql("j.doc_id")} % $NumShards AS INTEGER) AS shard, " +
      "count(*) AS n_docs, CAST(sum(t.n_tok) AS BIGINT) AS n_tokens " +
      "FROM schk k JOIN curj j USING (doc_id) JOIN curb b USING (spt) " +
      "JOIN scht t ON t.doc_id = k.doc_id GROUP BY 1, 2) " +
      s"SELECT phase, shard, n_docs, n_tokens, (n_tokens + ${PackLen - 1}) // $PackLen " +
      "AS n_seqs FROM scha ORDER BY phase, shard"),
    // Funnel oracle: composes the shared stage chains — the langid
    // score/CASE fragments, the quality condition, the boilerplate groups,
    // the ct-namespaced contamination chain, and the RECURSIVE cluster-
    // label chain — exactly as the Spark side composes the stage frames,
    // over the funnel's own gate vals.
    "corpus_curate_funnel" -> (
      gateFlagsCteSql + " " +
      "SELECT 0 AS stage_ord, 'ingest' AS stage, " +
      "CAST(count(*) AS BIGINT) AS n_kept FROM flags " +
      (1 to 6).zip(Seq("langid_en", "quality", "boilerplate",
                       "holdout", "contamination", "dedup")).map {
        case (k, s) =>
          val prod = (1 to k).map(j => s"g$j").mkString(" * ")
          s"UNION ALL SELECT $k, '$s', CAST(sum($prod) AS BIGINT) FROM flags "
      }.mkString +
      "ORDER BY stage_ord"),
    // per-source dashboard: same stage chains, grouped by source; the
    // 100.0-ratio and 2-dp-round forms are the established green
    // patterns (text_stats_agg / money-column rule)
    "corpus_report" -> (
      s"WITH RECURSIVE ${Dedup.clusterLabCte}, " +
      s"${TextOps.contaminationCteSql}, " +
      s"lid AS (SELECT doc_id, ${TextOps.langPredCaseSql} AS predicted " +
      s"FROM (${TextOps.langScoresInnerSql}) t), " +
      s"ql AS (SELECT doc_id, " +
      s"CAST(${TextOps.qualityOkCondSql} AS INTEGER) AS quality_ok " +
      "FROM documents), " +
      "kl AS (SELECT min(doc_id) AS doc_id FROM lab GROUP BY cluster), " +
      "rb AS (SELECT d.source, len(string_split(d.text, ' ')) AS n_tok, " +
      s"CASE WHEN l.predicted = '$KeepLang' THEN 1 ELSE 0 END AS is_en, " +
      "q.quality_ok AS q_ok, " +
      "CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END AS kp, " +
      "coalesce(c.contam_pct, 0.0) AS cp " +
      "FROM documents d " +
      "JOIN lid l USING (doc_id) JOIN ql q USING (doc_id) " +
      "LEFT JOIN kl k ON k.doc_id = d.doc_id " +
      "LEFT JOIN ctm c ON c.doc_id = d.doc_id) " +
      "SELECT source, count(*) AS n_docs, " +
      "CAST(sum(n_tok) AS BIGINT) AS n_tokens, " +
      "round((100.0 * sum(is_en) / count(*)) * 1e2) / 1e2 AS en_pct, " +
      "round((100.0 * sum(q_ok) / count(*)) * 1e2) / 1e2 AS quality_pct, " +
      "round((100.0 * (count(*) - sum(kp)) / count(*)) * 1e2) / 1e2 AS dup_pct, " +
      "round((sum(cp) / count(*)) * 1e2) / 1e2 AS contam_avg " +
      "FROM rb GROUP BY source ORDER BY source"))
}
