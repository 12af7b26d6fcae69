package graft.oracle

import graft.ext.Dedup._

/** DuckDB reference SQL of the [[graft.ext.Dedup]] queries. */
private[graft] object Dedup {

  /** The same fold as DuckDB SQL (list_reduce with a BIGINT 0 seed). */
  private def polyHashSql(e: String, base: Long, m: Long): String =
    s"list_reduce([CAST(0 AS BIGINT)] || list_transform(range(1, len($e)+1), " +
    s"i -> CAST(ascii(($e)[i]) AS BIGINT)), (a,b) -> (a*$base + b) % $m)"

  private val RowsPerBand = NumHashes / Bands

  private def bandFoldSql(seed: Long, hs: Seq[String]): String =
    hs.foldLeft(seed.toString)((acc, h) => s"((($acc) * 31 + $h) % $P1)")

  /** DuckDB CTE chain for n-gram shingles with the DF cap over a
    * FILTERED document set: tokens -> distinct shingles -> rare
    * (df <= cap, within the filtered set) -> capped shingles. `pfx`
    * namespaces the CTEs so two document sets (corpus/batch) compose in
    * one query. */
  private def shingleCteFor(n: Int, pfx: String, where: String,
                            from: String = "documents"): String =
    // keys are the mirrored (h1, h2) double polyhash of the shingle —
    // lockstep with [[shingleGroups]]'s long-encoded index; DISTINCT at
    // the (doc_id, h1, h2) grain = the bounded set's collision-merge;
    // `from` lets a derived (doc_id, text) relation (e.g. the paragraph
    // units of dedup_para_neardup) reuse the capped chain verbatim
    s"${pfx}toks AS (SELECT doc_id, string_split(text, ' ') AS t " +
    s"FROM $from $where), " +
    s"${pfx}sh0 AS (SELECT DISTINCT doc_id, " +
    s"${polyHashSql("s", 31L, P1)} AS h1, ${polyHashSql("s", 131L, P2)} AS h2 " +
    s"FROM (SELECT doc_id, array_to_string(t[i:i+${n - 1}], ' ') AS s " +
    s"FROM ${pfx}toks, UNNEST(range(1, greatest(len(t) - ${n - 2}, 1))) AS u(i)) q), " +
    s"${pfx}rare AS (SELECT h1, h2 FROM ${pfx}sh0 GROUP BY h1, h2 " +
    s"HAVING count(*) <= $MaxShingleDf), " +
    s"${pfx}sh AS (SELECT sh0.doc_id, sh0.h1, sh0.h2 FROM ${pfx}sh0 sh0 " +
    s"JOIN ${pfx}rare rare USING (h1, h2))"

  /** Shared DuckDB CTE chain for n-gram shingles with the DF cap. */
  private def shingleCte(n: Int): String = shingleCteFor(n, "", "")

  /** Hashed shingles -> 32 minhash signatures -> 8 band buckets as CTEs
    * (`pfx`-namespaced) — the oracle mirror of [[hsOf]] + [[bandsOf]]
    * with identical hash/permutation/band constants. */
  private def bandsSqlFor(pfx: String): String = {
    val bandSelects = (0 until Bands).map { bId =>
      val hs = (0 until RowsPerBand).map(r => s"h${bId * RowsPerBand + r}")
      s"SELECT doc_id, $bId AS band, ${bandFoldSql(1000L + bId, hs)} AS bh " +
        s"FROM ${pfx}sig"
    }.mkString(" UNION ALL ")
    sigCteFor(pfx) + s", ${pfx}bands AS ($bandSelects)"
  }

  /** Hashed shingles -> per-doc 32-component signature CTEs (the oracle
    * mirror of [[sigsOf]]) — shared by [[bandsSqlFor]] and the
    * sketch-merge oracle. */
  private def sigCteFor(pfx: String): String = {
    val sigSelect = (0 until NumHashes)
      .map(j => s"min((${permA(j)}*h + ${permB(j)}) % $P1) AS h$j")
      .mkString(", ")
    s"${pfx}hs AS (SELECT doc_id, h1 AS h FROM ${pfx}sh), " +
    s"${pfx}sig AS (SELECT doc_id, $sigSelect FROM ${pfx}hs GROUP BY doc_id)"
  }

  /** Sketch-merge oracle: per-doc signature CTEs min-merged per source,
    * matching-component share vs the exact capped-hash Jaccard (all
    * quantities non-negative, so DuckDB `//` and Spark `div` agree). */
  private def sketchMergeOracleSql: String = {
    val mins = (0 until NumHashes).map(j => s"min(h$j) AS h$j").mkString(", ")
    val agree = (0 until NumHashes)
      .map(j => s"(CASE WHEN a.h$j = b.h$j THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"WITH ${shingleCte(3)}, ${sigCteFor("")}, " +
    "ds AS (SELECT doc_id, source FROM documents), " +
    s"ms AS (SELECT d.source, $mins FROM sig JOIN ds d USING (doc_id) " +
    "GROUP BY d.source), " +
    s"est AS (SELECT a.source AS a_src, b.source AS b_src, " +
    s"CAST($agree AS BIGINT) AS n_agree FROM ms a JOIN ms b ON a.source < b.source), " +
    "se AS (SELECT DISTINCT d.source, hs.h FROM hs JOIN ds d USING (doc_id)), " +
    "szs AS (SELECT source, count(*) AS sz FROM se GROUP BY source), " +
    "itr AS (SELECT x.source AS a_src, y.source AS b_src, count(*) AS inter " +
    "FROM se x JOIN se y ON x.h = y.h AND x.source < y.source GROUP BY 1, 2) " +
    "SELECT est.a_src, est.b_src, est.n_agree, " +
    "(est.n_agree * CAST(1000000 AS BIGINT)) // 32 AS est_jaccard_micro, " +
    "CAST(coalesce(itr.inter, 0) AS BIGINT) AS inter, " +
    "CAST(sza.sz + szb.sz - coalesce(itr.inter, 0) AS BIGINT) AS uni, " +
    "(CAST(coalesce(itr.inter, 0) AS BIGINT) * CAST(1000000 AS BIGINT)) " +
    "// (sza.sz + szb.sz - coalesce(itr.inter, 0)) AS exact_jaccard_micro " +
    "FROM est LEFT JOIN itr USING (a_src, b_src) " +
    "JOIN szs sza ON sza.source = est.a_src " +
    "JOIN szs szb ON szb.source = est.b_src"
  }

  /** 5-gram capped shingles -> sizes -> candidate pairs ->
    * integer-Jaccard-thresholded pairs (`jac`). */
  private val ngramPairCte: String =
    shingleCte(5) + ", " +
    "sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id), " +
    "pr AS (SELECT x.doc_id AS a_id, y.doc_id AS b_id, count(*) AS inter " +
    "FROM sh x JOIN sh y ON x.h1 = y.h1 AND x.h2 = y.h2 " +
    "AND x.doc_id < y.doc_id GROUP BY 1, 2), " +
    "jac AS (SELECT a_id, b_id, inter, sa.sz + sb.sz - inter AS uni FROM pr " +
    "JOIN sz sa ON sa.doc_id = a_id JOIN sz sb ON sb.doc_id = b_id " +
    "WHERE inter * 5 >= sa.sz + sb.sz - inter)"

  /** Paragraph-unit pair chain through `pndx` (pnd-prefixed names
    * pndu/pndtoks/pndsh0/pndrare/pndsh/pndsz/pndpr/pndjac/pndx claimed;
    * neardup adds pndd/pndn/pndc, excise adds pnde/pndk) — the oracle
    * mirror of [[paraPairs]]: 200/200 chunk units, the capped shingle
    * chain over the derived relation via [[shingleCteFor]]'s `from`,
    * the family's inter·5 ≥ uni threshold, cross-doc filter. Shared by
    * dedup_para_neardup and dedup_para_excise (lockstep). */
  private def paraPairCte: String =
    "pndu AS (SELECT doc_id, " +
    "doc_id * 1000000 + CAST(i AS BIGINT) AS pid, " +
    "substr(text, CAST(i * 200 + 1 AS INTEGER), 200) AS ptext " +
    "FROM documents, UNNEST(range(0, (length(text) - 1) // 200 + 1)) AS u(i) " +
    "WHERE length(text) > 0), " +
    shingleCteFor(5, "pnd", "",
      "(SELECT pid AS doc_id, ptext AS text FROM pndu) ps") + ", " +
    "pndsz AS (SELECT doc_id, count(*) AS sz FROM pndsh GROUP BY doc_id), " +
    "pndpr AS (SELECT x.doc_id AS a_id, y.doc_id AS b_id, count(*) AS inter " +
    "FROM pndsh x JOIN pndsh y ON x.h1 = y.h1 AND x.h2 = y.h2 " +
    "AND x.doc_id < y.doc_id GROUP BY 1, 2), " +
    "pndjac AS (SELECT a_id, b_id FROM pndpr " +
    "JOIN pndsz sa ON sa.doc_id = a_id JOIN pndsz sb ON sb.doc_id = b_id " +
    "WHERE inter * 5 >= sa.sz + sb.sz - inter), " +
    "pndx AS (SELECT a_id, b_id FROM pndjac " +
    "WHERE a_id // 1000000 <> b_id // 1000000)"

  /** jac → undirected edges → transitive closure → per-doc min-reachable
    * cluster label (`lab`) — the oracle mirror of [[clusters]]. ONE
    * definition shared by the whole cluster family (clusters / stats /
    * keep / split_safe) and composed by the curation-funnel oracle
    * ([[Curate]]); requires `WITH RECURSIVE` at the head of the query. */
  private[graft] val clusterLabCte: String =
    ngramPairCte + ", " +
    "edges AS (SELECT a_id AS u, b_id AS v FROM jac " +
    "UNION SELECT b_id, a_id FROM jac), " +
    "reach(u, v) AS (SELECT u, v FROM edges " +
    "UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u), " +
    "lab AS (SELECT d.doc_id, least(d.doc_id, coalesce(min(r.v), d.doc_id)) AS cluster " +
    "FROM documents d LEFT JOIN reach r ON r.u = d.doc_id GROUP BY d.doc_id)"

  /** MinHash oracle: the identical hash/permutation/band constants. */
  private def minhashOracleSql: String =
    s"WITH ${shingleCte(3)}, ${bandsSqlFor("")}, " +
    "cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id FROM bands x " +
    "JOIN bands y ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id), " +
    // confirm joins on the HASH h, mirroring the Spark side's long keys
    "sz AS (SELECT doc_id, count(*) AS sz FROM hs GROUP BY doc_id), " +
    "it AS (SELECT c.a_id, c.b_id, count(*) AS inter FROM cand c " +
    "JOIN hs x ON x.doc_id = c.a_id JOIN hs y ON y.doc_id = c.b_id AND y.h = x.h " +
    "GROUP BY 1, 2) " +
    "SELECT a_id, b_id, inter, sa.sz + sb.sz - inter AS uni FROM it " +
    "JOIN sz sa ON sa.doc_id = a_id JOIN sz sb ON sb.doc_id = b_id " +
    "WHERE inter * 2 >= sa.sz + sb.sz - inter"

  /** Parametrized band CTE for the sweep oracle: `nb` bands over the
    * same 32 signatures, same per-band seeds as [[bandsSqlFor]]. */
  private def bandsSweepSqlFor(pfx: String, nb: Int): String = {
    val rpb = NumHashes / nb
    val bandSelects = (0 until nb).map { bId =>
      val hsNames = (0 until rpb).map(r => s"h${bId * rpb + r}")
      s"SELECT doc_id, $bId AS band, ${bandFoldSql(1000L + bId, hsNames)} AS bh " +
        s"FROM ${pfx}sig"
    }.mkString(" UNION ALL ")
    s"${pfx}bands$nb AS ($bandSelects)"
  }

  /** Band-sweep oracle: the minhashEval truth chain plus one candidate
    * CTE per configuration, unioned metric rows — constants {4,8,16}
    * and the probe literal mirror [[bandSweep]] in lockstep. */
  private def bandSweepOracleSql: String = {
    def cfg(nb: Int): String =
      s"ecand$nb AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id " +
      s"FROM ebands$nb x JOIN ebands$nb y " +
      "ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id), " +
      s"ehit$nb AS (SELECT a_id, b_id FROM etr JOIN ecand$nb USING (a_id, b_id))"
    def row(nb: Int): String =
      s"SELECT CAST($nb AS INTEGER) AS n_bands, " +
      s"CAST(${NumHashes / nb} AS INTEGER) AS rows_per_band, " +
      "(SELECT count(*) FROM etr) AS n_truth, " +
      s"(SELECT count(*) FROM ecand$nb) AS n_cand, " +
      s"(SELECT count(*) FROM ehit$nb) AS n_hit, " +
      "CASE WHEN (SELECT count(*) FROM etr) = 0 THEN CAST(1000000 AS BIGINT) " +
      s"ELSE ((SELECT count(*) FROM ehit$nb) * CAST(1000000 AS BIGINT)) " +
      "// (SELECT count(*) FROM etr) END AS recall_micro, " +
      s"CASE WHEN (SELECT count(*) FROM ecand$nb) = 0 THEN CAST(0 AS BIGINT) " +
      s"ELSE ((SELECT count(*) FROM ehit$nb) * CAST(1000000 AS BIGINT)) " +
      s"// (SELECT count(*) FROM ecand$nb) END AS precision_micro"
    s"WITH ${shingleCteFor(3, "e", "WHERE doc_id < 200")}, ${sigCteFor("e")}, " +
    Seq(4, 8, 16).map(nb => bandsSweepSqlFor("e", nb)).mkString(", ") + ", " +
    "esz AS (SELECT doc_id, count(*) AS sz FROM ehs GROUP BY doc_id), " +
    "eit AS (SELECT x.doc_id AS a_id, y.doc_id AS b_id, count(*) AS inter " +
    "FROM ehs x JOIN ehs y ON x.h = y.h AND x.doc_id < y.doc_id GROUP BY 1, 2), " +
    "etr AS (SELECT a_id, b_id FROM eit " +
    "JOIN esz sa ON sa.doc_id = a_id JOIN esz sb ON sb.doc_id = b_id " +
    "WHERE inter * 2 >= sa.sz + sb.sz - inter), " +
    Seq(4, 8, 16).map(cfg).mkString(", ") + " " +
    Seq(4, 8, 16).map(row).mkString(" UNION ALL ") + " ORDER BY n_bands"
  }

  /** MinHash screening-recall eval oracle: sample chain (doc_id < 200)
    * through the SAME shingle/signature/band generators, ground truth
    * from the exact-Jaccard confirm over shared-shingle pairs, metrics
    * as floor-divided micro-units (all counts non-negative, so DuckDB
    * `//` and Spark `div` agree). */
  private def minhashEvalOracleSql: String =
    s"WITH ${shingleCteFor(3, "e", "WHERE doc_id < 200")}, ${bandsSqlFor("e")}, " +
    "esz AS (SELECT doc_id, count(*) AS sz FROM ehs GROUP BY doc_id), " +
    "eit AS (SELECT x.doc_id AS a_id, y.doc_id AS b_id, count(*) AS inter " +
    "FROM ehs x JOIN ehs y ON x.h = y.h AND x.doc_id < y.doc_id GROUP BY 1, 2), " +
    "etr AS (SELECT a_id, b_id FROM eit " +
    "JOIN esz sa ON sa.doc_id = a_id JOIN esz sb ON sb.doc_id = b_id " +
    "WHERE inter * 2 >= sa.sz + sb.sz - inter), " +
    "ecand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id " +
    "FROM ebands x JOIN ebands y " +
    "ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id), " +
    "ehit AS (SELECT a_id, b_id FROM etr JOIN ecand USING (a_id, b_id)), " +
    "m AS (SELECT (SELECT count(*) FROM etr) AS n_truth, " +
    "(SELECT count(*) FROM ecand) AS n_cand, " +
    "(SELECT count(*) FROM ehit) AS n_hit) " +
    "SELECT n_truth, n_cand, n_hit, " +
    "CASE WHEN n_truth = 0 THEN CAST(1000000 AS BIGINT) " +
    "ELSE (n_hit * CAST(1000000 AS BIGINT)) // n_truth END AS recall_micro, " +
    "CASE WHEN n_cand = 0 THEN CAST(0 AS BIGINT) " +
    "ELSE (n_hit * CAST(1000000 AS BIGINT)) // n_cand END AS precision_micro " +
    "FROM m"

  /** The batch-screen tail over NAMED corpus index relations — shared
    * by the plain incremental screen (chs/cbands) and the takedown
    * screen (the tombstone-filtered dhs/dbnd): candidates from the
    * batch×corpus band-bucket join, confirm over the unioned hashed
    * shingles, per-batch-doc keep flags. */
  private def incScreenTailSql(corpusHs: String, corpusBands: String): String =
    incScreenCtesFor("", corpusHs, corpusBands) + " " +
    "SELECT d.doc_id, " +
    "CAST(coalesce(m.n_corpus_matches, 0) AS BIGINT) AS n_corpus_matches, " +
    "CAST(coalesce(m.n_corpus_matches, 0) = 0 AS INTEGER) AS keep " +
    "FROM documents d LEFT JOIN m USING (doc_id) WHERE d.doc_id >= 250"

  /** The screen's CTE body over `pfx`-namespaced names, ending in
    * `<pfx>m(doc_id, n_corpus_matches)` — extracted so the compact
    * reconcile can run TWO screens (tombstone vs rebuilt index) in one
    * WITH; the "" instance reproduces the original tail's names
    * byte-for-byte (all three single-screen consumers unchanged). */
  private def incScreenCtesFor(pfx: String, corpusHs: String,
                               corpusBands: String): String =
    s"${pfx}cand AS (SELECT DISTINCT c.doc_id AS a_id, b.doc_id AS b_id " +
    s"FROM bbands b JOIN $corpusBands c ON b.band = c.band AND b.bh = c.bh), " +
    s"${pfx}uhs AS (SELECT doc_id, h FROM $corpusHs UNION ALL SELECT doc_id, h FROM bhs), " +
    s"${pfx}sz AS (SELECT doc_id, count(*) AS sz FROM ${pfx}uhs GROUP BY doc_id), " +
    s"${pfx}it AS (SELECT c.a_id, c.b_id, count(*) AS inter FROM ${pfx}cand c " +
    s"JOIN ${pfx}uhs x ON x.doc_id = c.a_id " +
    s"JOIN ${pfx}uhs y ON y.doc_id = c.b_id AND y.h = x.h GROUP BY 1, 2), " +
    s"${pfx}m AS (SELECT b_id AS doc_id, count(*) AS n_corpus_matches FROM ${pfx}it " +
    s"JOIN ${pfx}sz sa ON sa.doc_id = a_id JOIN ${pfx}sz sb ON sb.doc_id = b_id " +
    "WHERE inter * 2 >= sa.sz + sb.sz - inter GROUP BY 1)"

  /** Incremental-minhash oracle: corpus (doc_id < 250) and batch
    * (doc_id >= 250) each get their OWN shingle/signature/band chain —
    * mirroring that the index was built from corpus text alone and the
    * batch is signed fresh (per-side DF caps included) — then candidates
    * are the batch×corpus band-bucket join and the confirm runs over the
    * unioned hashed shingles, exactly the Spark composition. */
  private def incMinhashOracleSql: String =
    s"WITH ${shingleCteFor(3, "c", "WHERE doc_id < 250")}, ${bandsSqlFor("c")}, " +
    s"${shingleCteFor(3, "b", "WHERE doc_id >= 250")}, ${bandsSqlFor("b")}, " +
    incScreenTailSql("chs", "cbands")

  /** Takedown oracle: the SAME capped corpus chain (built on the full
    * corpus half — signatures don't un-happen), with the deleted
    * doc_ids tombstone-filtered from its two index outputs before the
    * shared screen tail — literally the Spark-side row filter, so the
    * equality is structural at any scale. */
  private def indexDeleteOracleSql: String =
    s"WITH ${shingleCteFor(3, "c", "WHERE doc_id < 250")}, ${bandsSqlFor("c")}, " +
    s"${shingleCteFor(3, "b", "WHERE doc_id >= 250")}, ${bandsSqlFor("b")}, " +
    "dhs AS (SELECT doc_id, h FROM chs WHERE doc_id % 10 <> 0), " +
    "dbnd AS (SELECT doc_id, band, bh FROM cbands WHERE doc_id % 10 <> 0), " +
    incScreenTailSql("dhs", "dbnd")

  /** Compaction-reconcile oracle: the tombstone screen (the SAME
    * dhs/dbnd filter as [[indexDeleteOracleSql]], t-prefixed tail) and
    * the compacted screen (an l-prefixed chain rebuilt from the LIVE
    * corpus — the DF cap recomputed on surviving counts, literally the
    * Spark-side [[minhashIndex]] on the filtered docs, k-prefixed
    * tail) composed in ONE WITH, joined per batch doc. Lockstep group:
    * the %10 takedown rule and the 250 split move with
    * dedup_index_delete / dedup_incremental_minhash. */
  private def indexCompactOracleSql: String =
    s"WITH ${shingleCteFor(3, "c", "WHERE doc_id < 250")}, ${bandsSqlFor("c")}, " +
    s"${shingleCteFor(3, "b", "WHERE doc_id >= 250")}, ${bandsSqlFor("b")}, " +
    "dhs AS (SELECT doc_id, h FROM chs WHERE doc_id % 10 <> 0), " +
    "dbnd AS (SELECT doc_id, band, bh FROM cbands WHERE doc_id % 10 <> 0), " +
    s"${shingleCteFor(3, "l", "WHERE doc_id < 250 AND doc_id % 10 <> 0")}, " +
    s"${bandsSqlFor("l")}, " +
    incScreenCtesFor("t", "dhs", "dbnd") + ", " +
    incScreenCtesFor("k", "lhs", "lbands") + " " +
    "SELECT d.doc_id, " +
    "CAST(coalesce(tm.n_corpus_matches, 0) AS BIGINT) AS n_tomb, " +
    "CAST(coalesce(tm.n_corpus_matches, 0) = 0 AS INTEGER) AS keep_tomb, " +
    "CAST(coalesce(km.n_corpus_matches, 0) AS BIGINT) AS n_comp, " +
    "CAST(coalesce(km.n_corpus_matches, 0) = 0 AS INTEGER) AS keep_comp, " +
    "CAST(coalesce(tm.n_corpus_matches, 0) <> coalesce(km.n_corpus_matches, 0) " +
    "AS INTEGER) AS drift " +
    "FROM documents d LEFT JOIN tm ON tm.doc_id = d.doc_id " +
    "LEFT JOIN km ON km.doc_id = d.doc_id WHERE d.doc_id >= 250"

  /** [[compactPolicy]] oracle (cp-prefixed): the UNCAPPED corpus-half
    * shingle frame is `cpsh0` from the shared [[shingleCteFor]]
    * generator (its capped cprare/cpsh tail goes unreferenced — free in
    * DuckDB); signals and the decision mirror the Spark side literally
    * (cap 100, tomb threshold 200000, %10 rule, 250 split — all
    * lockstep). DuckDB sums of INTEGER are HUGEINT → every sum is cast
    * BIGINT. */
  private def compactPolicyOracleSql: String =
    s"WITH ${shingleCteFor(3, "cp", "WHERE doc_id < 250")}, " +
    "cpdf AS (SELECT h1, h2, CAST(count(*) AS BIGINT) AS df, " +
    "CAST(sum(CASE WHEN doc_id % 10 <> 0 THEN 1 ELSE 0 END) AS BIGINT) " +
    "AS df_live FROM cpsh0 GROUP BY h1, h2), " +
    "cpss AS (SELECT " +
    s"CAST(coalesce(sum(CASE WHEN df > $MaxShingleDf THEN 1 ELSE 0 END), 0) " +
    "AS BIGINT) AS n_over_cap, " +
    s"CAST(coalesce(sum(CASE WHEN df > $MaxShingleDf AND " +
    s"df_live <= $MaxShingleDf THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_heal " +
    "FROM cpdf), " +
    "cpds AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus, " +
    "CAST(coalesce(sum(CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END), 0) " +
    "AS BIGINT) AS n_deleted FROM documents WHERE doc_id < 250), " +
    "cppre AS (SELECT n_corpus, n_deleted, " +
    "CASE WHEN n_corpus = 0 THEN CAST(0 AS BIGINT) " +
    "ELSE (n_deleted * 1000000) // n_corpus END AS tomb_frac_micro, " +
    "n_over_cap, n_heal FROM cpds CROSS JOIN cpss) " +
    "SELECT n_corpus, n_deleted, tomb_frac_micro, n_over_cap, n_heal, " +
    s"CAST($TombFracCompact AS BIGINT) AS tomb_threshold_micro, " +
    s"CAST(CASE WHEN tomb_frac_micro >= $TombFracCompact OR n_heal >= 1 " +
    "THEN 1 ELSE 0 END AS INTEGER) AS compact FROM cppre"

  /** SimHash fingerprint chain as a CTE ending in `shh(doc_id, simhash)`
    * — same two folds, same 60 sign-bit sums as the Spark side; shared
    * by the fingerprint query and the hamming-band pair oracle. */
  private def simhashCteSql: String = {
    val bitSums = (0 until SimBits).map { j =>
      val src = if (j < 30) s"(h1 >> $j)" else s"(h2 >> ${j - 30})"
      s"sum(CASE WHEN ($src & 1) = 1 THEN 1 ELSE -1 END) AS b$j"
    }.mkString(", ")
    val bitVals = (0 until SimBits)
      .map(j => s"(CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END)")
      .mkString(" + ")
    "tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents), " +
    s"th AS (SELECT doc_id, ${polyHashSql("tok", 31L, P1)} AS h1, " +
    s"${polyHashSql("tok", 131L, P2)} AS h2 FROM tk), " +
    s"bs AS (SELECT doc_id, $bitSums FROM th GROUP BY doc_id), " +
    s"shh AS (SELECT doc_id, CAST($bitVals AS BIGINT) AS simhash FROM bs)"
  }

  private def simhashOracleSql: String =
    s"WITH $simhashCteSql SELECT doc_id, simhash FROM shh"

  /** Hamming-band pair oracle: same band split ((simhash >> 15·band) &
    * 32767) and XOR-popcount confirm as [[simhashPairs]]. */
  private def simhashPairsOracleSql: String =
    s"WITH $simhashCteSql, " +
    "bands AS (SELECT doc_id, simhash, band, " +
    s"(simhash >> ($HamBandBits*CAST(band AS INTEGER))) & ${(1L << HamBandBits) - 1} AS bk " +
    s"FROM shh, UNNEST(range(0,$HamBands)) AS u(band)), " +
    "p AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id, " +
    "CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming " +
    "FROM bands a JOIN bands b ON a.band = b.band AND a.bk = b.bk " +
    "AND a.doc_id < b.doc_id) " +
    s"SELECT a_id, b_id, hamming FROM p WHERE hamming <= $MaxHamming"

  /** Duplicated-window starts chain (xgt/xg/xd/xs) — the DuckDB mirror
    * of [[dupWindowStarts]]; composed by BOTH substr oracles (lockstep
    * with the Spark shared base; xg-prefixed names disjoint from the
    * shingle chains per the CTE-namespace rule). */
  private def substrStartsCteSql: String =
    "xgt AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
    "xg AS (SELECT doc_id, CAST(i AS BIGINT) AS p, " +
    s"array_to_string(t[i:i+${SubstrW - 1}], ' ') AS g " +
    s"FROM xgt, UNNEST(range(1, len(t) - ${SubstrW - 2})) AS u(i) WHERE len(t) >= $SubstrW), " +
    "xd AS (SELECT g FROM xg GROUP BY g HAVING count(DISTINCT doc_id) >= 2), " +
    "xs AS (SELECT xg.doc_id, xg.p FROM xg JOIN xd USING (g))"

  val sql: Map[String, String] = Map(
    // interval-union coverage: running max of exclusive interval ends
    // over the PRECEDING frame mirrors substrCross's window; all
    // operands non-negative so // and div agree
    "dedup_substr_cross" ->
      (s"WITH $substrStartsCteSql, " +
       s"xi AS (SELECT doc_id, greatest(0, (p + $SubstrW) - greatest(coalesce(" +
       s"max(p + $SubstrW) OVER (PARTITION BY doc_id ORDER BY p " +
       "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), p), p)) AS a " +
       "FROM xs), " +
       "xc AS (SELECT doc_id, CAST(sum(a) AS BIGINT) AS n_covered " +
       "FROM xi GROUP BY doc_id) " +
       "SELECT d.doc_id, CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens, " +
       "CAST(coalesce(xc.n_covered, 0) AS BIGINT) AS n_covered, " +
       "CASE WHEN len(string_split(d.text, ' ')) = 0 THEN CAST(0 AS BIGINT) " +
       "ELSE (CAST(coalesce(xc.n_covered, 0) AS BIGINT) * CAST(1000000 AS BIGINT)) " +
       "// CAST(len(string_split(d.text, ' ')) AS BIGINT) END AS dup_frac_micro " +
       "FROM documents d LEFT JOIN xc ON d.doc_id = xc.doc_id ORDER BY d.doc_id"),
    // excise apply: same xs starts → gaps-and-islands union (break flag
    // on running max of prior ends, prefix-sum island id) → complement
    // against [1, n+1). All-BIGINT; branch 2's max(n.n) is constant per
    // doc (n is functionally dependent on doc_id through the join)
    "dedup_substr_excise" ->
      (s"WITH $substrStartsCteSql, " +
       s"xb AS (SELECT doc_id, p, CASE WHEN p > coalesce(max(p + $SubstrW) OVER " +
       "(PARTITION BY doc_id ORDER BY p " +
       "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), " +
       "CAST(-1 AS BIGINT)) THEN 1 ELSE 0 END AS brk FROM xs), " +
       "xl AS (SELECT doc_id, p, sum(brk) OVER " +
       "(PARTITION BY doc_id ORDER BY p) AS isl FROM xb), " +
       s"xcov AS (SELECT doc_id, isl, min(p) AS cs, max(p + $SubstrW) AS ce " +
       "FROM xl GROUP BY doc_id, isl), " +
       "xnt AS (SELECT doc_id, " +
       "CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents), " +
       "xk AS (" +
       "SELECT doc_id, coalesce(lag(ce) OVER (PARTITION BY doc_id " +
       "ORDER BY cs), CAST(1 AS BIGINT)) AS ks, cs AS ke FROM xcov " +
       "UNION ALL " +
       "SELECT c.doc_id, max(c.ce) AS ks, max(n.n) + 1 AS ke " +
       "FROM xcov c JOIN xnt n ON c.doc_id = n.doc_id GROUP BY c.doc_id " +
       "UNION ALL " +
       "SELECT n.doc_id, CAST(1 AS BIGINT) AS ks, n.n + 1 AS ke " +
       "FROM xnt n WHERE n.doc_id NOT IN (SELECT doc_id FROM xcov)) " +
       "SELECT doc_id, ks AS keep_start, ke AS keep_end, " +
       "ke - ks AS n_keep FROM xk WHERE ks < ke " +
       "ORDER BY doc_id, keep_start"),
    "dedup_fuzzy" ->
      ("WITH nm AS (SELECT p_name AS name, count(*) AS n_rows, " +
       "split_part(p_name, ' ', 2) AS blk FROM part GROUP BY p_name) " +
       "SELECT a.name AS a_name, b.name AS b_name, " +
       "a.n_rows AS n_a, b.n_rows AS n_b, " +
       "CAST(levenshtein(a.name, b.name) AS INTEGER) AS dist " +
       "FROM nm a JOIN nm b ON a.blk = b.blk AND a.name < b.name " +
       "WHERE levenshtein(a.name, b.name) <= 2"),
    // md5 grouping keys mirror the Spark side's narrow-shuffle-key plan
    // (same UTF-8 byte digest on both engines; groups are identical to
    // grouping by the text itself absent an md5 collision)
    "dedup_exact" ->
      ("SELECT min(doc_id) AS keep_id, count(*) AS n_copies " +
       "FROM documents GROUP BY md5(text)"),
    "dedup_exact_norm" ->
      ("SELECT min(doc_id) AS keep_id, count(*) AS n_copies FROM documents " +
       "GROUP BY md5(regexp_replace(lower(trim(text)), ' +', ' ', 'g'))"),
    "dedup_ngram_jaccard" ->
      s"WITH $ngramPairCte SELECT a_id, b_id, inter, uni FROM jac",
    // dtc-prefixed tail over the SAME jac chain; threshold list and the
    // inter·100 >= t·uni predicate mirrored — lockstep with
    // thresholdCurve (and the family's 0.2 floor)
    // cr-prefixed tails + the shared jac chain; RAW-text dup groups
    // (HAVING >= 2), coalesced zero on a dup-free corpus, non-negative
    // mean division — lockstep with statsReport
    "corpus_stats_report" ->
      (s"WITH $ngramPairCte, " +
       "crb AS (SELECT count(*) AS n_docs, " +
       "count(DISTINCT source) AS n_sources FROM documents), " +
       "crt AS (SELECT count(*) AS n_tokens, count(DISTINCT tok) AS n_vocab " +
       "FROM (SELECT unnest(string_split(text, ' ')) AS tok " +
       "FROM documents) crq), " +
       "crd AS (SELECT count(*) AS n_dup_groups, " +
       "CAST(coalesce(sum(c - 1), 0) AS BIGINT) AS n_dup_docs FROM " +
       "(SELECT count(*) AS c FROM documents GROUP BY text " +
       "HAVING count(*) > 1) crg), " +
       "crn AS (SELECT count(*) AS n_neardup_pairs FROM jac) " +
       "SELECT n_docs, n_sources, n_tokens, n_vocab, " +
       "(n_tokens * 1000000) // n_docs AS mean_tok_micro, " +
       "n_dup_groups, n_dup_docs, n_neardup_pairs " +
       "FROM crb, crt, crd, crn"),
    "dedup_threshold_curve" ->
      (s"WITH $ngramPairCte, " +
       "dtct AS (SELECT UNNEST([20, 30, 40, 50, 60, 70, 80, 90]) AS thr_pct), " +
       "dtcc AS (SELECT t.thr_pct, count(j.a_id) AS n_pairs FROM dtct t " +
       "LEFT JOIN jac j ON j.inter * 100 >= t.thr_pct * j.uni " +
       "GROUP BY t.thr_pct) " +
       "SELECT CAST(thr_pct AS INTEGER) AS thr_pct, " +
       "CAST(n_pairs AS BIGINT) AS n_pairs FROM dtcc ORDER BY thr_pct"),
    // so-prefixed tail over the SAME jac chain; unordered source pair
    // via least/greatest — lockstep with sourceOverlap
    "dedup_source_overlap" ->
      (s"WITH $ngramPairCte, " +
       "sosrc AS (SELECT doc_id, source FROM documents), " +
       "sop AS (SELECT least(a.source, b.source) AS src_a, " +
       "greatest(a.source, b.source) AS src_b FROM jac " +
       "JOIN sosrc a ON jac.a_id = a.doc_id " +
       "JOIN sosrc b ON jac.b_id = b.doc_id) " +
       "SELECT src_a, src_b, count(*) AS n_pairs FROM sop " +
       "GROUP BY src_a, src_b ORDER BY src_a, src_b"),
    // pnd-prefixed: paragraph units (text_chunk's 200/200 windows,
    // pid = doc_id*1e6 + idx), the SAME capped shingle chain via
    // shingleCteFor's `from` relation, the SAME inter*5 >= uni
    // threshold (jaccard lockstep group), cross-doc pairs only,
    // per-doc duplicated-paragraph fraction; all quantities nonneg so
    // // ≡ div; flagged at the 0.5 dupSpanFrac convention
    "dedup_para_neardup" ->
      (s"WITH $paraPairCte, " +
       "pndd AS (SELECT DISTINCT pid FROM " +
       "(SELECT a_id AS pid FROM pndx UNION ALL SELECT b_id FROM pndx) t), " +
       "pndn AS (SELECT doc_id, count(*) AS n_para FROM pndu GROUP BY doc_id), " +
       "pndc AS (SELECT pid // 1000000 AS doc_id, count(*) AS n_dup " +
       "FROM pndd GROUP BY 1) " +
       "SELECT n.doc_id, CAST(n.n_para AS BIGINT) AS n_para, " +
       "CAST(coalesce(c.n_dup, 0) AS BIGINT) AS n_dup_para, " +
       "(CAST(coalesce(c.n_dup, 0) AS BIGINT) * 1000000) // n.n_para " +
       "AS dup_frac_micro, " +
       "CAST((CAST(coalesce(c.n_dup, 0) AS BIGINT) * 1000000) // n.n_para " +
       ">= 500000 AS INTEGER) AS flagged " +
       "FROM pndn n LEFT JOIN pndc c USING (doc_id) ORDER BY n.doc_id"),
    // pnde/pndk tail over the SHARED pnd chain (measure and excise move
    // together): drop = b side of any cross-doc pair (min-pid survivor,
    // pairwise); len() is BIGINT in DuckDB, Spark side casts to long
    "dedup_para_excise" ->
      (s"WITH $paraPairCte, " +
       "pnde AS (SELECT DISTINCT b_id AS pid FROM pndx), " +
       "pndk AS (SELECT u.doc_id, u.pid, " +
       "CAST(len(string_split(u.ptext, ' ')) AS BIGINT) AS n_tok, " +
       "CASE WHEN e.pid IS NOT NULL THEN 1 ELSE 0 END AS drp " +
       "FROM pndu u LEFT JOIN pnde e USING (pid)) " +
       "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_para, " +
       "CAST(sum(drp) AS BIGINT) AS n_excised, " +
       "CAST(sum(n_tok) AS BIGINT) AS tok_total, " +
       "CAST(sum(CASE WHEN drp = 0 THEN n_tok ELSE 0 END) AS BIGINT) AS tok_kept, " +
       "((CAST(sum(n_tok) AS BIGINT) - " +
       "CAST(sum(CASE WHEN drp = 0 THEN n_tok ELSE 0 END) AS BIGINT)) " +
       "* 1000000) // CAST(sum(n_tok) AS BIGINT) AS saved_micro " +
       "FROM pndk GROUP BY doc_id ORDER BY doc_id"),
    // same candidate/stats CTEs as jac, containment threshold instead:
    // smaller side >= 80% contained (inter*5 >= min(sz)*4, exact ints)
    "dedup_containment" ->
      (s"WITH ${shingleCte(5)}, " +
       "sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id), " +
       "pr AS (SELECT x.doc_id AS a_id, y.doc_id AS b_id, count(*) AS inter " +
       "FROM sh x JOIN sh y ON x.h1 = y.h1 AND x.h2 = y.h2 " +
       "AND x.doc_id < y.doc_id GROUP BY 1, 2) " +
       "SELECT a_id, b_id, inter, sa.sz AS sz_a, sb.sz AS sz_b FROM pr " +
       "JOIN sz sa ON sa.doc_id = a_id JOIN sz sb ON sb.doc_id = b_id " +
       "WHERE inter * 5 >= least(sa.sz, sb.sz) * 4"),
    // fh-prefixed; composes the shingle generator's UNCAPPED sh0
    // (double-hash keys); band edges powers of two to the cap boundary
    // (MaxShingleDf lockstep); over_cap = the shingles the candidate
    // stage drops
    "dedup_df_hist" -> {
      val names = Seq("df_1", "df_2", "df_3_4", "df_5_8", "df_9_16",
                      "df_17_32", "df_33_64", s"df_65_$MaxShingleDf",
                      "over_cap")
      val nameCase = names.zipWithIndex
        .map { case (s, i) => s"WHEN $i THEN '$s'" }.mkString(" ")
      (s"WITH ${shingleCteFor(3, "fh", "")}, " +
       "fhd AS (SELECT h1, h2, count(*) AS df FROM fhsh0 GROUP BY h1, h2), " +
       "fhb AS (SELECT CASE WHEN df = 1 THEN 0 WHEN df <= 2 THEN 1 " +
       "WHEN df <= 4 THEN 2 WHEN df <= 8 THEN 3 WHEN df <= 16 THEN 4 " +
       "WHEN df <= 32 THEN 5 WHEN df <= 64 THEN 6 " +
       s"WHEN df <= $MaxShingleDf THEN 7 ELSE 8 END AS bucket_id, df FROM fhd), " +
       "fha AS (SELECT bucket_id, count(*) AS n_shingles, " +
       "CAST(sum(df) AS BIGINT) AS n_postings FROM fhb GROUP BY bucket_id), " +
       "fht AS (SELECT CAST(sum(n_shingles) AS BIGINT) AS tot FROM fha) " +
       s"SELECT bucket_id, CASE bucket_id $nameCase ELSE '?' END AS bucket, " +
       "n_shingles, n_postings, " +
       "(n_shingles * CAST(1000000 AS BIGINT)) // tot AS share_micro " +
       "FROM fha, fht ORDER BY bucket_id")
    },
    // nv-prefixed; STRING shingles where Spark keys on the 16-byte
    // double hash (equal absent a 2^-59 collision — the shingleGroups
    // rule); short docs (< 3 tokens) read novelty 1e6 via the CASE
    "text_ngram_novelty" ->
      ("WITH nvt AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
       "nvs AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS s " +
       "FROM nvt, UNNEST(range(1, len(t) - 1)) AS u(i) WHERE len(t) >= 3), " +
       "nvf AS (SELECT s, min(doc_id) AS fd FROM nvs GROUP BY s), " +
       "nvp AS (SELECT nvs.doc_id, count(*) AS n_sh, " +
       "CAST(sum(CASE WHEN nvf.fd = nvs.doc_id THEN 1 ELSE 0 END) AS BIGINT) " +
       "AS n_novel FROM nvs JOIN nvf USING (s) GROUP BY nvs.doc_id) " +
       "SELECT d.doc_id, CAST(coalesce(p.n_sh, 0) AS BIGINT) AS n_sh, " +
       "CAST(coalesce(p.n_novel, 0) AS BIGINT) AS n_novel, " +
       "CASE WHEN coalesce(p.n_sh, 0) = 0 THEN CAST(1000000 AS BIGINT) " +
       "ELSE (p.n_novel * CAST(1000000 AS BIGINT)) // p.n_sh END AS novelty_micro " +
       "FROM documents d LEFT JOIN nvp p USING (doc_id) ORDER BY d.doc_id"),
    // dsv-prefixed tail over the cluster labels (clusterLabCte — the
    // jaccard-threshold lockstep group gains this report); min-doc
    // survivor rule mirrors dedup_keep
    "corpus_dedup_savings" ->
      (s"WITH RECURSIVE $clusterLabCte, " +
       "dsvt AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) " +
       "AS n_tok FROM documents), " +
       "dsvk AS (SELECT cluster, min(doc_id) AS keep_id FROM lab GROUP BY cluster), " +
       "dsvl AS (SELECT l.doc_id, t.n_tok, " +
       "CASE WHEN l.doc_id = k.keep_id THEN 1 ELSE 0 END AS kept " +
       "FROM lab l JOIN dsvk k USING (cluster) JOIN dsvt t USING (doc_id)), " +
       "dsva AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, " +
       "CAST(sum(kept) AS BIGINT) AS n_kept, " +
       "CAST(sum(n_tok) AS BIGINT) AS tok_total, " +
       "CAST(sum(n_tok * kept) AS BIGINT) AS tok_kept FROM dsvl) " +
       "SELECT n_docs, n_kept, n_docs - n_kept AS n_dropped, tok_total, " +
       "tok_kept, tok_total - tok_kept AS tok_dropped, " +
       "((tok_total - tok_kept) * CAST(1000000 AS BIGINT)) // tok_total " +
       "AS savings_micro FROM dsva"),
    // bf-prefixed; bases/bits literals lockstep with BloomBases/
    // BloomBits; corpus split 250 = n/2 at sf0.01 (adaptive-knob rule);
    // the bit array is the DISTINCT position set — the oracle
    // reproduces the EXACT filter via the portable fold
    "dedup_bloom_screen" -> {
      val posSqls = BloomBases.map(b =>
        s"${polyHashSql("nt", b, 1000003L)} % $BloomBits")
      ("WITH bfn AS (SELECT doc_id, " +
       "regexp_replace(lower(trim(text)), ' +', ' ', 'g') AS nt FROM documents), " +
       "bfc AS (SELECT * FROM bfn WHERE doc_id < 250), " +
       "bfb AS (SELECT * FROM bfn WHERE doc_id >= 250), " +
       s"bfh AS (${posSqls.map(p => s"SELECT doc_id, $p AS pos FROM bfc")
                          .mkString(" UNION ALL ")}), " +
       "bfbits AS (SELECT DISTINCT pos FROM bfh), " +
       s"bfq AS (SELECT DISTINCT doc_id, pos FROM (${
         posSqls.map(p => s"SELECT doc_id, $p AS pos FROM bfb")
                .mkString(" UNION ALL ")}) t), " +
       "bfm AS (SELECT q.doc_id, count(*) AS np, " +
       "sum(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END) AS nm " +
       "FROM bfq q LEFT JOIN bfbits b ON q.pos = b.pos GROUP BY q.doc_id), " +
       "bfk AS (SELECT DISTINCT md5(nt) AS k FROM bfc), " +
       "bfd AS (SELECT b.doc_id, CASE WHEN k.k IS NOT NULL THEN 1 ELSE 0 END " +
       "AS is_dup FROM bfb b LEFT JOIN bfk k ON md5(b.nt) = k.k) " +
       "SELECT m.doc_id, CAST(m.nm = m.np AS INTEGER) AS flagged, d.is_dup, " +
       "CASE WHEN m.nm = m.np AND d.is_dup = 1 THEN 'tp' " +
       "WHEN m.nm = m.np THEN 'fp' WHEN d.is_dup = 1 THEN 'fn' " +
       "ELSE 'tn' END AS verdict " +
       "FROM bfm m JOIN bfd d ON m.doc_id = d.doc_id ORDER BY m.doc_id")
    },
    "dedup_incremental" ->
      (s"WITH $ngramPairCte, " +
       "m AS (SELECT b_id AS doc_id, count(*) AS n_corpus_matches FROM jac " +
       "WHERE a_id < 250 AND b_id >= 250 AND inter * 2 >= uni GROUP BY 1) " +
       "SELECT d.doc_id, " +
       "CAST(coalesce(m.n_corpus_matches, 0) AS BIGINT) AS n_corpus_matches, " +
       "CAST(coalesce(m.n_corpus_matches, 0) = 0 AS INTEGER) AS keep " +
       "FROM documents d LEFT JOIN m USING (doc_id) WHERE d.doc_id >= 250"),
    "dedup_minhash_lsh" -> minhashOracleSql,
    "dedup_minhash_eval" -> minhashEvalOracleSql,
    // the 32-signature re-fold per (bands, rows) config references its
    // upstream CTEs multiply — DuckDB's default inlining re-derived the
    // chain per config (60.8 s at sf0.01; materialized 0.1 s, rows
    // bit-identical — the VERDICT r18 item-1 discipline). Non-recursive
    // (the RECURSIVE families must never take this hint).
    "dedup_band_sweep" -> OracleHints.materializeCtes(bandSweepOracleSql),
    "dedup_incremental_minhash" -> incMinhashOracleSql,
    // the disk-index screen computes the identical result — same oracle
    "dedup_index_persist" -> incMinhashOracleSql,
    "dedup_index_delete" -> indexDeleteOracleSql,
    "dedup_index_compact" -> indexCompactOracleSql,
    "dedup_compact_policy" -> compactPolicyOracleSql,
    "dedup_simhash" -> simhashOracleSql,
    "dedup_simhash_pairs" -> simhashPairsOracleSql,
    "dedup_clusters" ->
      s"WITH RECURSIVE $clusterLabCte SELECT doc_id, cluster FROM lab",
    "dedup_cluster_stats" ->
      (s"WITH RECURSIVE $clusterLabCte, " +
       "csz AS (SELECT cluster, count(*) AS cluster_size FROM lab GROUP BY cluster) " +
       "SELECT cluster_size, count(*) AS n_clusters, " +
       "CAST(sum(cluster_size) AS BIGINT) AS n_docs " +
       "FROM csz GROUP BY cluster_size ORDER BY cluster_size"),
    "dedup_keep" ->
      (s"WITH RECURSIVE $clusterLabCte " +
       "SELECT min(doc_id) AS doc_id, count(*) AS cluster_size FROM lab GROUP BY cluster"),
    // kb-prefixed tail composing the cluster chain with TextOps'
    // quality-trainer chain (q-prefixed names, disjoint by the prefix
    // rule) — survivor = (score_micro desc, doc_id asc) rank 1 per
    // cluster; all-integer keys, no float discipline needed
    "dedup_keep_best" ->
      (s"WITH RECURSIVE $clusterLabCte, ${TextOps.qualityTrainCteSql}, " +
       "kbs AS (SELECT doc_id, CAST(sum(w_micro) AS BIGINT) AS score_micro " +
       "FROM qtb JOIN qw ON qtb.b = qw.bucket GROUP BY doc_id), " +
       "kbj AS (SELECT l.cluster, l.doc_id, s.score_micro " +
       "FROM lab l JOIN kbs s USING (doc_id)), " +
       "kbr AS (SELECT cluster, doc_id, score_micro, " +
       "row_number() OVER (PARTITION BY cluster " +
       "ORDER BY score_micro DESC, doc_id ASC) AS rn, " +
       "count(*) OVER (PARTITION BY cluster) AS cluster_size, " +
       "min(doc_id) OVER (PARTITION BY cluster) AS min_id FROM kbj) " +
       "SELECT cluster, doc_id, score_micro, " +
       "CAST(cluster_size AS BIGINT) AS cluster_size, " +
       "CAST(doc_id <> min_id AS INTEGER) AS changed_pick " +
       "FROM kbr WHERE rn = 1 ORDER BY cluster"),
    // dk-prefixed tail over the cluster labels: A-ES keys with weight
    // 1/cluster_size as the DIVISION-FREE product (−lnu)·cluster_size;
    // u scramble, micronized-ln-first, k literal 5 and the doc_id
    // tie-break all lockstep with dedupWeightedSample (and the ws
    // family's discipline)
    "dedup_weighted_sample" ->
      (s"WITH RECURSIVE $clusterLabCte, " +
       "dkz AS (SELECT cluster, CAST(count(*) AS BIGINT) AS cluster_size " +
       "FROM lab GROUP BY cluster), " +
       "dkk AS (SELECT d.source, l.doc_id, z.cluster_size, " +
       s"(${Similarity.saltOrdSql("l.doc_id")} % 1000000) + 1 AS u_micro " +
       "FROM lab l JOIN documents d USING (doc_id) " +
       "JOIN dkz z ON z.cluster = l.cluster), " +
       "dkl AS (SELECT source, doc_id, cluster_size, " +
       "(-(CAST(round(ln(CAST(u_micro AS DOUBLE) / CAST(1000000 AS DOUBLE)) " +
       "* 1e6) AS BIGINT))) * cluster_size AS key_micro FROM dkk), " +
       "dkr AS (SELECT source, doc_id, cluster_size, key_micro, " +
       "row_number() OVER (PARTITION BY source " +
       "ORDER BY key_micro ASC, doc_id ASC) AS rn FROM dkl) " +
       "SELECT source, doc_id, CAST(rn AS INTEGER) AS rn, cluster_size, " +
       "key_micro FROM dkr WHERE rn <= 5"),
    // the clusters chain + the corpus_split Knuth-scramble rule applied
    // to the CLUSTER label
    "corpus_split_safe" ->
      (s"WITH RECURSIVE $clusterLabCte " +
       "SELECT doc_id, cluster, CASE WHEN b < 80 THEN 'train' " +
       "WHEN b < 90 THEN 'validation' ELSE 'test' END AS split " +
       "FROM (SELECT doc_id, cluster, " +
       s"${Similarity.saltOrdSql("cluster")} % 100 AS b FROM lab) t"),
    "dedup_sketch_merge" -> sketchMergeOracleSql)
}
