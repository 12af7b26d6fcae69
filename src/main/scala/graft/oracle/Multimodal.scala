package graft.oracle

import graft.ext.Multimodal._

/** DuckDB reference SQL of the [[graft.ext.Multimodal]] queries. */
private[graft] object Multimodal {

  private val metaSql =
    "SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes, " +
      "(strlen(text) * 7 + 13) % 640 AS width, " +
      "(strlen(text) * 11 + 17) % 480 AS height, 3 AS channels FROM documents"

  /** The FULL 256-bin byte histogram as CTEs ending in `mh` (doc_id,
    * bucket, cnt) — oracle mirror of the near-dup signature. The
    * oracle counts ascii(char) where Spark counts payload bytes —
    * valid only under the ASCII-corpus invariant (TestdataAsciiSpec),
    * the mm_dedup_media rule. Names claimed: mhc/mh. */
  private val hist256CteSql: String =
    "mhc AS (SELECT doc_id, UNNEST(list_transform(range(1, strlen(text)+1), " +
    "i -> ascii(text[CAST(i AS INTEGER)]))) AS b FROM documents), " +
    "mh AS (SELECT doc_id, CAST(b AS INTEGER) AS bucket, count(*) AS cnt " +
    "FROM mhc GROUP BY doc_id, bucket)"

  /** The CDC chunk extraction as CTEs ending in `cc` (doc_id, chunk) —
    * oracle mirror of [[cdcChunksOf]] over its CdcWindow/Base/Mod/Div;
    * shared by mm_cdc_chunks and mm_cdc_pairs (names claimed:
    * cb/ce/cc). */
  private[graft] val cdcChunkCteSql: String =
    "cb AS (SELECT doc_id, text, " +
    s"list_filter(range($CdcWindow, strlen(text)+1), bi -> " +
    s"list_reduce([CAST(0 AS BIGINT)] || list_transform(range(bi-${CdcWindow - 1}, bi+1), " +
    "cj -> CAST(ascii(text[CAST(cj AS INTEGER)]) AS BIGINT)), " +
    s"(h, c) -> (h*$CdcBase + c) % $CdcMod) % $CdcDiv = 0) AS bs FROM documents), " +
    "ce AS (SELECT doc_id, text, " +
    "list_append(list_filter(bs, x -> x < strlen(text)), strlen(text)) " +
    "AS ends FROM cb), " +
    "cc AS (SELECT doc_id, text[CAST(CASE WHEN u.k = 1 THEN 1 ELSE " +
    "ends[CAST(u.k-1 AS INTEGER)]+1 END AS INTEGER) : " +
    "CAST(ends[CAST(u.k AS INTEGER)] AS INTEGER)] AS chunk " +
    "FROM ce, UNNEST(range(1, len(ends)+1)) AS u(k))"

  val sql: Map[String, String] = Map(
    // mx-prefixed; regexp over text ≡ regexp over decoded payload under
    // the ASCII-corpus invariant; (cnt desc, s asc) rank, top-20 literal
    "mm_strings_extract" ->
      ("WITH mxr AS (SELECT doc_id, unnest(regexp_extract_all(text, " +
       "'[A-Za-z]{6,}')) AS s FROM documents), " +
       "mxc AS (SELECT s, count(*) AS cnt, " +
       "count(DISTINCT doc_id) AS n_docs FROM mxr GROUP BY s), " +
       "mxk AS (SELECT s, cnt, n_docs, CAST(row_number() OVER (" +
       "ORDER BY cnt DESC, s ASC) AS INTEGER) AS rn FROM mxc) " +
       "SELECT rn, s, cnt, n_docs FROM mxk WHERE rn <= 20 ORDER BY rn"),
    // CDC boundary rule mirrored literally: per candidate end position
    // bi, the 16-char window hash is the SAME PolyHashMod fold as the
    // Expression's rolling update (list_reduce with the mandatory
    // BIGINT seed cast — CLAUDE.md portable-hash rule); constants
    // 16/131/1000003/32 are lockstep with CdcWindow/Base/Mod/Div.
    // md5(chunk VARCHAR) == md5(chunk bytes) under the ASCII-corpus
    // invariant (TestdataAsciiSpec)
    "mm_cdc_chunks" ->
      (s"WITH $cdcChunkCteSql " +
       "SELECT md5(chunk) AS fp, count(DISTINCT doc_id) AS n_docs, " +
       "count(*) AS n_occ, min(doc_id) AS keep_id, " +
       "CAST(max(strlen(chunk)) AS BIGINT) AS chunk_len " +
       "FROM cc GROUP BY 1 HAVING count(*) >= 2"),
    // CDC pairs: the same cdcChunkCteSql chain feeding the identical
    // DF-cap/half-containment pair logic as mm_dedup_chunks —
    // thresholds move in lockstep with chunkPairsOf
    "mm_cdc_pairs" ->
      (s"WITH $cdcChunkCteSql, " +
       "pch AS (SELECT DISTINCT doc_id, md5(chunk) AS d FROM cc), " +
       s"prare AS (SELECT d FROM pch GROUP BY d HAVING count(*) <= $MaxChunkDf), " +
       "pchr AS (SELECT pch.doc_id, pch.d FROM pch JOIN prare USING (d)), " +
       "psz AS (SELECT doc_id, count(*) AS sz FROM pchr GROUP BY doc_id), " +
       "ppr AS (SELECT x.doc_id AS a_id, y.doc_id AS b_id, count(*) AS inter " +
       "FROM pchr x JOIN pchr y ON x.d = y.d AND x.doc_id < y.doc_id " +
       "GROUP BY 1, 2) " +
       "SELECT a_id, b_id, inter, sa.sz AS sz_a, sb.sz AS sz_b FROM ppr " +
       "JOIN psz sa ON ppr.a_id = sa.doc_id " +
       "JOIN psz sb ON ppr.b_id = sb.doc_id " +
       "WHERE inter * 2 >= least(sa.sz, sb.sz)"),
    // fixture-construction ground truth (the dedup_url pattern): the
    // Spark side PARSES real header bytes; the oracle restates what the
    // builder wrote — parity: even=png(33 B), odd=jpeg(46+digits B)
    "mm_image_dims" ->
      ("SELECT doc_id, " +
       "CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format, " +
       "CAST(16 + doc_id % 1024 AS BIGINT) AS width, " +
       "CAST(16 + (doc_id * 7) % 768 AS BIGINT) AS height, " +
       "CAST(CASE WHEN doc_id % 2 = 0 THEN 33 " +
       "ELSE 46 + strlen(CAST(doc_id AS VARCHAR)) END AS BIGINT) AS n_bytes " +
       "FROM documents ORDER BY doc_id"),
    "mm_media_meta"      -> metaSql,
    "mm_media_meta_plan" -> metaSql,
    // md5(text) = md5(payload bytes) under the ASCII-corpus invariant
    // (TestdataAsciiSpec); DuckDB md5 is VARCHAR-only
    "mm_dedup_media" ->
      ("SELECT md5(text) AS fp, min(doc_id) AS keep_id, " +
       "count(*) AS n_copies, CAST(max(strlen(text)) AS BIGINT) AS n_bytes " +
       "FROM documents GROUP BY md5(text)"),
    // chunk digests over text[i*c+1 : i*c+c] = the payload's
    // ChunkBytes-byte blocks under the ASCII-corpus invariant (DuckDB md5 and
    // slicing are VARCHAR-based); DF cap and containment threshold
    // mirrored exactly
    "mm_dedup_chunks" ->
      ("WITH ch AS (SELECT DISTINCT doc_id, " +
       s"md5(text[CAST(i*$ChunkBytes+1 AS INTEGER) : CAST(i*$ChunkBytes+$ChunkBytes AS INTEGER)]) " +
       "AS d FROM documents, " +
       s"UNNEST(range(0, (greatest(strlen(text), 1) - 1)//$ChunkBytes + 1)) AS u(i)), " +
       s"rare AS (SELECT d FROM ch GROUP BY d HAVING count(*) <= $MaxChunkDf), " +
       "chr AS (SELECT ch.doc_id, ch.d FROM ch JOIN rare USING (d)), " +
       "sz AS (SELECT doc_id, count(*) AS sz FROM chr GROUP BY doc_id), " +
       "pr AS (SELECT x.doc_id AS a_id, y.doc_id AS b_id, count(*) AS inter " +
       "FROM chr x JOIN chr y ON x.d = y.d AND x.doc_id < y.doc_id GROUP BY 1, 2) " +
       "SELECT a_id, b_id, inter, sa.sz AS sz_a, sb.sz AS sz_b FROM pr " +
       "JOIN sz sa ON sa.doc_id = a_id JOIN sz sb ON sb.doc_id = b_id " +
       "WHERE inter * 2 >= least(sa.sz, sb.sz)"),
    "mm_frame_sample" ->
      (s"SELECT doc_id, i AS frame_idx, i * $FrameBytes AS frame_off, " +
       s"least($FrameBytes, strlen(text) - i * $FrameBytes) AS frame_len " +
       "FROM documents, UNNEST(range(0, CAST(ceil(strlen(text) / " +
       s"${FrameBytes.toDouble}) AS BIGINT), $FrameStride)) AS t(i)"),
    // byte-based (not codepoint-based): hex(encode(text)) is the UTF-8
    // byte stream, 2 hex chars per byte; char 2i-1 is byte i's high
    // nibble. Exact for arbitrary non-ASCII content.
    "mm_byte_histogram" ->
      ("WITH h AS (SELECT doc_id, hex(encode(text)) AS hx FROM documents), " +
       "ch AS (SELECT doc_id, UNNEST(list_transform(range(1, len(hx)//2 + 1), " +
       "i -> hx[2*i-1])) AS nib FROM h) " +
       "SELECT doc_id, CAST(CASE WHEN nib BETWEEN '0' AND '9' " +
       "THEN ascii(nib)-48 ELSE ascii(nib)-55 END AS INTEGER) AS bucket, " +
       "count(*) AS cnt FROM ch GROUP BY doc_id, bucket"),
    // mn-prefixed tail over the 256-bin `mh` signature (hist256CteSql,
    // ASCII-invariant): banded length join (width = threshold = HistTau,
    // lossless for L1 <= τ since |len_a-len_b| <= L1), signed-union
    // per-bucket |diff| then the sum. The Spark side computes the SAME
    // L1 over dense 256-long arrays via the codegen ArrayL1 primitive
    // (one row per candidate — the relational form here is the oracle's
    // sf0.01-sized mirror, not the scale path); every value non-negative
    "mm_hist_near_dup" ->
      (s"WITH $hist256CteSql, " +
       "mnl0 AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS len, " +
       s"CAST(sum(cnt) AS BIGINT) // $HistTau AS band FROM mh GROUP BY doc_id), " +
       // band cap HistBandCap in saltOrd order — does not bite at sf0.01
       // (max occupancy 28) but keeps the CTE chain the exact mirror
       // of the Spark guardrail
       "mnr AS (SELECT doc_id, len, band, row_number() OVER " +
       "(PARTITION BY band ORDER BY " +
       s"${Similarity.saltOrdSql("doc_id")}, doc_id) AS rnb FROM mnl0), " +
       s"mnl AS (SELECT doc_id, len, band FROM mnr WHERE rnb <= $HistBandCap), " +
       "mnp AS (SELECT a.doc_id AS a_id, a.len AS len_a, u.bk " +
       "FROM mnl a, UNNEST([a.band - 1, a.band, a.band + 1]) AS u(bk)), " +
       "mnc AS (SELECT p.a_id, b.doc_id AS b_id, p.len_a, b.len AS len_b " +
       "FROM mnp p JOIN mnl b ON p.bk = b.band " +
       s"WHERE p.a_id < b.doc_id AND abs(p.len_a - b.len) <= $HistTau), " +
       "mns AS (SELECT c.a_id, c.b_id, h.bucket, CAST(h.cnt AS BIGINT) AS s " +
       "FROM mnc c JOIN mh h ON h.doc_id = c.a_id " +
       "UNION ALL SELECT c.a_id, c.b_id, h.bucket, -CAST(h.cnt AS BIGINT) " +
       "FROM mnc c JOIN mh h ON h.doc_id = c.b_id), " +
       "mnb AS (SELECT a_id, b_id, bucket, abs(CAST(sum(s) AS BIGINT)) AS ab " +
       "FROM mns GROUP BY 1, 2, 3), " +
       "mnd AS (SELECT a_id, b_id, CAST(sum(ab) AS BIGINT) AS l1 " +
       "FROM mnb GROUP BY 1, 2) " +
       "SELECT c.a_id, c.b_id, c.len_a, c.len_b, d.l1 " +
       "FROM mnd d JOIN mnc c USING (a_id, b_id) " +
       s"WHERE d.l1 <= $HistTau ORDER BY a_id, b_id"),
    "mm_resize_meta" ->
      ("SELECT doc_id, width, height, " +
       "CAST(floor(width * 224.0 / greatest(width, height, 1)) AS BIGINT) AS out_w, " +
       "CAST(floor(height * 224.0 / greatest(width, height, 1)) AS BIGINT) AS out_h " +
       "FROM (" + metaSql + ") m"))
}
