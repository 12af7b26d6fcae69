package graft.ext

import graft.Tables
import graft.ops.Num
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators over `documents` — the training-data-pipeline
  * surface (north star, BASELINE.json): token counting, quality scoring,
  * language ID, fingerprinting. All built-in codegen'd expressions; the
  * language-ID marker table is the single source of truth for BOTH the
  * Spark plan and the generated DuckDB oracle SQL.
  */
object TextOps {

  /** Marker words per language (disjoint, from the corpus vocabulary).
    * Priority order = list order (argmax ties resolve to earlier). */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a"),
    "es" -> Seq("value", "vector"),
    "de" -> Seq("order", "group"),
    "fr" -> Seq("line", "part"),
    "zh" -> Seq("spark", "batch"))

  /** Token counting: whitespace tokens + a BPE-ish regex segmentation
    * (letter runs / digit runs / single other chars). */
  def tokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
              size(split(col("text"), " ")).as("n_ws"),
              size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^ ]', 0)")).as("n_bpe"))

  /** Quality scoring: char/token/unique-token counts + a boolean gate
    * (integer outputs — exact across engines). */
  def quality(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    Tables.documents(spark, dir)
      .select(col("doc_id"),
              length(col("text")).as("n_char"),
              size(toks).as("n_tok"),
              size(array_distinct(toks)).as("n_uniq"))
      .withColumn("ttr_pct",
        when(col("n_tok") > 0,
             Num.rnd(lit(100.0) * col("n_uniq") / col("n_tok"), 1))
          .otherwise(lit(0.0)))
      .withColumn("quality_ok",
        (col("n_tok").between(10, 2000) && col("n_uniq") >= 5).cast("int"))
  }

  /** Gopher-rule heuristic gates (Rae et al., "Scaling Language Models:
    * Methods, Analysis & Insights from Training Gopher", arXiv
    * 2112.11446, App. A1) — the pre-model filter battery every
    * pretraining pipeline runs: token-count bounds, mean-word-length
    * band, alphabetic-character floor, and a stopword-presence floor.
    * ALL-INTEGER signals (×100 ratios via non-negative floor division,
    * so `div` ≡ DuckDB `//`): exact cross-engine, no float discipline
    * needed. One projection pass over the corpus, zero shuffles —
    * embarrassingly parallel at 100 TB. Constants tuned so BOTH gate
    * outcomes occur on the synthetic corpus (n_tok ∈ [10,99], 'the'/'a'
    * the only stopwords present) — the gates are exercised, not
    * vacuous. */
  def gopherGates(spark: SparkSession, dir: String): DataFrame = {
    val stops = Seq("the", "a", "to", "of", "and")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"),
              size(split(col("text"), " ")).as("n_tok"),
              length(expr("replace(text, ' ', '')")).as("n_ns"),
              length(expr("regexp_replace(text, '[^A-Za-z]', '')")).as("n_alpha"),
              hitCount(stops).as("n_stop"))
      .withColumn("mwl_x100",
        when(col("n_tok") > 0,
             expr("CAST(n_ns AS BIGINT) * 100 div n_tok")).otherwise(lit(0L)))
      .withColumn("alpha_x100",
        when(col("n_ns") > 0,
             expr("CAST(n_alpha AS BIGINT) * 100 div n_ns")).otherwise(lit(0L)))
      .withColumn("gopher_ok",
        (col("n_tok").between(20, 100000) &&
         col("mwl_x100").between(300, 1000) &&
         col("alpha_x100") >= 70 &&
         col("n_stop") >= 2).cast("int"))
      .drop("text")
  }

  /** Tokenizer-fertility report per source — BPE-ish tokens per
    * whitespace word, the tokenizer-health number a multilingual /
    * multi-crawl pipeline tracks per ingest source (fertility creep on
    * a source means its text is drifting away from the tokenizer's
    * training distribution and burning context budget). Reuses
    * [[tokens]]' two segmentations; integer micro-ratio via
    * non-negative floor division — exact cross-engine. |sources| output
    * rows at any corpus scale, one partial+final agg. */
  def fertilityBySource(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"),
              size(split(col("text"), " ")).cast("long").as("n_ws"),
              size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^ ]', 0)"))
                .cast("long").as("n_bpe"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           sum("n_ws").as("n_words"),
           sum("n_bpe").as("n_tokens"))
      .withColumn("fertility_micro",
        expr("CASE WHEN n_words > 0 THEN n_tokens * 1000000 div n_words " +
             "ELSE CAST(0 AS BIGINT) END"))
      .orderBy("source")

  private def hitCount(markers: Seq[String]): Column =
    markers.map { m =>
      when(concat(lit(" "), col("text"), lit(" ")).like(s"% $m %"), 1).otherwise(0)
    }.reduce(_ + _)

  /** Marker-hit score columns s_<lang> appended to `docs` — shared by
    * [[langid]] and [[pplBuckets]] (SQL mirror: [[langScoresInnerSql]]). */
  private def scoredFrame(docs: DataFrame): DataFrame =
    langMarkers.foldLeft(docs) {
      case (df, (lang, ms)) => df.withColumn(s"s_$lang", hitCount(ms))
    }

  /** Argmax-with-fixed-priority over the s_* columns — shared by
    * [[langid]] and [[pplBuckets]] (SQL mirror: [[langPredCaseSql]]). */
  private def predictedCol: Column = {
    val langs = langMarkers.map(_._1)
    langs.zipWithIndex.foldRight(lit(langs.last): Column) {
      case ((lang, i), elseCol) =>
        val isMax = langs.drop(i + 1)
          .map(o => col(s"s_$lang") >= col(s"s_$o"))
          .foldLeft(lit(true): Column)(_ && _)
        when(isMax, lang).otherwise(elseCol)
    }
  }

  /** N-gram-heuristic language ID: count marker-word hits per language,
    * argmax with fixed priority. */
  def langid(spark: SparkSession, dir: String): DataFrame = {
    val langs = langMarkers.map(_._1)
    scoredFrame(Tables.documents(spark, dir))
      .withColumn("predicted", predictedCol)
      .withColumn("is_correct", (col("predicted") === col("lang")).cast("int"))
      .select(Seq(col("doc_id")) ++ langs.map(l => col(s"s_$l")) ++
              Seq(col("predicted"), col("is_correct")): _*)
  }

  /** Language-ID confusion matrix — the eval artifact behind
    * [[langid]]'s per-doc is_correct flag: (gold, predicted) cell
    * counts, the standard classifier diagnostic (which languages leak
    * into which). One aggregation over the scored frame; |langs|² cells
    * at any corpus scale. */
  def langConfusion(spark: SparkSession, dir: String): DataFrame =
    scoredFrame(Tables.documents(spark, dir))
      .select(col("lang"), predictedCol.as("predicted"))
      .groupBy("lang", "predicted")
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "predicted")

  /** Document fingerprint: md5 of whitespace-normalized lowercase text. */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
              md5(regexp_replace(lower(trim(col("text"))), " +", " ")).as("fp"))

  /** 64-bit rolling-hash fingerprint via the custom Catalyst expression
    * `graft.functions.PolyHash` (codegen'd). Oracle-checked: the
    * Σ byte·B^i mod 2^61-1 fold is a reversed-order Horner fold, which
    * DuckDB reproduces exactly in HUGEINT (see the oracle entry). */
  def rollhash(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.GraftSql
    Tables.documents(spark, dir)
      .select(col("doc_id"),
              GraftSql.column(graft.functions.PolyHash(
                GraftSql.expression(col("text")))).as("rh"))
  }

  // ---- generated oracle SQL (same marker table) ----

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
    contaminationCteSqlFor("ct", "src0")

  /** Parametric form — prefix `p` namespaces EVERY CTE (so two suites
    * can compose in one WITH), `src` is the eval slice; the chain ends
    * in `<p>m`. The default ("ct", "src0") is what text_contamination
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

  /** Corpus-level stats: per-language doc counts, token means, quality
    * rate — the aggregate view a data-curation pipeline reports. */
  def statsAgg(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    Tables.documents(spark, dir)
      .select(col("lang"),
              size(toks).as("n_tok"),
              (size(toks).between(10, 2000) &&
               size(array_distinct(toks)) >= 5).cast("int").as("ok"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
           Num.rnd(avg("n_tok"), 2).as("avg_tokens"),
           Num.rnd(lit(100.0) * sum("ok") / count(lit(1)), 1).as("quality_pct"))
      .orderBy("lang")
  }

  /** Corpus-wide token frequency: top 20 tokens (vocab head — the first
    * thing a tokenizer-training pipeline inspects). */
  def topTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok").asc)
      .limit(20)

  /** Vocabulary cap for [[vocabOov]] — top-[[VocabTopK]] types by
    * (count desc, tok asc) are in-vocab; mirrored as a literal in the
    * oracle (keep in lockstep). 16 of the corpus's 31 types, so both
    * classes are populated and the oracle check is non-vacuous. */
  private val VocabTopK = 16

  /** Frequency-capped vocabulary + per-source OOV rate — the tokenizer
    * coverage audit every pretraining mix runs (what fraction of a
    * source's tokens fall outside the top-K vocab a tokenizer would
    * allocate?). Shape: one exploded-token shuffle to (source, tok)
    * counts, a \|types\|-row re-agg to corpus counts, a \|types\|-row
    * rank (vocabularies grow ~Heaps-law sublinearly, so the single-
    * partition window is over a model-sized frame at ANY corpus scale —
    * never the corpus itself), and a \|source·types\|-row join back.
    * The corpus is scanned exactly once; everything downstream is
    * vocabulary-sized. Pure integer outputs (micro-unit rate via
    * non-negative `div`). */
  def vocabOov(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val st = Tables.documents(spark, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("n"))
    val tc = st.groupBy("tok").agg(sum("n").as("cn"))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("cn").desc, col("tok").asc)))
    st.join(tc.select("tok", "rk"), Seq("tok"))
      .groupBy("source")
      .agg(sum("n").as("n_tokens"),
           sum(when(col("rk") > VocabTopK, col("n")).otherwise(0L)).as("n_oov"),
           sum(when(col("rk") <= VocabTopK, 1L).otherwise(0L))
             .as("n_types_invocab"))
      .select(col("source"), col("n_tokens"), col("n_oov"),
        col("n_types_invocab"),
        expr("CASE WHEN n_tokens = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE (n_oov * CAST(1000000 AS BIGINT)) div n_tokens END")
          .as("oov_rate_micro"))
  }

  /** Document-length histogram in 100-char buckets. */
  def lenHist(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select((floor(length(col("text")) / 100) * 100).cast("long").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_docs"))
      .orderBy("bucket")

  /** Repetition-based quality filter (Gopher/C4-style): fraction of
    * duplicated tokens per document, computed IN-PLAN per row (array
    * functions, no shuffle at all — embarrassingly parallel at 100 TB).
    * keep = rep_ratio <= 0.5 (median on this corpus is ~0.54, so both
    * classes are populated and the oracle check is non-vacuous). */
  def repetition(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    Tables.documents(spark, dir)
      .select(col("doc_id"),
              size(toks).as("n_tok"),
              size(array_distinct(toks)).as("n_uniq"))
      .withColumn("rep_ratio",
        Num.rnd(lit(1.0) - col("n_uniq").cast("double") / col("n_tok"), 6))
      .withColumn("keep", (col("rep_ratio") <= 0.5).cast("int"))
  }

  /** Length-outlier filter: keep documents inside the global
    * [p10, p90] n_chars band. The two quantiles are ONE tiny aggregate
    * broadcast to every row (no per-row shuffle); thresholds are rounded
    * through Num.rnd so the boundary comparison is identical in DuckDB.
    * Scale note: Spark's exact `percentile` buffers value→count per
    * DISTINCT value — memory is O(distinct lengths), bounded by the
    * document-length range, not the corpus size, so this stays safe at
    * 100 TB (swap to approx_percentile only if lengths were unbounded). */
  def lengthBand(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val q = docs.agg(
      Num.rnd(expr("percentile(n_chars, 0.10)"), 6).as("lo"),
      Num.rnd(expr("percentile(n_chars, 0.90)"), 6).as("hi"))
    docs.crossJoin(broadcast(q))
      .filter(col("n_chars") >= col("lo") && col("n_chars") <= col("hi"))
      .select("doc_id", "n_chars")
  }

  /** Deterministic per-source quota sample: k docs per source under a
    * content-independent pseudo-random order (md5 of the doc id — the
    * same hex string in both engines), the reproducible version of
    * `ORDER BY rand()` stratified sampling. One shuffle by source. */
  def samplePerSource(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    Tables.documents(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("source", "doc_id", "rn")
  }

  /** Weighted sampling without replacement, k per source — the
    * importance-sampling counterpart of [[samplePerSource]] (uniform):
    * Efraimidis–Spirakis A-ES with weight w = token count, so long
    * documents are proportionally likelier to be drawn (the
    * token-budget-aware inspection/eval sample a curation pipeline
    * takes — sampling documents uniformly UNDER-represents the tokens
    * long docs contribute). A-ES keeps the k largest u^(1/w) ≡ the k
    * SMALLEST −ln(u)/w; u comes from the content-independent Knuth
    * scramble (`saltOrd`, the bucket-cap precedent) mapped into
    * (0, 1] at micro grain, so the draw is deterministic and identical
    * in both engines. Float discipline: the one ln is rounded to
    * integer micro-nats immediately (CLAUDE.md ln rule — ln is not
    * exactly rounded), then the key is the pure-integer
    * (−lnu·1000) div w in nano-nats/token — non-negative, so floor
    * division is engine-agnostic; ties broken by doc_id. One window
    * per source (the samplePerSource shuffle shape); at 100 TB this is
    * a per-partition top-k accumulator, never a global sort. */
  def weightedSample(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyed = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
              size(split(col("text"), " ")).cast("long").as("n_tok"),
              (Similarity.saltOrd(col("doc_id")) % 1000000L + 1L).as("u_micro"))
      .withColumn("lnu",
        round(log(col("u_micro").cast("double") /
                  lit(1000000L).cast("double")) * lit(1e6)).cast("long"))
      .withColumn("key_nano", expr("((-lnu) * 1000) div n_tok"))
    val w = Window.partitionBy("source")
      .orderBy(col("key_nano").asc, col("doc_id").asc)
    keyed.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("source", "doc_id", "rn", "n_tok", "key_nano")
  }

  /** The end of the curation pipeline, composed: exact-dedup survivors
    * ∧ repetition keep ∧ length band — the final corpus selection a
    * training-data pipeline ships. Each stage is one of the operators
    * above; the survivors join is on doc_id (broadcast-able: survivors
    * shrink monotonically). */
  def corpusSelect(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // survivor definition comes from Dedup.exact — one source of truth
    val survivors = Dedup.exact(spark, dir).select(col("keep_id").as("doc_id"))
    val repKeep = repetition(spark, dir)
      .filter(col("keep") === 1).select("doc_id")
    val lenKeep = lengthBand(spark, dir).select("doc_id")
    docs.join(survivors, Seq("doc_id"), "left_semi")
      .join(repKeep, Seq("doc_id"), "left_semi")
      .join(lenKeep, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
  }

  /** Hashing-trick text embedding (feature hashing): each token hashes to
    * a dimension (h mod 64) with a sign bit (h/64 mod 2), contributing
    * ±count — the classic codec-free featurizer that turns `documents`
    * into vectors for the Similarity ops. Exact integer output in long
    * form (doc_id, dim, v); TF shape (hash per DISTINCT token, weight by
    * count) like simhash, so the agg runs over per-doc vocab rows. */
  def hashEmbed(spark: SparkSession, dir: String): DataFrame = {
    val P1 = 1000000007L
    val tf = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("cnt"))
    val tokHash = tf.select("tok").distinct()
      .select(col("tok"),
              graft.functions.PolyHashMod.col(col("tok"), 31L, P1).as("h"))
    tf.join(tokHash, Seq("tok"))
      .select(col("doc_id"),
              (col("h") % 64).cast("int").as("dim"), // low 6 bits: dimension
              (when(shiftright(col("h"), 6).bitwiseAND(lit(1L)) === 1L, 1L)
                 .otherwise(-1L) * col("cnt")).as("contrib")) // bit 6: sign
      .groupBy("doc_id", "dim")
      .agg(sum("contrib").as("v"))
  }

  /** Benchmark-contamination detection: the pre-training hygiene check
    * that flags training documents overlapping an evaluation set. The
    * eval corpus here is one source's documents (a stand-in for a held-out
    * benchmark); per training doc we report how many of its distinct
    * 5-gram shingles appear anywhere in the eval set. Scale shape: the
    * eval side is DISTINCT shingles of a benchmark — bounded by benchmark
    * size, not corpus size — so it broadcasts; the training side streams
    * through one hash join, output ≤ input rows (a membership probe, never
    * pair generation, so no hot-shingle quadratic risk and no DF cap
    * needed). Docs shorter than 5 tokens have no shingles and are absent,
    * matching the oracle.
    *
    * Deliberately does NOT reuse the persisted minhash band index
    * (`dedup_index_persist`): that index stores banded MINHASH
    * signatures and can only answer approximate-Jaccard candidacy,
    * while contamination is an EXACT shingle-membership count (a single
    * missed eval shingle is the difference between "clean" and
    * "contaminated" for a benchmark audit). Sharing the raw
    * (doc_id, shingle) expansion with the dedup family via a memo was
    * also rejected: that frame is O(corpus × shingles) — checkpointing
    * it trades a linear in-plan recompute for a corpus-sized cache,
    * exactly the wrong trade at 100 TB. The eval-side DISTINCT shingle
    * set (benchmark-sized) is what's worth materializing, and it is —
    * inside this memoized frame. */
  def contamination(spark: SparkSession, dir: String,
                    evalSource: String = "src0"): DataFrame =
    if (evalSource == "src0")
      // the default-eval frame is consumed by three queries per session
      // (text_contamination, corpus_curate_funnel, corpus_report) —
      // memoize it once per (session, dir). Eager (NOT in PlanShapeSpec's
      // laziness allowlist); Bench owner: text_contamination runs before
      // the corpus_* consumers in the owner list.
      CkptMemo.getOrElseUpdate((spark, dir, "contam"),
        contaminationOf(spark, dir, evalSource).localCheckpoint())
    else contaminationOf(spark, dir, evalSource)

  /** Multi-suite contamination — the production shape (a pretraining
    * run decontaminates against EVERY benchmark suite at once, not one):
    * the per-suite chain of [[contaminationOf]] run for each eval slice
    * and tagged, one row per (suite, candidate doc). Two corpus passes
    * here (one per suite); at scale the eval-shingle sets would merge
    * into one broadcast membership probe with a suite bitmap — same
    * join, one pass — but the per-suite chain keeps the oracle
    * composable via contaminationCteSqlFor. */
  def contaminationMulti(spark: SparkSession, dir: String): DataFrame =
    Seq("src0", "src1").map { sset =>
      contaminationOf(spark, dir, sset).withColumn("suite", lit(sset))
    }.reduce(_ unionByName _)
      .select("suite", "doc_id", "n_sh", "n_hit", "contam_pct")

  private[graft] def contaminationOf(spark: SparkSession, dir: String,
                                     evalSource: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // raw (doc_id, s) rows; each branch applies exactly the distinct it
    // needs (eval only ever needs the s set — a (doc_id, s) distinct
    // first would be a second shuffle over the eval corpus for nothing)
    def shingles(df: DataFrame): DataFrame = Dedup.wordTokens(df, 5)
      .select(col("doc_id"), explode(Dedup.wordGrams(5)).as("s"))
    val evalSh = shingles(docs.filter(col("source") === evalSource))
      .select("s").distinct().withColumn("hit", lit(1))
    shingles(docs.filter(col("source") =!= evalSource)).distinct()
      .join(broadcast(evalSh), Seq("s"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"),
           sum(coalesce(col("hit"), lit(0))).as("n_hit"))
      .withColumn("contam_pct",
        Num.rnd(lit(100.0) * col("n_hit") / col("n_sh"), 2))
  }

  /** PII / pattern scan: per-doc counts of email-, US-phone- and
    * SSN-shaped matches plus total word matches — the redaction pipeline's
    * detection pass, zero shuffle. `n_word` is non-zero on any text corpus,
    * so the oracle verifies the regexp-count machinery on real matches even
    * when (as on this synthetic corpus) the PII families count zero;
    * PiiFixtureSpec plants real emails/phones/SSNs and asserts each
    * pattern fires. Patterns avoid backreferences/lookaround so the same
    * regex text is valid for both Java (Spark) and RE2 (DuckDB). */
  // [.] not \. — backslashes are escape chars inside Spark SQL string
  // literals (expr parses this), and [.] is identical in Java and RE2.
  // Shared by piiScan, piiRedact, and both oracles — lockstep only.
  private[graft] val PiiEmail = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
  private[graft] val PiiPhone = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
  private[graft] val PiiSsn = "[0-9]{3}-[0-9]{2}-[0-9]{4}"

  def piiScan(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"),
              size(expr(s"regexp_extract_all(text, '$PiiEmail', 0)")).as("n_email"),
              size(expr(s"regexp_extract_all(text, '$PiiPhone', 0)")).as("n_phone"),
              size(expr(s"regexp_extract_all(text, '$PiiSsn', 0)")).as("n_ssn"),
              size(expr("regexp_extract_all(text, '[A-Za-z]+', 0)")).as("n_word"))
      .withColumn("has_pii",
        (col("n_email") + col("n_phone") + col("n_ssn") > 0).cast("int"))
  }

  /** PII REDACTION — the apply half of [[piiScan]] (scan measures,
    * nothing rewrote): replace every email, then SSN, then phone match
    * with a typed placeholder. The corpus carries no natural PII
    * (piiScan counts are all zero on the testdata), so a redactor over
    * raw `documents` would be vacuous — instead a DETERMINISTIC subset
    * gets PII appended in-plan (doc_id % 10 == 0 → email + phone,
    * doc_id % 10 == 5 → SSN; the src_quarantine inject-then-handle
    * pattern), and BOTH engines run the same inject → count → replace
    * chain, so the oracle genuinely cross-checks Java regex vs RE2
    * replacement on strings with real matches. Replacement order
    * email → SSN → phone is fixed (and order-insensitive for these
    * disjoint patterns, but mirrored anyway). Zero shuffle: pure
    * per-row compute. */
  def piiRedact(spark: SparkSession, dir: String): DataFrame =
    piiRedactOf(Tables.documents(spark, dir))

  /** [[piiRedact]] over any frame with (doc_id, text) — a stateless
    * projection, so it runs UNCHANGED under Structured Streaming
    * (DocStream.redact; StreamingSpec proves stream ≡ batch). */
  private[graft] def piiRedactOf(docs: DataFrame): DataFrame = {
    val inject =
      when(col("doc_id") % 10 === 0,
        concat(col("text"), lit(" reach user"), col("doc_id").cast("string"),
               lit("@mail.example.com or 555-123-4567")))
      .when(col("doc_id") % 10 === 5,
        concat(col("text"), lit(" ssn 123-45-6789 on file")))
      .otherwise(col("text"))
    docs
      .select(col("doc_id"), inject.as("t2"))
      .select(col("doc_id"),
        size(expr(s"regexp_extract_all(t2, '$PiiEmail', 0)")).as("n_email"),
        size(expr(s"regexp_extract_all(t2, '$PiiPhone', 0)")).as("n_phone"),
        size(expr(s"regexp_extract_all(t2, '$PiiSsn', 0)")).as("n_ssn"),
        expr(s"regexp_replace(regexp_replace(regexp_replace(t2, " +
             s"'$PiiEmail', '<EMAIL>'), '$PiiSsn', '<SSN>'), " +
             s"'$PiiPhone', '<PHONE>')").as("redacted"))
      .withColumn("redacted_len", length(col("redacted")))
  }

  /** Document chunking: fixed-size sliding windows (200 chars, stride
    * 160) — the tokenize-and-pack precursor every training pipeline runs.
    * Pure per-row explode of an in-plan sequence: embarrassingly parallel,
    * zero shuffle, output rows ~ n_chars/stride. Chunk text is emitted
    * verbatim so the cross-engine check compares exact content. */
  def chunk(spark: SparkSession, dir: String,
            size0: Int = 200, stride: Int = 160): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), length(col("text")).as("n"))
      .filter(col("n") > 0)
      .select(col("doc_id"), col("text"),
        explode(expr(s"sequence(0, cast(floor((n - 1) / $stride) as int))"))
          .as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        expr(s"substring(text, chunk_idx * $stride + 1, $size0)").as("chunk"))
      .withColumn("chunk_len", length(col("chunk")))

  /** TF-IDF keyword extraction: top-5 tokens per document by
    * tf·ln((N+1)/(df+1)). Two shuffles total — tf by (doc, token), df by
    * token — then a broadcast 1-row corpus count; the window ranks within
    * each doc. Scores rounded at 6 dp before ranking so ordering is
    * identical cross-engine (ties break on token). */
  def tfidf(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("tok").asc)
    tf.join(dfreq, Seq("tok"))
      .crossJoin(broadcast(nDocs))
      // ln() is the one function here NOT exactly rounded by IEEE (unlike
      // +,*,/,sqrt), so Java and libm can differ by 1 ulp. Rounding the
      // ln to 6 dp FIRST pins both engines to the same double per
      // distinct df; the remaining int-multiply and final round are exact.
      .withColumn("score",
        Num.rnd(col("tf") *
          Num.rnd(log((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0))), 6), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("doc_id", "tok", "tf", "df", "score", "rn")
  }

  /** Sparse TF-IDF cosine near-dup pairs — the WEIGHTED text-similarity
    * modality the set-based families (minhash/Jaccard, simhash) can't
    * express: two docs that share the same shingles in very different
    * proportions score low here but identically in Jaccard. Terms are
    * word 3-gram shingles (the unigram vocabulary is deliberately tiny
    * in this corpus — TestdataAsciiSpec — and unigram df carries no
    * signal anywhere near-dup detection matters); weights are
    * tf·idf₃ with the idf in EXACT milli-units
    * (`round(ln((N+1)/(df+1))·1e3)` as BIGINT — the CLAUDE.md ln rule:
    * pin the one non-IEEE-exact function to a rounded grid on both
    * engines, then every downstream product/sum is pure int64 and
    * order-invariant). Cosine = dot/(‖a‖·‖b‖) from integer dot and
    * norms (sqrt and divide are IEEE-exact), 6-dp-rounded before the
    * threshold.
    *
    * Scale shape: an INVERTED INDEX — postings bucketed by shingle, the
    * pair join runs per-term, and the df cap drops stop-shingles whose
    * postings would cost df² pairs while carrying ~zero idf weight (the
    * standard sparse-similarity bound; cap 50 never fires at test SF —
    * max df is 7 at sf0.01 — it's the guard that makes the worst case
    * linear at 100 TB). Never all-pairs: candidates are pairs sharing
    * ≥1 discriminative shingle. Int64 envelope: w ≤ tf·idf₃ with
    * idf₃ ≤ 23·1e3 even at n=1e10 docs, so Σw² stays under 2^63 for any
    * document up to ~10⁶ repeated shingles — far past real documents.
    * Production note: at scale the shingle join key would long-encode
    * via PolyHashMod exactly like Dedup's shingle index (3b68e7b);
    * string keys are kept here because the oracle compares the terms
    * themselves. */
  def cosinePairs(spark: SparkSession, dir: String,
                  dfCap: Int = 50, thr: Double = 0.5): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val sh = docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"),
        explode(expr("transform(sequence(0, size(t) - 3), " +
          "i -> concat_ws(' ', t[i], t[i+1], t[i+2]))")).as("g"))
    val tf = sh.groupBy("doc_id", "g").agg(count(lit(1)).as("tf"))
    val dfq = tf.groupBy("g").agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    // the weight frame feeds THREE subtrees (norms + both dot-product
    // sides) — materialize it once instead of re-running the shingle
    // explode + tf + df chain per consumer (round 20; the dedup-family
    // shared-frame rule), and free it once the small result is
    // checkpointed (the sketchMergeFrom pattern)
    val w = tf.join(dfq, Seq("g"))
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("g"),
        (col("tf") * round(log((col("n_docs") + lit(1.0)) /
          (col("df") + lit(1.0))) * lit(1e3)).cast("long")).as("w"))
      .localCheckpoint()
    val nrm = w.groupBy("doc_id").agg(sum(col("w") * col("w")).as("n2"))
    val dot = w.select(col("g"), col("doc_id").as("a_id"), col("w").as("wa"))
      .join(w.select(col("g"), col("doc_id").as("b_id"), col("w").as("wb")),
            Seq("g"))
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id").agg(sum(col("wa") * col("wb")).as("dot"))
    val out = dot
      .join(nrm.select(col("doc_id").as("a_id"), col("n2").as("na")), Seq("a_id"))
      .join(nrm.select(col("doc_id").as("b_id"), col("n2").as("nb")), Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        Num.rnd(col("dot") / (sqrt(col("na")) * sqrt(col("nb"))), 6).as("cos_sim"))
      .filter(col("cos_sim") >= thr)
      .localCheckpoint()
    org.apache.spark.sql.GraftSql.checkpointRdd(w).foreach(_.unpersist(false))
    out
  }

  /** Sequence packing — the concat-and-split step that turns variable-
    * length documents into fixed-length training sequences: within each
    * source stream, documents are concatenated in doc_id order and cut
    * every `seqLen` tokens; a doc's sequence id is its running-sum start
    * offset ÷ seqLen. ONE shuffle (window by source); at 100 TB the
    * packing unit is the source shard, so parallelism = number of
    * sources/shards and no global coordination is needed. */
  def pack(spark: SparkSession, dir: String, seqLen: Int = 512): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
              size(split(col("text"), " ")).cast("long").as("n_tok"))
      .withColumn("start_off", coalesce(sum("n_tok").over(w), lit(0L)))
      .withColumn("seq_id", floor(col("start_off") / seqLen).cast("long"))
  }

  /** Packing-efficiency report over candidate context lengths — the
    * planning table consulted BEFORE committing to a sequence length:
    * for L ∈ {256, 512, 1024}, how many packed sequences does each
    * source yield under [[pack]]'s concatenation scheme, how many
    * tokens pad the final partial sequence (tail waste), and how many
    * documents straddle a sequence boundary (split docs lose cross-
    * boundary attention — the packing quality number concat-style
    * pretraining tracks). Reuses pack's per-source cumulative offsets:
    * ONE window pass shared by all three lengths, then |sources|×3
    * output rows at any corpus scale. ALL-INTEGER (non-negative floor
    * division only). */
  def packReport(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
              size(split(col("text"), " ")).cast("long").as("n_tok"))
      .withColumn("start_off", coalesce(sum("n_tok").over(w), lit(0L)))
    Seq(256, 512, 1024).map { l =>
      base
        .withColumn("is_split",
          when(col("n_tok") > 0 &&
               expr(s"(start_off + n_tok - 1) div $l") =!=
                 expr(s"start_off div $l"), 1L).otherwise(0L))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
             sum("n_tok").as("n_tokens"),
             sum("is_split").as("n_split"))
        .select(col("source"), lit(l).as("seq_len"), col("n_docs"),
                col("n_tokens"),
                expr(s"(n_tokens + $l - 1) div $l").as("n_seqs"),
                expr(s"((n_tokens + $l - 1) div $l) * $l - n_tokens")
                  .as("tail_waste"),
                col("n_split"),
                expr("CASE WHEN n_docs > 0 THEN n_split * 1000000 div n_docs " +
                     "ELSE CAST(0 AS BIGINT) END").as("split_micro"))
    }.reduce(_ unionByName _).orderBy("source", "seq_len")
  }

  /** Temperature resampling across sources — the p^α rebalancing a
    * multilingual/multi-domain pipeline applies so high-resource sources
    * don't drown low-resource ones (α = 0.5 here): per-source quota
    * ∝ sqrt(share), then a deterministic md5-ordered take of quota docs
    * per source. Two tiny aggregates broadcast to one windowed pass over
    * the corpus — no per-row shuffle beyond the source partition. Weights
    * are 6-dp-rounded BEFORE the floor so the integer quotas are
    * byte-identical cross-engine. */
  /** Mixture/budget planning — the step BEFORE any sampling runs: given
    * a total token budget, derive each source's sampling rate so the
    * planned take fits an equal per-source share (the uniform-mixture
    * baseline a data-mixing pipeline starts from before reweighting à
    * la temperature sampling, which handles the p^α shape next door).
    * Everything is integer: share = budget div n_sources, rate_micro =
    * min(1e6, share·1e6 div tokens), planned = tokens·rate div 1e6 —
    * byte-identical cross-engine, no fp anywhere. Cost: ONE aggregation
    * over (source) plus a broadcast 1-row source count — the plan frame
    * is |sources| rows at any corpus scale; the expensive part
    * (actually taking the sample) is deliberately NOT here, because a
    * planner that must scan the corpus twice is wrong at 100 TB. */
  def mixturePlan(spark: SparkSession, dir: String,
                  budgetTokens: Long = 10000L): DataFrame = {
    val perSrc = Tables.documents(spark, dir)
      .select(col("source"),
              size(split(col("text"), " ")).cast("long").as("n_tok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
    val nSrc = perSrc.agg(count(lit(1)).as("n_src"))
    perSrc.crossJoin(broadcast(nSrc))
      .withColumn("share", expr(s"CAST($budgetTokens AS BIGINT) div n_src"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        least(lit(1000000L),
          expr("(share * CAST(1000000 AS BIGINT)) div n_tokens"))
          .as("rate_micro"))
      .withColumn("planned_tokens",
        expr("(n_tokens * rate_micro) div CAST(1000000 AS BIGINT)"))
  }

  /** EPOCH plan — the repetition half the capped mixture plan throws
    * away: [[mixturePlan]] clamps each source's sampling rate at 1.0
    * (never up-samples), but a real data recipe REPEATS an under-sized
    * high-value source across epochs to hit its budget share. Per
    * source: the UNCAPPED epochs_micro = (share·10⁶) div n_tokens (>
    * 10⁶ means the source must repeat), split into operational terms —
    * full passes (share div n_tokens) and the final partial pass's
    * token count (share % n_tokens) — plus over_repeat flagging > 4
    * epochs (the diminishing-returns guidance of repeated-data scaling
    * studies; past ~4 epochs repetition stops buying loss). Same
    * 10000-token budget literal and equal-share rule as the mixture
    * plan (lockstep: least(10⁶, epochs_micro) ≡ rate_micro —
    * EpochPlanSpec pins it). All integers non-negative ⇒ div ≡ `//`,
    * % ≡ %. |sources| rows at any corpus scale. */
  def epochPlan(spark: SparkSession, dir: String,
                budgetTokens: Long = 10000L): DataFrame = {
    val perSrc = Tables.documents(spark, dir)
      .select(col("source"),
              size(split(col("text"), " ")).cast("long").as("n_tok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
    val nSrc = perSrc.agg(count(lit(1)).as("n_src"))
    perSrc.crossJoin(broadcast(nSrc))
      .withColumn("share_tokens",
                  expr(s"CAST($budgetTokens AS BIGINT) div n_src"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("share_tokens"),
        expr("(share_tokens * CAST(1000000 AS BIGINT)) div n_tokens")
          .as("epochs_micro"),
        expr("share_tokens div n_tokens").as("n_full_passes"),
        expr("share_tokens % n_tokens").as("tail_tokens"))
      .withColumn("over_repeat", (col("epochs_micro") > 4000000L).cast("int"))
      .orderBy("source")
  }

  /** Count-min-sketch hash bases (4 rows × 64 buckets, mod 1000003) —
    * mirrored literally in the oracle's per-base folds; lockstep only. */
  private val CmsBases = Seq(131L, 137L, 139L, 149L)
  private val CmsBuckets = 64
  private val CmsProbeTerms = Seq("spark", "vector", "dup")

  /** COUNT-MIN SKETCH term-frequency estimation — the fourth mergeable
    * sketch in the family (HLL distinct / Misra-Gries heavy hitters /
    * log-histogram quantiles / CMS point frequency): 4 hash rows × 64
    * buckets of token counts, point estimate = min over rows of the
    * probed bucket. Unlike agg_approx's engine-owned HLL, this sketch
    * is built from [[graft.functions.PolyHashMod]] — DETERMINISTIC and
    * portable — so the oracle reproduces the exact sketch AND the exact
    * estimates (full value equality, not a bounds check). The CMS
    * guarantee est ≥ true (over-count only, from collisions) is pinned
    * by CmsSpec. Sketch state is d·w counters at ANY corpus scale and
    * merges by addition — the 100 TB re-aggregation shape. Probe terms
    * are the bm25 literal family. */
  /** The 4×64 CMS counter table of a document frame — stream-agnostic
    * (explode → 4 portable hashes → one count agg), shared by the
    * batch estimator and `DocStream.cmsSketch` so the sketch layout
    * can't drift between them. Counter sums are commutative and
    * associative, so a streaming fold over ANY micro-batch arrival
    * order equals this batch aggregation exactly. */
  private[graft] def cmsSketchOf(docs: DataFrame): DataFrame = {
    val tk = docs.select(explode(split(col("text"), " ")).as("tok"))
    CmsBases.zipWithIndex.map { case (b, j) =>
      tk.select(lit(j).as("row_j"),
        (graft.functions.PolyHashMod.col(col("tok"), b, 1000003L) %
          CmsBuckets).as("bucket"))
    }.reduce(_ unionByName _)
      .groupBy("row_j", "bucket").agg(count(lit(1)).as("cnt"))
  }

  def cmsEstimate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cms = cmsSketchOf(Tables.documents(spark, dir))
    val tk = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
    val terms = CmsProbeTerms.toDF("term")
    val probes = CmsBases.zipWithIndex.map { case (b, j) =>
      terms.select(col("term"), lit(j).as("row_j"),
        (graft.functions.PolyHashMod.col(col("term"), b, 1000003L) %
          CmsBuckets).as("bucket"))
    }.reduce(_ unionByName _)
    val est = probes.join(broadcast(cms), Seq("row_j", "bucket"), "left")
      .groupBy("term").agg(min(coalesce(col("cnt"), lit(0L))).as("est_c"))
    val tru = tk.filter(col("tok").isin(CmsProbeTerms: _*))
      .groupBy(col("tok").as("term")).agg(count(lit(1)).as("true_c"))
    est.join(tru, Seq("term"), "left")
      .select(col("term"), coalesce(col("true_c"), lit(0L)).as("true_c"),
              col("est_c"))
      .orderBy("term")
  }

  /** Vocabulary coverage curve — the tokenizer-SIZING chart (what
    * fraction of all token occurrences do the top-k vocabulary entries
    * cover? the elbow decides vocab size): rank the vocabulary by
    * (count desc, token asc), cumulative-sum the counts, report the
    * coverage at k ∈ {10, 100, 1000} (capped at |vocab|). All integer —
    * coverage in nonneg micro units (cum·1e6 div total). The ranking
    * window is single-partition but over the |vocab|-row model frame,
    * not the corpus (the madOutlier histogram precedent) — one corpus
    * pass to counts, then model-sized work at any scale. */
  def ngramCoverage(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val cnt = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val w = Window.orderBy(col("c").desc, col("tok").asc)
    val ranked = cnt
      .withColumn("rk", row_number().over(w))
      .withColumn("cum", sum("c").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("rk", "cum")
    val tot = cnt.agg(sum("c").as("total"), count(lit(1)).as("vocab"))
    Seq(10, 100, 1000).toDF("k")
      .crossJoin(broadcast(tot))
      .join(ranked, col("rk") === least(col("k").cast("long"), col("vocab")))
      .select(col("k"), col("vocab"), col("total"), col("cum").as("covered"),
              expr("(cum * 1000000) div total").as("coverage_micro"))
      .orderBy("k")
  }

  /** Token-budget mixture with temperature weighting (τ = 0.5) — the
    * epochs-per-source plan a pretraining run actually consumes (the
    * multilingual/temperature-sampling recipe: source weight ∝
    * n_tokens^τ, here √n_tokens, which upsamples small sources
    * relative to proportional mixing): planned_tokens_s =
    * B·w_s div Σw, epochs_micro = planned·1e6 div n_tokens (epochs > 1
    * ⇒ the source repeats). Float discipline: sqrt IS IEEE-exactly-
    * rounded (unlike ln — CLAUDE.md), and each √n_tokens is micronized
    * to BIGINT BEFORE the sum, so Σw is order-invariant integer
    * arithmetic and every division is nonneg `div` (`//` ≡ div).
    * Complements [[mixturePlan]] (uniform share, rate caps): same
    * |sources|-row model at any corpus scale. */
  def tokenBudgetMix(spark: SparkSession, dir: String,
                     budget: Long = 100000L): DataFrame = {
    val perSrc = Tables.documents(spark, dir)
      .select(col("source"),
              size(split(col("text"), " ")).cast("long").as("n_tok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
      .withColumn("weight_micro",
        round(sqrt(col("n_tokens").cast("double")) * 1e6).cast("long"))
    val tot = perSrc.agg(sum("weight_micro").as("tw"))
    perSrc.crossJoin(broadcast(tot))
      .withColumn("planned_tokens",
        expr(s"(CAST($budget AS BIGINT) * weight_micro) div tw"))
      .withColumn("epochs_micro",
        expr("(planned_tokens * CAST(1000000 AS BIGINT)) div n_tokens"))
      .select("source", "n_docs", "n_tokens", "weight_micro",
              "planned_tokens", "epochs_micro")
      .orderBy("source")
  }

  /** Two-sample Kolmogorov–Smirnov drift test over doc token-length
    * distributions — the distribution-level health check a continuous
    * ingest runs between snapshots (here: the src0 slice vs the rest,
    * the same eval-slice convention as contamination): KS D = max over
    * the pooled support of |F_A − F_B|. EXACT integer algebra — the
    * CDF compare cross-multiplies counts (|f1·n2 − f2·n1|) instead of
    * dividing, and only the final micro-unit ratio divides — so both
    * engines agree bit for bit (products stay in int64 while
    * n_A·n_B < 2^63, i.e. up to ~3×10^9 docs per side; past that the
    * sums go DECIMAL, the text_zipf precedent). Cost: one corpus scan
    * to length-histogram form, then windows over the |distinct
    * lengths|-row histogram — model-sized whatever the corpus, which
    * is why the single-partition cumulative window is safe here (the
    * agg_winsorize caveat does not apply to a histogram). */
  def ksDrift(spark: SparkSession, dir: String): DataFrame =
    ksDriftOf(Tables.documents(spark, dir))

  private[graft] def ksDriftOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lv = docs
      .select(size(split(col("text"), " ")).cast("long").as("len"),
              (col("source") === "src0").cast("long").as("isa"))
    val g = lv.groupBy("len")
      .agg(sum("isa").as("ca"), sum(lit(1L) - col("isa")).as("cb"))
    val w = Window.orderBy("len")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = g.select(col("len"),
      sum("ca").over(w).as("f1"), sum("cb").over(w).as("f2"))
    val tot = lv.agg(sum("isa").as("n_a"),
                     sum(lit(1L) - col("isa")).as("n_b"))
    cum.crossJoin(broadcast(tot))
      .agg(first("n_a").as("n_a"), first("n_b").as("n_b"),
           max(abs(col("f1") * col("n_b") - col("f2") * col("n_a")))
             .as("d_num"))
      .select(col("n_a"), col("n_b"), col("d_num"),
        expr("(d_num * CAST(1000000 AS BIGINT)) div (n_a * n_b)")
          .as("ks_micro"))
  }

  /** Apply the mixture plan — the plan→apply closure (the
    * train→apply discipline of sim_ivf_topk_trained, for sampling): a
    * document is kept iff its Knuth-scramble bucket of 1e6 falls below
    * its source's planned rate_micro. Deterministic and reproducible
    * run to run (no rand()), exact-rate in expectation, and the whole
    * apply is ONE broadcast join of the |sources|-row plan against one
    * corpus scan — the shape that samples a 100 TB corpus without a
    * shuffle. Same scramble family as corpus_split (independent of the
    * split buckets: mod 1e6 vs mod 100 read different digit ranges). */
  def mixtureApply(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .join(broadcast(mixturePlan(spark, dir).select("source", "rate_micro")),
            Seq("source"))
      .filter(Similarity.saltOrd(col("doc_id")) % lit(1000000L) <
              col("rate_micro"))
      .select(col("doc_id"), col("source"), col("rate_micro"))

  def temperatureSample(spark: SparkSession, dir: String,
                        budget: Int = 200): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    // ONE per-source aggregate; the global total is a window over the
    // tiny post-agg frame (n_sources rows on a single partition), not a
    // second aggregation of the corpus — Catalyst does not dedupe a
    // shared aggregate subtree, so the self-join form scans docs twice
    val bySrc = docs.groupBy("source").agg(count(lit(1)).as("c"))
      .withColumn("w0", Num.rnd(sqrt(col("c")), 6))
      .withColumn("tw", sum("w0").over(Window.partitionBy()))
    val quota = bySrc
      .withColumn("quota",
        floor(lit(budget) * Num.rnd(col("w0") / col("tw"), 6)).cast("long"))
      .select("source", "quota")
    val w = Window.partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    docs.withColumn("rn", row_number().over(w))
      .join(broadcast(quota), Seq("source"))
      .filter(col("rn") <= col("quota"))
      .select(col("source"), col("doc_id"), col("rn"), col("quota"))
  }

  /** Heavy hitters via a Misra–Gries sketch + exact confirm: the
    * bounded-memory form of "which tokens exceed 1/64 of the corpus".
    * An exact groupBy(token) holds every distinct token on the reducers —
    * unbounded at web scale; the MG summary holds <= 127 counters per
    * partition (map-side combined), its candidate set is provably
    * complete for any threshold > n/128, and the exact-count confirm
    * join (counting ONLY candidates, a broadcast semi-join) removes the
    * false positives — so the result is exact and oracle-checkable even
    * though a sketch did the screening. Three scans of the token stream,
    * but reducer memory is O(k), not O(vocabulary). */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Encoders
    val toks = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
    val cand = toks.select(col("tok")).as[String](Encoders.STRING)
      .select(new graft.functions.MisraGries(127).toColumn) // typed select
      .toDF("cand")
      .select(explode(col("cand")).as("tok"))
    val tot = toks.agg(count(lit(1)).as("n_total"))
    toks.join(broadcast(cand), Seq("tok"), "left_semi")
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(tot))
      .filter(col("cnt") * 64 > col("n_total")) // exact integer threshold
      .select("tok", "cnt", "n_total")
  }

  /** Model-based quality filter — the fasttext-style linear classifier
    * every pretraining pipeline runs after the heuristic filters: score =
    * Σ_tokens w[h(tok) mod 64] with a fixed integer weight table derived
    * arithmetically from the dimension (so the identical table exists in
    * the oracle SQL with no side channel). ALL-INTEGER score → exact
    * cross-engine; only the per-token mean divides, once, at the end.
    * Plan shape: hash each occurrence in-plan (PolyHashMod is one
    * codegen'd pass over the token) and ONE groupBy(doc_id) — no
    * vocabulary join, no second shuffle; at 100 TB the hashing is linear
    * in corpus size and the agg is partial+final. A learned model swaps
    * the weight formula for a broadcast weight table — same plan. */
  def qualityModel(spark: SparkSession, dir: String): DataFrame = {
    val P1 = 1000000007L
    val h = graft.functions.PolyHashMod.col(col("tok"), 31L, P1)
    val w = (h % 64) * 37 % 21 - 10 // deterministic weights in [-10, 10]
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .select(col("doc_id"), w.as("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"), sum("w").as("score"))
      .select(col("doc_id"), col("n_tok"), col("score"),
              Num.rnd(col("score").cast("double") / col("n_tok"), 6)
                .as("score_per_tok"),
              (col("score") > 0).cast("int").as("keep"))
  }

  /** Quality-classifier TRAINING half (round-9 verdict item 4) — closes
    * the last train→apply gap in the curation stack (IVF train→search,
    * BPE merges→apply precedents): learn the 64-bucket hashed-feature
    * weight table in-plan as closed-form Naive Bayes log-odds,
    *   w_b = ln(n_pos_b + 1) − ln(tp + 64) − ln(n_neg_b + 1) + ln(tn + 64),
    * on a deterministic heuristic-labeled seed (label = [[gopherGates]]'
    * `gopher_ok` — the standard bootstrap: heuristic gates label the
    * seed, the learned model generalizes). Feature space is EXACTLY
    * [[qualityModel]]'s (PolyHashMod(tok,31,1e9+7) mod 64), so the
    * learned table is drop-in for the same scorer shape.
    *
    * Float discipline (CLAUDE.md ln rule): each ln is rounded at 6 dp
    * INDEPENDENTLY on both engines and stored as integer micro-nats;
    * the log-odds is then exact BIGINT arithmetic — no raw ln products
    * cross an engine boundary. Scale: one corpus pass (hash per token
    * occurrence, codegen'd), ONE groupBy(bucket) with partial agg;
    * model state is 64 rows at any corpus size. */
  def qualityTrain(spark: SparkSession, dir: String): DataFrame = {
    val P1 = 1000000007L
    val lab = gopherGates(spark, dir).select(col("doc_id"), col("gopher_ok").as("y"))
    val occ = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .select(col("doc_id"),
        (graft.functions.PolyHashMod.col(col("tok"), 31L, P1) % 64).as("b"))
    val cnt = occ.join(lab, Seq("doc_id"))
      .groupBy("b")
      .agg(sum(when(col("y") === 1, 1L).otherwise(0L)).as("n_pos"),
           sum(when(col("y") === 0, 1L).otherwise(0L)).as("n_neg"))
    // scaffold: all 64 buckets present even if unobserved (the model
    // table contract — apply joins must never miss)
    val full = spark.range(64).select(col("id").as("bucket"))
      .join(cnt.withColumnRenamed("b", "bucket"), Seq("bucket"), "left")
      .select(col("bucket"),
              coalesce(col("n_pos"), lit(0L)).as("n_pos"),
              coalesce(col("n_neg"), lit(0L)).as("n_neg"))
    val tot = full.agg(sum("n_pos").as("tp"), sum("n_neg").as("tn"))
    def lnMicro(c: Column): Column =
      round(log(c.cast("double")) * lit(1e6)).cast("long")
    full.crossJoin(broadcast(tot))
      .select(col("bucket"), col("n_pos"), col("n_neg"),
        (lnMicro(col("n_pos") + lit(1L)) - lnMicro(col("tp") + lit(64L)) -
         lnMicro(col("n_neg") + lit(1L)) + lnMicro(col("tn") + lit(64L)))
          .as("w_micro"))
      .orderBy("bucket")
  }

  /** APPLY of the learned table: score = Σ_occurrences w[bucket(tok)]
    * via a broadcast join of the 64-row model — [[qualityModel]]'s plan
    * with learned weights instead of the arithmetic formula. Integer
    * micro-nat score; keep = score > 0 (log-odds vs the balanced
    * prior). No division anywhere (a negative score through `div`
    * would need the sign-split form — avoided entirely). */
  def qualityScoreTrained(spark: SparkSession, dir: String): DataFrame =
    // memoized once per (session, dir): SEVEN consumers re-read the
    // scored frame (the query itself, roc, calibration, the calibrated
    // gate, dedup_keep_best, corpus_curriculum, corpus_train_schedule)
    // and each un-memoized instantiation re-ran BOTH trainer corpus
    // passes plus the (tp, tn) scalar broadcast — the round-16 plan
    // audit counted four of those one-row BNLs inside
    // corpus_train_schedule alone (VERDICT r16 item 7). Owner in
    // Bench's list: text_quality_score_trained.
    CkptMemo.getOrElseUpdate((spark, dir, "qscored"), {
      val P1 = 1000000007L
      val w = qualityTrain(spark, dir).select(col("bucket"), col("w_micro"))
      Tables.documents(spark, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .select(col("doc_id"),
          (graft.functions.PolyHashMod.col(col("tok"), 31L, P1) % 64).as("bucket"))
        .join(broadcast(w), Seq("bucket"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"), sum("w_micro").as("score_micro"))
        .select(col("doc_id"), col("n_tok"), col("score_micro"),
                (col("score_micro") > 0).cast("int").as("keep"))
        .orderBy("doc_id")
        .localCheckpoint()
    })

  /** Cut grid for [[qualityRoc]] — per-token log-odds thresholds in
    * micro-nats (0 = the production gate's own cut, the balanced-prior
    * log-odds sign). Mirrored literally in the oracle (lockstep). */
  private val QualityRocCuts = Seq(-200000L, -100000L, -50000L, -20000L,
    -10000L, 0L, 10000L, 20000L, 50000L, 100000L, 200000L)

  /** Quality-classifier THRESHOLD CURVE (round-12 verdict item 4) — the
    * number that picks the curation funnel's quality gate: for each
    * per-token log-odds cut in [[QualityRocCuts]], how many docs the
    * trained NB scorer would accept and the precision/recall of that
    * acceptance against the gopher-gate labels the model was trained
    * on (the standard bootstrap audit: the curve shows where the
    * learned gate diverges from its own teacher). The cut is applied
    * WITHOUT division — predicted ⟺ score_micro > cut · n_tok, the
    * exact integer cross-multiplication form ([[Dedup.thresholdCurve]]
    * idiom), so a small positive score near a zero cut can never be
    * lost to truncation, and the cut=0 row's n_pred is BY CONSTRUCTION
    * [[qualityScoreTrained]]'s keep count (QualityRocSpec pins it).
    * Scale: one scored-docs frame × an 11-row broadcast grid, one
    * groupBy(cut) with partial agg — no corpus-wide sort (exact decile
    * SELECTION would need one; the per-token grid is the scale-honest
    * sweep). All counts non-negative ⇒ div ≡ `//`. */
  def qualityRoc(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cuts = QualityRocCuts.toDF("cut_micro")
    val scored = qualityScoreTrained(spark, dir)
      .select(col("doc_id"), col("n_tok"), col("score_micro"))
    val lab = gopherGates(spark, dir)
      .select(col("doc_id"), col("gopher_ok").as("y"))
    val pred = col("score_micro") > col("cut_micro") * col("n_tok")
    scored.join(lab, Seq("doc_id"))
      .crossJoin(broadcast(cuts))
      .groupBy("cut_micro")
      .agg(
        sum(when(pred, 1L).otherwise(0L)).as("n_pred"),
        sum(when(pred && col("y") === 1, 1L).otherwise(0L)).as("tp"),
        sum(when(pred && col("y") === 0, 1L).otherwise(0L)).as("fp"),
        sum(when(col("y") === 1, 1L).otherwise(0L)).as("n_pos"))
      .select(col("cut_micro"), col("n_pred"), col("tp"), col("fp"),
        col("n_pos"),
        expr("CASE WHEN n_pred = 0 THEN CAST(1000000 AS BIGINT) " +
             "ELSE (tp * CAST(1000000 AS BIGINT)) div n_pred END")
          .as("precision_micro"),
        expr("CASE WHEN n_pos = 0 THEN CAST(1000000 AS BIGINT) " +
             "ELSE (tp * CAST(1000000 AS BIGINT)) div n_pos END")
          .as("recall_micro"))
      .orderBy("cut_micro")
  }

  /** Quality-gate CALIBRATION curve (text_quality_calibration) — the
    * reliability diagram [[qualityRoc]]'s cut sweep doesn't give: rank
    * docs by per-token NB score, split into 10 equal-count(-ish)
    * deciles, and report the OBSERVED gopher-label rate per decile —
    * the table that picks a *probability* threshold rather than a
    * score cut (a well-calibrated scorer shows rate rising with
    * decile; a flat column is a bucket the score can't separate).
    *
    * Decile rule (exact SELECTION, never interpolation — the qv/md
    * family): docs are ordered by the integer per-token score
    * spt = score_micro div n_tok (Spark div truncates toward zero;
    * score can be NEGATIVE so the oracle mirrors with the sign-split
    * `//` form — CLAUDE.md integer-division rule), equal scores share
    * a decile via the exclusive-prefix rank: decile = least(9,
    * (cum_before · 10) div n). Scale shape: ONE groupBy collapses the
    * corpus to the per-token-score histogram — its cardinality is
    * bounded by the score RANGE (±~0.2e6 micro-nats), not the corpus —
    * and the single-partition running-sum window runs over that
    * model-sized frame (the madOutlier histogram precedent), never
    * over docs. CalibrationSpec ties Σn_docs to the corpus count and
    * Σn_pos to [[qualityRoc]]'s n_pos column. */
  def qualityCalibration(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = qualityScoreTrained(spark, dir)
      .select(col("doc_id"), col("n_tok"), col("score_micro"))
    val lab = gopherGates(spark, dir)
      .select(col("doc_id"), col("gopher_ok").as("y"))
    val g = scored.join(lab, Seq("doc_id"))
      .select(expr("score_micro div n_tok").as("spt_micro"), col("y"))
      .groupBy("spt_micro")
      .agg(count(lit(1)).as("n_g"), sum("y").cast("long").as("p_g"))
    val n = g.agg(sum("n_g").as("n"))
    val wCum = Window.orderBy("spt_micro")
      .rowsBetween(Window.unboundedPreceding, -1)
    g.withColumn("cum", coalesce(sum("n_g").over(wCum), lit(0L)))
      .crossJoin(broadcast(n))
      .withColumn("decile", least(lit(9L), expr("(cum * 10) div n")))
      .groupBy("decile")
      .agg(sum("n_g").as("n_docs"), sum("p_g").as("n_pos"),
           min("spt_micro").as("spt_min_micro"),
           max("spt_micro").as("spt_max_micro"))
      .select(col("decile"), col("n_docs"), col("n_pos"),
              col("spt_min_micro"), col("spt_max_micro"),
              expr("(n_pos * CAST(1000000 AS BIGINT)) div n_docs")
                .as("rate_micro"))
      .orderBy("decile")
  }

  /** CALIBRATION-DRIVEN keep gate (text_quality_gate_calibrated) — the
    * apply half of [[qualityCalibration]]'s reliability diagram: pick
    * the probability threshold from the OBSERVED label rates (τ = the
    * smallest per-token score that opens a decile whose gopher-label
    * rate reaches 50% — the balanced-prior probability point the NB
    * sign cut only approximates) and report, per gate, how the
    * calibrated keep set differs from the production score cut
    * (score_micro > 0 ≡ [[qualityScoreTrained]].keep — QualityRocSpec's
    * cut=0 pin). The five rows are the funnel delta a curation owner
    * reads before switching gates: both / calib_only / score_only are
    * the agreement quadrants, each with its observed precision against
    * the gopher teacher. τ falls back to the 1e9 sentinel (keep
    * nothing) when NO decile reaches 50% — a scorer that can't reach
    * calibrated confidence anywhere must fail closed, not open
    * (CalibrationSpec drives that branch on a crafted frame). Literals
    * (rate ≥ 500000, sentinel 1e9) are mirrored in the oracle —
    * lockstep. Scale: the decile table is ≤10 rows, τ a one-row
    * broadcast; the corpus pass is the SAME scored frame the
    * calibration chain already built, one groupBy(gate) over a 5-row
    * broadcast grid. spt = score_micro div n_tok is SIGNED → oracle
    * mirrors with the sign-split `//` form. */
  def qualityGateCalibrated(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val calib = qualityCalibration(spark, dir)
    val tau = calib.filter(col("rate_micro") >= 500000L)
      .agg(coalesce(min("spt_min_micro"), lit(1000000000L)).as("tau_micro"))
    val scored = qualityScoreTrained(spark, dir)
      .select(col("doc_id"), col("n_tok"), col("score_micro"))
    val lab = gopherGates(spark, dir)
      .select(col("doc_id"), col("gopher_ok").as("y"))
    val f = scored.join(lab, Seq("doc_id")).crossJoin(broadcast(tau))
      .select(col("y").cast("long").as("y"), col("tau_micro"),
        (col("score_micro") > 0).cast("long").as("ks"),
        (expr("score_micro div n_tok") >= col("tau_micro"))
          .cast("long").as("kc"))
    val gates = Seq("both", "calib_only", "calibrated", "score_cut",
                    "score_only").toDF("gate")
    f.crossJoin(broadcast(gates))
      .select(col("gate"), col("y"), col("tau_micro"),
        when(col("gate") === "score_cut", col("ks"))
          .when(col("gate") === "calibrated", col("kc"))
          .when(col("gate") === "both", col("ks") * col("kc"))
          .when(col("gate") === "calib_only", col("kc") * (lit(1L) - col("ks")))
          .otherwise(col("ks") * (lit(1L) - col("kc"))).as("flag"))
      .groupBy("gate")
      .agg(max("tau_micro").as("tau_micro"), sum("flag").as("n_keep"),
           sum(col("flag") * col("y")).as("n_pos_kept"))
      .select(col("gate"), col("tau_micro"), col("n_keep"), col("n_pos_kept"),
        expr("CASE WHEN n_keep = 0 THEN CAST(1000000 AS BIGINT) " +
             "ELSE (n_pos_kept * CAST(1000000 AS BIGINT)) div n_keep END")
          .as("precision_micro"))
      .orderBy("gate")
  }

  /** Cross-document duplicated-span fraction — the scalable proxy for
    * exact-substring dedup (Lee et al., "Deduplicating Training Data
    * Makes Language Models Better"): per doc, the fraction of its
    * distinct word 8-grams that occur in ≥ 2 documents; docs past 0.5
    * are flagged. Scale shape: shingle DF is a pure COUNT (no posting
    * lists, so no hot-key buffer risk and no cap needed), and the
    * join back is 1:1 per (doc, shingle) row — fan-out never exceeds
    * input, unlike pair generation. Two shuffles (by shingle, by doc).
    * Both shuffles key on the 8-gram's 16-BYTE MD5 DIGEST, never the
    * raw string (the dedup_exact lesson — an 8-token gram is ~50 bytes
    * and the gram exchange dominates at 100 TB); output is identical
    * absent an md5 collision, the oracle keeps string keys, and
    * SubstrDigestSpec pins digest ≡ string. `digestKeyed = false` is
    * the spec-only string-keyed reference path. */
  def dupSpanFrac(spark: SparkSession, dir: String): DataFrame =
    dupSpanFracOf(spark, dir, digestKeyed = true)

  private[graft] def dupSpanFracOf(spark: SparkSession, dir: String,
                                   digestKeyed: Boolean): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val sh = Dedup.wordTokens(docs, 8)
      .select(col("doc_id"), explode(Dedup.wordGrams(8)).as("raw"))
      .select(col("doc_id"),
        (if (digestKeyed) unhex(md5(col("raw"))) else col("raw")).as("s"))
      .distinct()
    val df = sh.groupBy("s").agg(count(lit(1)).as("df"))
    val perDoc = sh.join(df, Seq("s"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"),
           sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup"))
    docs.select("doc_id").join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
              coalesce(col("n_sh"), lit(0L)).as("n_sh"),
              coalesce(col("n_dup"), lit(0L)).as("n_dup"))
      .withColumn("dup_frac",
        when(col("n_sh") === 0, lit(0.0))
          .otherwise(Num.rnd(col("n_dup").cast("double") / col("n_sh"), 6)))
      .withColumn("keep", (col("dup_frac") <= 0.5).cast("int"))
  }

  /** Unigram log-probability scoring — the perplexity-style LM quality
    * filter (docs of improbable tokens score low): lp(tok) = ln(corpus
    * frequency), doc score = mean lp over its occurrences. Float
    * discipline (CLAUDE.md ln rule, the text_tfidf precedent) taken one
    * step further: each token's ln is rounded at 6 dp and stored as an
    * INTEGER micro-nat (round(ln·1e6) as long), so the per-doc sum is
    * exact integer arithmetic — immune to the engines' different
    * summation orders, which rounding-after-summing would not be. Scale
    * shape: corpus TF (one shuffle), vocab join (no broadcast hint —
    * vocab is unbounded, AQE decides), per-doc agg (one shuffle). */
  def unigramLogprob(spark: SparkSession, dir: String): DataFrame =
    unigramPerDoc(Tables.documents(spark, dir))
      .select(col("doc_id"), col("n_tok"), col("sum_lp_micro"),
              Num.rnd(col("sum_lp_micro").cast("double") /
                        (col("n_tok") * lit(1e6)), 6).as("avg_lp"))
      .withColumn("keep", (col("avg_lp") >= -3.42).cast("int"))

  /** Per-doc unigram-LM accumulator (doc_id, n_tok, sum_lp_micro) —
    * the shared base of [[unigramLogprob]] and [[pplBuckets]]; its SQL
    * mirror is [[unigramPdCteSql]] (lockstep). */
  private[graft] def unigramPerDoc(docs: DataFrame): DataFrame = {
    val tk = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val cnt = tk.groupBy("tok").agg(count(lit(1)).as("c"))
    val tot = cnt.agg(sum("c").as("n"))
    val lp = cnt.crossJoin(broadcast(tot))
      .select(col("tok"),
              round(log(col("c") / col("n")) * lit(1e6)).cast("long").as("lpm"))
    tk.join(lp, Seq("tok"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"), sum("lpm").as("sum_lp_micro"))
  }

  /** DSIR-style importance weights (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", NeurIPS 2023): score
    * every document by how much more likely it is under a TARGET-domain
    * unigram LM than under the RAW-corpus LM — log w(x) = Σ_tok
    * (ln p_target(tok) − ln p_raw(tok)) — then keep the docs that lean
    * target (log w > 0), the deterministic analog of DSIR's
    * Gumbel-noised resampling. Target here = the `source = 'src0'`
    * slice (the "trusted domain" proxy; the literal is mirrored in the
    * oracle — lockstep). Both models are Laplace-smoothed over the SAME
    * corpus vocabulary — (c + 1) / (n + |V|) — so target-unseen tokens
    * contribute a finite negative delta instead of −∞. Float
    * discipline: each smoothed probability is exact-integer-over-
    * exact-integer (ONE IEEE-exact division), its ln is rounded at 6 dp
    * into integer micro-nats (the unigramPerDoc / CLAUDE.md ln rule),
    * and the per-doc sum is pure integer — engine-identical at any
    * partitioning. Scale: two |vocab|-row models joined once against
    * the token stream; no window, no all-pairs, keep-gate is a per-row
    * comparison. */
  def dsirWeights(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val tk = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val tgtIds = docs.filter(col("source") === "src0").select("doc_id")
    val raw = tk.groupBy("tok").agg(count(lit(1)).as("cr"))
    val tgt = tk.join(tgtIds, Seq("doc_id"))
      .groupBy("tok").agg(count(lit(1)).as("ct"))
    val consts = raw.agg(count(lit(1)).as("v"), sum("cr").as("nr"))
      .crossJoin(tk.join(tgtIds, Seq("doc_id"))
        .agg(count(lit(1)).as("nt")))
    val lp = raw.join(tgt, Seq("tok"), "left")
      .crossJoin(broadcast(consts))
      .select(col("tok"),
        (round(log((coalesce(col("ct"), lit(0L)) + lit(1L)) /
                     (col("nt") + col("v"))) * lit(1e6)).cast("long") -
         round(log((col("cr") + lit(1L)) /
                     (col("nr") + col("v"))) * lit(1e6)).cast("long"))
          .as("dlt_micro"))
    tk.join(lp, Seq("tok"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"), sum("dlt_micro").as("logratio_micro"))
      .withColumn("keep", (col("logratio_micro") > 0L).cast("int"))
      .orderBy("doc_id")
  }

  /** Per-source KL divergence from the corpus token distribution — the
    * distribution-level drift check at TOKEN grain, completing the
    * drift family ([[ksDrift]] compares LENGTH distributions;
    * [[dsirWeights]] scores per-document against ONE target): for each
    * source, KL(P_s ‖ P_corpus) over the shared corpus vocabulary with
    * Laplace smoothing — the domain-shift number a mixture designer
    * reads before setting weights. Same micro-nat discipline as DSIR
    * (each ln micronized FIRST — the ln rule — then all arithmetic
    * exact BIGINT): the reported numerator is Σ (c_s+1)·Δln_micro,
    * i.e. KL scaled by the smoothed mass (n_s+|V|); kl_micro divides
    * once at the end (rounding can push a near-identical source a hair
    * negative, so the oracle uses the sign-split floor form — CLAUDE.md
    * division rule). The (source × vocab) grid is model-sized ×
    * |sources| — bounded at any corpus scale; one broadcast of the
    * |sources|-row totals. */
  def klDrift(spark: SparkSession, dir: String): DataFrame = {
    val tk = Tables.documents(spark, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
    val corpus = tk.groupBy("tok").agg(count(lit(1)).as("cr"))
    val consts = corpus.agg(count(lit(1)).as("v"), sum("cr").as("nr"))
    val srcTot = tk.groupBy("source").agg(count(lit(1)).as("ns"))
    val srcCnt = tk.groupBy("source", "tok").agg(count(lit(1)).as("cs"))
    corpus.crossJoin(broadcast(srcTot))
      .join(srcCnt, Seq("source", "tok"), "left")
      .crossJoin(broadcast(consts))
      .select(col("source"), col("ns"), col("v"),
        (coalesce(col("cs"), lit(0L)) + lit(1L)).as("csp"),
        (round(log((coalesce(col("cs"), lit(0L)) + lit(1L)) /
                     (col("ns") + col("v"))) * lit(1e6)).cast("long") -
         round(log((col("cr") + lit(1L)) /
                     (col("nr") + col("v"))) * lit(1e6)).cast("long"))
          .as("dlt_micro"))
      .groupBy("source")
      .agg(first("ns").as("n_tok"), first("v").as("n_vocab"),
           sum(col("csp") * col("dlt_micro")).as("num"))
      .withColumn("kl_micro", expr("num div (n_tok + n_vocab)"))
      .select("source", "n_tok", "n_vocab", "num", "kl_micro")
      .orderBy("source")
  }

  /** Source×source VOCABULARY overlap matrix — the symmetric companion
    * of [[klDrift]] (KL is an asymmetric frequency-weighted distance;
    * this is set-level Jaccard over DISTINCT tokens — which domains
    * even share words, before asking how differently they use them)
    * and the vocabulary-grain twin of `dedup_source_overlap` (which
    * counts near-duplicate DOCUMENT pairs): |V_a ∩ V_b| / |V_a ∪ V_b|
    * per unordered source pair, all-integer micro. Candidates come
    * from an inverted token→sources join — a token shared by s sources
    * contributes s² pair rows, so volume is ≤ |vocab|·|sources|² —
    * model-sized × a handful, at any corpus scale. */
  def vocabOverlap(spark: SparkSession, dir: String): DataFrame = {
    val st = Tables.documents(spark, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .distinct()
    val sz = st.groupBy("source").agg(count(lit(1)).as("v"))
    val inter = st.as("a").join(st.as("b"),
        col("a.tok") === col("b.tok") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sz.select(col("source").as("src_a"), col("v").as("v_a")),
            Seq("src_a"))
      .join(sz.select(col("source").as("src_b"), col("v").as("v_b")),
            Seq("src_b"))
      .withColumn("jac_micro",
        expr("(inter * CAST(1000000 AS BIGINT)) div (v_a + v_b - inter)"))
      .select("src_a", "src_b", "v_a", "v_b", "inter", "jac_micro")
      .orderBy("src_a", "src_b")
  }

  /** Per-source Jensen–Shannon divergence from the corpus distribution —
    * the SYMMETRIC, bounded companion of [[klDrift]] (KL is unbounded
    * and asymmetric; JSD ∈ [0, ln 2] and is the number mixture papers
    * quote). Same Laplace smoothing and micronized-ln discipline, but
    * the mixture term ln m = ln((p+q)/2) is formed from EXACT integer
    * rationals: p = a/A, q = b/B ⇒ m = (aB+bA)/(2AB), so
    * ln p − ln m = [lnM(a) − lnM(A)] − [lnM(aB+bA) − lnM(2AB)] with
    * each ln micronized FIRST (the ln rule — a raw ln of a quotient
    * can flip rounding between Java and libm). num_pm = Σ a·Δln is the
    * p-side KL scaled by A = n_s+|V|; one trailing division each side,
    * sign-split in the oracle (rounding can push a near-identical
    * source a hair negative — CLAUDE.md division rule). BIGINT
    * envelope: aB+bA and 2AB stay < 2^63 for corpora to ~10^9 tokens
    * per side. Scale: the (source × vocab) grid is model-sized ×
    * |sources|, totals broadcast — bounded at any corpus size. */
  def jsdDrift(spark: SparkSession, dir: String): DataFrame = {
    def lnMicro(c: Column): Column = round(log(c) * lit(1e6)).cast("long")
    val tk = Tables.documents(spark, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
    val corpus = tk.groupBy("tok").agg(count(lit(1)).as("cr"))
    val consts = corpus.agg(count(lit(1)).as("v"), sum("cr").as("nr"))
    val srcTot = tk.groupBy("source").agg(count(lit(1)).as("ns"))
    corpus.crossJoin(broadcast(srcTot))
      .join(tk.groupBy("source", "tok").agg(count(lit(1)).as("cs")),
            Seq("source", "tok"), "left")
      .crossJoin(broadcast(consts))
      .select(col("source"), col("ns"), col("v"),
        (coalesce(col("cs"), lit(0L)) + lit(1L)).as("a"),
        (col("cr") + lit(1L)).as("b"),
        (col("ns") + col("v")).as("aa"),
        (col("nr") + col("v")).as("bb"))
      .withColumn("lnmd",
        lnMicro(col("a") * col("bb") + col("b") * col("aa")) -
          lnMicro(lit(2L) * col("aa") * col("bb")))
      .groupBy("source")
      .agg(first("ns").as("n_tok"), first("v").as("n_vocab"),
           first("aa").as("aa"), first("bb").as("bb"),
           sum(col("a") * (lnMicro(col("a")) - lnMicro(col("aa")) - col("lnmd")))
             .as("num_pm"),
           sum(col("b") * (lnMicro(col("b")) - lnMicro(col("bb")) - col("lnmd")))
             .as("num_qm"))
      .withColumn("kl_pm_micro", expr("num_pm div aa"))
      .withColumn("kl_qm_micro", expr("num_qm div bb"))
      .withColumn("jsd_micro", expr("(kl_pm_micro + kl_qm_micro) div 2"))
      .select("source", "n_tok", "n_vocab", "num_pm", "num_qm",
              "kl_pm_micro", "kl_qm_micro", "jsd_micro")
      .orderBy("source")
  }

  /** Per-document lexical diversity: type-token ratio and hapax share —
    * the cheap templated-spam screen (machine-generated boilerplate
    * repeats a tiny vocabulary → low TTR, few hapax legomena; organic
    * prose is hapax-rich). All-integer micro shares (n_types ≤ n_tok
    * and n_hapax ≤ n_types — non-negative, div ≡ //). One (doc, tok)
    * aggregation then a per-doc fold — two map-side-combined shuffles
    * on doc-bounded keys, linear at any corpus scale. */
  def ttr(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_tok"), count(lit(1)).as("n_types"),
           sum((col("c") === 1L).cast("long")).as("n_hapax"))
      .withColumn("ttr_micro",
        expr("(n_types * CAST(1000000 AS BIGINT)) div n_tok"))
      .withColumn("hapax_micro",
        expr("(n_hapax * CAST(1000000 AS BIGINT)) div n_tok"))
      .select("doc_id", "n_tok", "n_types", "n_hapax",
              "ttr_micro", "hapax_micro")
      .orderBy("doc_id")

  /** Training-shard assignment plan — the physical layout step a corpus
    * takes before training (N fixed shards, assignment by deterministic
    * hash so every engine lands the doc identically): shard =
    * saltOrd(doc_id) mod 32 (the Knuth multiplicative scramble the
    * sampling family already mirrors), reporting per-shard doc/token
    * counts and each shard's deviation from the ideal 1/32 token share
    * in signed micro (sign-split // in the oracle — CLAUDE.md division
    * rule). The report is 32 rows at any corpus size; the assignment
    * itself is one map-side expression, no shuffle beyond the count
    * agg. A balanced dev_micro column IS the evidence the hash spreads
    * load — the thing to check before 1000 writers each own a shard. */
  def shardPlan(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
              size(split(col("text"), " ")).cast("long").as("n_tok"))
      .withColumn("shard",
        (Similarity.saltOrd(col("doc_id")) % 32L).cast("int"))
    val sh = docs.groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("shard_tok"))
    val tot = sh.agg(sum("shard_tok").as("tot"))
    sh.crossJoin(broadcast(tot))
      .withColumn("share_micro",
        expr("(shard_tok * CAST(1000000 AS BIGINT)) div tot"))
      .withColumn("dev_micro",
        expr("(shard_tok * CAST(32000000 AS BIGINT) - tot * 1000000) div tot"))
      .select("shard", "n_docs", "shard_tok", "share_micro", "dev_micro")
      .orderBy("shard")
  }

  /** Per-source document-length quantiles (p50/p90/p99 token counts by
    * positional ceil-rank — the time_value_quantiles discipline on the
    * corpus: exact integer SELECTION, zero float arithmetic). The
    * length profile a mixture designer reads next to the KS drift
    * number; one window pass per source + a conditional agg. */
  def lenQuantiles(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source")
      .orderBy(col("n_tok").asc, col("doc_id").asc)
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
              size(split(col("text"), " ")).cast("long").as("n_tok"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("source")))
      .groupBy("source")
      .agg(max("n").as("n_docs"),
        max(when(col("rn") === expr("(n * 50 + 99) div 100"), col("n_tok")))
          .as("p50_tok"),
        max(when(col("rn") === expr("(n * 90 + 99) div 100"), col("n_tok")))
          .as("p90_tok"),
        max(when(col("rn") === expr("(n * 99 + 99) div 100"), col("n_tok")))
          .as("p99_tok"))
      .orderBy("source")
  }

  /** Vocabulary growth curve (Heaps' law checkpoints) — distinct-token
    * count after the first {50, 100, 250, 500} documents in arrival
    * (doc_id) order, with the running TTR. The companion of
    * `text_ngram_novelty` at TOKEN grain: a crawl whose vocab curve
    * flattens early is re-reading the same template. Cut literals are
    * mirrored in the oracle (lockstep); cuts beyond the corpus size
    * simply report the full corpus. One |vocab|-sized first-occurrence
    * frame × a 4-row broadcast — bounded at any corpus scale. */
  def vocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cuts = VocabGrowthCuts.toDF("cut")
    val docs = Tables.documents(spark, dir)
    val fd = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").agg(min("doc_id").as("fd"))
    val vg = fd.crossJoin(broadcast(cuts)).filter(col("fd") < col("cut"))
      .groupBy("cut").agg(count(lit(1)).as("n_vocab"))
    docs
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("nt"))
      .crossJoin(broadcast(cuts)).filter(col("doc_id") < col("cut"))
      .groupBy("cut").agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tok"))
      .join(vg, Seq("cut"))
      .withColumn("ttr_micro",
        expr("(n_vocab * CAST(1000000 AS BIGINT)) div n_tok"))
      .select("cut", "n_docs", "n_tok", "n_vocab", "ttr_micro")
      .orderBy("cut")
  }

  /** Checkpoint literals for [[vocabGrowth]] — mirrored in its oracle. */
  private[graft] val VocabGrowthCuts = Seq(50L, 100L, 250L, 500L)

  /** DSIR SELECTION under a per-source token budget — the apply half of
    * [[dsirWeights]] (the measure→apply pairing rule: IVF train→search,
    * BPE learn→apply, PII scan→redact): within each source, take docs
    * in (log-ratio desc, doc_id asc) order while the running token
    * count stays ≤ 1000 (the budget literal — mirrored in the oracle,
    * lockstep). Per-SOURCE ranking keeps the window partitioned (the
    * corpus_quantile_select precedent — never a global single-partition
    * sort), which is also the realistic deployment: domain budgets, not
    * one corpus-wide cut. Output carries rank/cumulative tokens so the
    * cut is auditable; `selected` is the gate. */
  def dsirSelect(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source")
      .orderBy(col("logratio_micro").desc, col("doc_id").asc)
    dsirWeights(spark, dir).drop("keep")
      .join(Tables.documents(spark, dir).select("doc_id", "source"), Seq("doc_id"))
      .withColumn("rn", row_number().over(w))
      .withColumn("cum_tok",
        sum("n_tok").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("selected", (col("cum_tok") <= 1000L).cast("int"))
      .select("source", "doc_id", "rn", "n_tok", "cum_tok",
              "logratio_micro", "selected")
      .orderBy("source", "rn")
  }

  /** CCNet-style perplexity bucketing — the published web-curation
    * recipe (Wenzek et al.: score each document with a language-model
    * perplexity, rank WITHIN its language, cut into head/middle/tail
    * thirds; training mixes prefer the head). Language = the n-gram
    * marker PREDICTION (not the gold label — the pipeline shape), LM =
    * the corpus unigram model of [[unigramPerDoc]] in exact integer
    * micro-nats; per-doc NLL = −sum/(n·1e6), ONE division + negation
    * (both IEEE-exactly-rounded, so ranking order is engine-identical;
    * ties broken by doc_id). Bucket bounds are the integer rank rule
    * 3·rn ≤ nd / 3·rn ≤ 2·nd — no percentile floats. Scale: the model
    * is |vocab| rows, the rank is one window per language partition. */
  def pplBuckets(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val pl = scoredFrame(docs).select(col("doc_id"), predictedCol.as("plang"))
    val w = Window.partitionBy("plang").orderBy(col("nll").asc, col("doc_id").asc)
    val wc = Window.partitionBy("plang")
    unigramPerDoc(docs).join(pl, Seq("doc_id"))
      .withColumn("nll",
        -(col("sum_lp_micro").cast("double") / (col("n_tok") * lit(1e6))))
      .withColumn("rn", row_number().over(w))
      .withColumn("nd", count(lit(1)).over(wc))
      .select(col("doc_id"), col("plang"), col("n_tok"),
              Num.rnd(col("nll"), 6).as("avg_nll"), col("rn"),
              when(col("rn") * 3 <= col("nd"), "head")
                .when(col("rn") * 3 <= col("nd") * 2, "middle")
                .otherwise("tail").as("bucket"))
  }

  /** Boilerplate-prefix detection — groups of documents opening with the
    * same 8 tokens (shared headers/templates/lead-ins), the web-curation
    * step between whole-doc dedup and span-level dedup: a shared opening
    * marks template families even when bodies diverge. One groupBy on
    * the bounded prefix key (production would group on its digest, the
    * `dedup_exact` md5 lesson, when prefixes are long). */
  def boilerplate(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), pfxCol.as("pfx"))
      .groupBy("pfx")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("keep_doc"))
      .filter(col("n_docs") > 1)

  /** Boilerplate STRIPPING — the apply half of [[boilerplate]] (which
    * only reports template families): every document whose 8-token
    * opening is shared by another document loses that prefix; everyone
    * else passes through verbatim. One groupBy over the bounded prefix
    * key + one join of the (small) >1-member group table back onto the
    * corpus — the group table is template-family-sized, so at 100 TB
    * it broadcasts and the corpus never shuffles. Output keeps the
    * strip flag and the post-strip token count so a downstream gate
    * can re-screen (a stripped doc can fall under the Gopher minimum). */
  def boilerplateStrip(spark: SparkSession, dir: String): DataFrame = {
    val groups = boilerplate(spark, dir).select(col("pfx"))
      .withColumn("strip", lit(1))
    val toks = split(col("text"), " ")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), pfxCol.as("pfx"))
      .join(broadcast(groups), Seq("pfx"), "left")
      .select(col("doc_id"),
        when(col("strip") === 1,
          concat_ws(" ", slice(toks, lit(9), greatest(size(toks) - 8, lit(0)))))
          .otherwise(col("text")).as("kept_text"),
        coalesce(col("strip"), lit(0)).cast("int").as("stripped"))
      .withColumn("n_tok_after",
        when(length(col("kept_text")) === 0, 0)
          .otherwise(size(split(col("kept_text"), " "))).cast("int"))
  }

  /** The 8-token boilerplate prefix key — shared by [[boilerplate]] and
    * the curation funnel ([[Curate]]); its SQL mirror is
    * [[boilerplateGroupsSql]]'s pfx expression. */
  private[graft] def pfxCol: Column =
    concat_ws(" ", slice(split(col("text"), " "), 1, 8))

  /** Oracle mirror of [[boilerplate]] — the >1-member prefix groups;
    * shared by text_boilerplate and the curation-funnel oracle. */
  private[graft] val boilerplateGroupsSql: String =
    "SELECT pfx, count(*) AS n_docs, min(doc_id) AS keep_doc FROM (" +
    "SELECT doc_id, array_to_string(string_split(text, ' ')[1:8], ' ') AS pfx " +
    "FROM documents) p GROUP BY pfx HAVING count(*) > 1"

  /** Zipf rank-frequency slope — the one-number corpus-health fingerprint
    * (natural text ≈ −1; templated/synthetic corpora flatten toward 0):
    * least-squares slope of ln(freq) on ln(rank) over the vocabulary.
    * The regression is EXACT integer algebra — ln(rank) and ln(freq)
    * micronized once per vocab row (per-row products ≤ ~4.4e14, safely
    * int64), then summed into DECIMAL(38,0) accumulators and combined
    * as k·Σxy − Σx·Σy in decimal (HUGEINT on the oracle side): with
    * x,y ≤ ln(V)·1e6 the combined terms pass 2^63 once V exceeds a few
    * hundred tokens, so plain BIGINT algebra only survived the synthetic
    * 31-token vocab — decimal/HUGEINT is exact to ~10^34, far past any
    * real vocabulary (round-6 advice item 1). Only the final slope
    * divides. Model size = |vocab|; the token count is the only
    * corpus-sized pass. */
  def zipf(spark: SparkSession, dir: String): DataFrame =
    zipfOf(Tables.documents(spark, dir))

  /** [[zipf]] over any frame with a `text` column — standalone so specs
    * can drive the decimal algebra on a large synthetic vocabulary. */
  private[graft] def zipfOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cnt = docs
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val ranked = cnt.withColumn("rn",
      row_number().over(Window.orderBy(col("c").desc, col("tok").asc)))
    val t = ranked.select(
      round(log(col("rn").cast("double")) * lit(1e6)).cast("long").as("x"),
      round(log(col("c").cast("double")) * lit(1e6)).cast("long").as("y"))
    val dec = "decimal(38,0)"
    t.agg(count(lit(1)).as("k"),
          sum(col("x").cast(dec)).as("sx"),
          sum(col("y").cast(dec)).as("sy"),
          sum((col("x") * col("y")).cast(dec)).as("sxy"),
          sum((col("x") * col("x")).cast(dec)).as("sxx"))
      .select(col("k"),
        Num.rnd((col("k").cast(dec) * col("sxy") - col("sx") * col("sy")).cast("double") /
                (col("k").cast(dec) * col("sxx") - col("sx") * col("sx")).cast("double"), 6)
          .as("zipf_slope"))
  }

  /** Token-pair collocation mining by pointwise mutual information —
    * PMI(x,y) = ln(n·c_xy / (c_x·c_y)) over document-level
    * co-occurrence. The model table is |vocab²| (inherently bounded by
    * the distinct-token count), the stream side is per-doc DISTINCT
    * tokens, and the in-doc pair join fans out quadratically only in
    * per-doc distinct vocabulary — never in corpus size. Counts are
    * exact integers, the PMI ratio is integer·integer / integer·integer
    * folded in one exactly-rounded double division, and the ln is
    * micronized — deterministic ranking. Top-20 via orderBy+limit
    * (TakeOrderedAndProject), ranked after. */
  def pmi(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dt = Tables.documents(spark, dir)
      .select(col("doc_id"),
              explode(array_distinct(split(col("text"), " "))).as("tok"))
    val n = dt.select(countDistinct(col("doc_id")).as("n"))
    val cx = dt.groupBy("tok").agg(count(lit(1)).as("cx"))
    val pairs = dt.as("a")
      .join(dt.as("b"), Seq("doc_id"))
      .filter(col("a.tok") < col("b.tok"))
      .groupBy(col("a.tok").as("x"), col("b.tok").as("y"))
      .agg(count(lit(1)).as("cxy"))
    val scored = pairs
      .join(broadcast(cx.select(col("tok").as("x"), col("cx"))), Seq("x"))
      .join(broadcast(cx.select(col("tok").as("y"), col("cx").as("cy"))), Seq("y"))
      .crossJoin(broadcast(n))
      .select(col("x"), col("y"), col("cxy"),
        round(log((col("cxy") * col("n")).cast("double") /
                  (col("cx") * col("cy"))) * lit(1e6))
          .cast("long").as("pmi_micro"))
    val w = Window.orderBy(col("pmi_micro").desc, col("x").asc, col("y").asc)
    scored
      .orderBy(col("pmi_micro").desc, col("x").asc, col("y").asc).limit(k)
      .withColumn("rn", row_number().over(w))
  }

  /** Windowed skip-gram PMI — the word2vec-style LOCAL collocation
    * measure next to [[pmi]]'s document-level co-occurrence (whole-doc
    * co-occurrence finds topics; a ±2-position window finds PHRASES —
    * the distinction Levy & Goldberg made precise by showing skip-gram
    * embeddings factorize exactly this matrix): count directed token
    * pairs at position distance 1..2 within a document, PMI over the
    * PAIR distribution with its own marginals (textbook joint/marginal
    * PMI — self-consistent, no vocabulary-size smoothing needed since
    * only observed pairs are scored). The ratio is formed in doubles
    * with the identical cast-multiply-divide order in both engines
    * (every op IEEE-exact; cxy·T overflows BIGINT at corpus scale so
    * the integer form is NOT the scale-safe one), then the ln is
    * micronized once. Pair volume ≤ window·Σ|doc| — linear in corpus
    * tokens; marginals are model-sized; top-k via TakeOrderedAndProject
    * and a k-row rank window. Window 2 and k = 20 are mirrored
    * literals. */
  def skipgramPmi(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pt = Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .select(col("doc_id"), col("pos"), col("col").as("tok"))
    val pairs = pt.as("a").join(pt.as("b"),
        col("a.doc_id") === col("b.doc_id") &&
        col("b.pos") > col("a.pos") && col("b.pos") <= col("a.pos") + 2)
      .groupBy(col("a.tok").as("x"), col("b.tok").as("y"))
      .agg(count(lit(1)).as("cxy"))
    val t = pairs.agg(sum("cxy").as("t"))
    val mx = pairs.groupBy("x").agg(sum("cxy").as("cxl"))
    val my = pairs.groupBy("y").agg(sum("cxy").as("cyr"))
    val scored = pairs
      .join(broadcast(mx), Seq("x"))
      .join(broadcast(my), Seq("y"))
      .crossJoin(broadcast(t))
      .select(col("x"), col("y"), col("cxy"),
        round(log(col("cxy").cast("double") * col("t").cast("double") /
                  (col("cxl").cast("double") * col("cyr").cast("double"))) *
              lit(1e6)).cast("long").as("pmi_micro"))
    val w = Window.orderBy(col("pmi_micro").desc, col("x").asc, col("y").asc)
    scored
      .orderBy(col("pmi_micro").desc, col("x").asc, col("y").asc).limit(k)
      .withColumn("rn", row_number().over(w))
  }

  /** Per-source token-distribution Shannon entropy — the
    * information-theoretic corpus profile (low entropy = templated or
    * repetitive source, high = diverse): H = −Σ p·ln p in nats over
    * each source's token histogram. Same integer discipline as
    * [[unigramLogprob]]: ln(c/n) micronized once per DISTINCT
    * (source, token), Σ c·lpm is an exact BIGINT sum, and only the
    * final normalization divides — no fp-order drift. Two hash
    * aggregations + one broadcast of the |sources|-row totals. */
  def entropy(spark: SparkSession, dir: String): DataFrame = {
    val tk = Tables.documents(spark, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
    val cnt = tk.groupBy("source", "tok").agg(count(lit(1)).as("c"))
    val tot = cnt.groupBy("source")
      .agg(sum("c").as("n"), count(lit(1)).as("vocab"))
    cnt.join(broadcast(tot), Seq("source"))
      .select(col("source"), col("n"), col("vocab"),
              (col("c") *
                round(log(col("c") / col("n")) * lit(1e6)).cast("long"))
                .as("clpm"))
      .groupBy("source", "n", "vocab")
      .agg(sum("clpm").as("sum_clpm"))
      .select(col("source"), col("n").as("n_tok"), col("vocab"),
              Num.rnd(-col("sum_clpm").cast("double") /
                        (col("n") * lit(1e6)), 6).as("entropy"))
      .orderBy("source")
  }

  /** URL-canonicalization dedup — the re-crawl collapse a web corpus
    * runs before any content dedup: the same page arrives as
    * case-varied hosts, trailing-slash variants, and tracking-query
    * decorations; canonicalize (lowercase host, drop query/fragment,
    * strip trailing slash) and keep one doc per canonical URL. Raw URLs
    * are CONSTRUCTED deterministically (groups of 4 doc_ids share a
    * base page, each with a different decoration), so the oracle states
    * the canonical form from the construction — ground-truth
    * verification of the parse_url+normalize path, same idiom as
    * [[urlParse]]. Zero shuffle until the one canonical-key groupBy. */
  def urlDedup(spark: SparkSession, dir: String): DataFrame = {
    val baseId = expr("doc_id div 4")
    val host = concat(lit("h"), expr("(doc_id div 4) % 7"), lit(".example.com"))
    val stem = concat(lit("https://"), host, lit("/docs/"), baseId)
    val raw =
      when(col("doc_id") % 4 === 0, stem)
        .when(col("doc_id") % 4 === 1,
              concat(lit("https://"), upper(host), lit("/docs/"), baseId))
        .when(col("doc_id") % 4 === 2, concat(stem, lit("/")))
        .otherwise(concat(stem, lit("?utm_source=feed#frag")))
    Tables.documents(spark, dir)
      .filter(col("doc_id").isNotNull)
      .select(col("doc_id"), raw.as("url"))
      .withColumn("canon",
        concat(lower(expr("parse_url(url, 'HOST')")),
               regexp_replace(expr("parse_url(url, 'PATH')"), "/$", "")))
      .groupBy("canon")
      .agg(count(lit(1)).as("n_dups"),
           min("doc_id").as("keep_doc"),
           countDistinct(col("url")).as("n_variants"))
  }

  /** Per-source quantile gating — "keep each source's longest half" —
    * the relative-threshold curation rule (absolute cutoffs misfire
    * when sources have different length profiles). The lower median is
    * computed positionally (row_number vs count — exact, no
    * interpolation, so engines can't drift) with ONE window shuffle by
    * source; the median frame is |sources| rows and broadcast back.
    * At 100 TB the quantile state per source is one row — the pattern
    * holds for any per-shard relative gate. */
  def quantileSelect(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), length(col("text")).as("n_char"))
    val w = Window.partitionBy("source")
      .orderBy(col("n_char").asc, col("doc_id").asc)
    val med = d
      .withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("source")))
      .filter(col("rn") === expr("(cnt + 1) div 2"))
      .select(col("source"), col("n_char").as("med_chars"))
    d.join(broadcast(med), Seq("source"))
      .groupBy("source", "med_chars")
      .agg(count(lit(1)).as("n_docs"),
           sum((col("n_char") >= col("med_chars")).cast("int")).as("n_kept"),
           Num.rnd(lit(100.0) *
             sum((col("n_char") >= col("med_chars")).cast("int")) /
             count(lit(1)), 2).as("kept_pct"))
      .orderBy("source")
  }

  /** Bigram language-model scoring with add-one smoothing — the
    * next-token-surprise quality signal one step up from
    * [[unigramLogprob]]: fluent text has predictable bigrams, shuffled
    * or template text does not. ln(p) per DISTINCT bigram is micronized
    * to BIGINT (ln rounded once, engine-portable) and per-doc totals
    * are exact integer sums. The model table is |distinct bigrams| —
    * built with one hash aggregation, joined back by bigram key; at
    * 100 TB both sides shuffle on the same key and the model side is
    * the small one. */
  def bigramLogprob(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val t = split(col("text"), " ")
    val bg = docs.select(col("doc_id"),
        explode(arrays_zip(
          slice(t, lit(1), size(t) - 1).as("w1"),
          slice(t, lit(2), size(t) - 1).as("w2"))).as("z"))
      .select(col("doc_id"), col("z.w1").as("w1"), col("z.w2").as("w2"))
    val tk = docs.select(explode(t).as("tok"))
    val c1 = tk.groupBy("tok").agg(count(lit(1)).as("c1"))
      .withColumnRenamed("tok", "w1")
    val vocab = tk.agg(countDistinct(col("tok")).as("v"))
    val c2 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val lp = c2.join(c1, Seq("w1")).crossJoin(broadcast(vocab))
      .select(col("w1"), col("w2"),
        round(log((col("c2") + lit(1.0)) / (col("c1") + col("v"))) * lit(1e6))
          .cast("long").as("lpm"))
    bg.join(lp, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bi"), sum("lpm").as("sum_lp_micro"))
      .select(col("doc_id"), col("n_bi"), col("sum_lp_micro"),
              Num.rnd(col("sum_lp_micro").cast("double") /
                        (col("n_bi") * lit(1e6)), 6).as("avg_lp"))
  }

  /** BM25 ranked retrieval over an inverted index — the search shape a
    * curation pipeline uses to probe a corpus (pull docs matching an
    * audit query, mine domain-specific training data, spot-check a
    * mixture). Cost scales with the POSTINGS OF THE QUERY TERMS only —
    * the fact-side token stream is filtered to the (tiny, literal) term
    * set before any shuffle, so at 100 TB this is |postings|, never
    * |corpus|; df/corpus stats are broadcast scalars. Determinism: idf
    * is ln-rounded at 6 dp (the one non-IEEE-exact op), each per-term
    * partial score is micronized to BIGINT, and per-doc totals are
    * EXACT integer sums — no cross-engine fp-order drift. Final top-k
    * via TakeOrderedAndProject (distributed heap), ranked after. */
  def bm25(spark: SparkSession, dir: String,
           terms: Seq[String] = Seq("spark", "vector", "dup"),
           k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val dl = docs.select(col("doc_id"), size(split(col("text"), " ")).as("dl"))
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok").isin(terms: _*))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val dfq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("n_toks"))
    // k1 = 1.2, b = 0.75; norm = (1-b) + b*dl/avgdl with avgdl exact
    // double division. Every op below is IEEE-exact-rounded with an
    // identical operand tree in the oracle, so doubles are bit-equal.
    val idf = Num.rnd(log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))), 6)
    val norm = lit(0.25) + lit(0.75) *
      (col("dl").cast("double") /
        (col("n_toks").cast("double") / col("n_docs")))
    val scored = tf.join(broadcast(dfq), Seq("tok"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("sc_micro",
        round(idf * ((col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) * norm)) * lit(1e6)).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hit"), sum("sc_micro").as("score_micro"))
    val w = Window.orderBy(col("score_micro").desc, col("doc_id").asc)
    scored
      .orderBy(col("score_micro").desc, col("doc_id").asc).limit(k)
      .withColumn("rn", row_number().over(w))
      .withColumn("score",
        col("score_micro").cast("double") / lit(1e6))
      .select("doc_id", "n_hit", "score_micro", "score", "rn")
  }

  /** The multi-query BM25 eval set — a literal (query_id, term) table,
    * mirrored verbatim in the oracle's VALUES CTE (keep in lockstep). */
  private[graft] val Bm25Queries: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("spark", "vector"),
    2 -> Seq("dup", "data"),
    3 -> Seq("graph", "stream", "index"))

  /** Query-table-driven BM25 — [[bm25]] generalized past its literal
    * term list (round-6 verdict item 8): scoring joins a (query_id,
    * term) table, so adding an eval query is a data change, not a code
    * change. The query table is broadcast (an eval set is always tiny
    * next to the corpus); term stats (df, dl, avgdl) are computed ONCE
    * over the union of all query terms and shared across queries —
    * the corpus is scanned once no matter how many queries score.
    * Per-query top-k by window over the |queries|×|hit docs| scored
    * frame. Same integer micro-unit discipline as [[bm25]]: identical
    * IEEE operand tree both engines, BIGINT score sums. */
  def bm25Multi(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val qterms = Bm25Queries
      .flatMap { case (q, ts) => ts.map(t => (q, t)) }
      .toDF("query_id", "tok")
    val allTerms = Bm25Queries.flatMap(_._2).distinct
    val docs = Tables.documents(spark, dir)
    val dl = docs.select(col("doc_id"), size(split(col("text"), " ")).as("dl"))
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok").isin(allTerms: _*))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val dfq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("n_toks"))
    val idf = Num.rnd(log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))), 6)
    val norm = lit(0.25) + lit(0.75) *
      (col("dl").cast("double") /
        (col("n_toks").cast("double") / col("n_docs")))
    val scored = tf.join(broadcast(qterms), Seq("tok"))
      .join(broadcast(dfq), Seq("tok"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("sc_micro",
        round(idf * ((col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) * norm)) * lit(1e6)).cast("long"))
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_hit"), sum("sc_micro").as("score_micro"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score_micro").desc, col("doc_id").asc)
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .withColumn("score", col("score_micro").cast("double") / lit(1e6))
      .select("query_id", "doc_id", "n_hit", "score_micro", "score", "rn")
  }

  /** Deterministic train/validation/test split — the reproducibility
    * primitive every training pipeline needs: assignment is a pure
    * function of doc_id (Knuth multiplicative scramble mod 100:
    * 80/10/10), so reruns, engines, and partitionings all agree — no
    * rand(), no seed plumbing, no shuffle for the assignment itself.
    * Reported per (source, split) so stratification skew is visible
    * (hash-splitting is only approximately stratified; the counts ARE
    * the audit). One aggregate; assignment stays in-plan at any scale. */
  def corpusSplit(spark: SparkSession, dir: String): DataFrame = {
    val bucket = Similarity.saltOrd(col("doc_id")) % 100
    Tables.documents(spark, dir)
      .select(col("source"),
              when(bucket < 80, "train")
                .when(bucket < 90, "validation")
                .otherwise("test").as("split"))
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("source", "split")
  }

  /** URL parsing + domain allowlist — the domain-based filtering stage of
    * a web-scrape curation pipeline (Common-Crawl-style: keep/drop by
    * registered domain). The corpus has no URL column, so one is built
    * deterministically from (source, doc_id, lang); Spark's `parse_url`
    * (codegen'd Catalyst expression) then decomposes it and the oracle
    * states each component from the SAME construction — ground-truth
    * verification of the parser, not a parser-vs-parser comparison.
    * Zero shuffle. */
  def urlParse(spark: SparkSession, dir: String): DataFrame = {
    val url = concat(lit("https://"), col("source"), lit(".example.com/docs/"),
                     col("doc_id"), lit("?lang="), col("lang"))
    Tables.documents(spark, dir)
      // null guard pins cross-engine parity: a null component would make
      // concat (and every parse_url) NULL on the Spark side while the
      // oracle's per-column construction stays non-null — the filter is
      // mirrored in the oracle's WHERE
      .filter(col("source").isNotNull && col("lang").isNotNull &&
              col("doc_id").isNotNull)
      .select(col("doc_id"), url.as("url"))
      .select(col("doc_id"), col("url"),
              expr("parse_url(url, 'HOST')").as("host"),
              expr("parse_url(url, 'PATH')").as("path"),
              expr("parse_url(url, 'QUERY')").as("query"))
      .withColumn("domain_kept",
        col("host").isin("src0.example.com", "src1.example.com",
                         "src2.example.com").cast("int"))
  }

  /** BPE merge learning — the first rounds of tokenizer TRAINING, the
    * corpus-scale job that precedes every token-count/pack/chunk op in
    * this library: learn the highest-count adjacent symbol pair, merge
    * it everywhere, repeat. Runs on the WORD VOCABULARY with counts
    * (never the corpus): after the one corpus-sized word count, state
    * is |vocab| × avg word length symbol rows — model-sized at any
    * corpus scale, exactly why production BPE trainers fold the corpus
    * to a vocab first. The merge step is EXACT relational algebra
    * because candidate pairs are restricted to a ≠ b (self-pairs like
    * "aa" can overlap "aaa" and need sequential greedy scanning —
    * a restriction real early merges almost never hit): when a ≠ b,
    * matches cannot overlap, so "drop the b that follows an a, widen
    * the a that precedes a b" rewrites every occurrence in one
    * window pass. [[BpeRounds]] rounds unrolled with per-round top-1
    * broadcast (the graph_pagerank discipline: same constants, same
    * unrolled CTE chain in the oracle; ties break (count desc, a, b)).
    * Output: one row per learned merge (round, a, b, pair_count). */
  private[graft] val BpeRounds = 3
  def bpeMerges(spark: SparkSession, dir: String): DataFrame =
    bpeMergesOf(Tables.documents(spark, dir))

  private[graft] def bpeMergesOf(docs: DataFrame): DataFrame =
    bpeTrainOf(docs)._1

  /** Shared BPE training pass: returns (one row per learned merge,
    * the FINAL per-word symbol segmentation after all rounds). The
    * segmentation is the trained tokenizer's model table —
    * [[bpeApply]] consumes it; [[bpeMerges]] reports the merges. */
  private[graft] def bpeTrainOf(docs: DataFrame): (DataFrame, DataFrame) = {
    val (m, s, _) = bpeTrainRounds(docs, BpeRounds)
    (m, s)
  }

  /** The unrolled trainer at an ARBITRARY round count — ONE recipe
    * shared by the production tokenizer (BpeRounds, via [[bpeTrainOf]])
    * and the sizing sweep (BpeSweepRounds): returns the merge rows, the
    * final segmentation, and the per-round GLOBAL symbol-count curve
    * (rounds 0..n; round 0 = the character baseline, so its count IS
    * n_chars). Snapshot r's lineage replays rounds 1..r over the
    * model-sized vocab frame — O(n²) window passes on |vocab|·wordlen
    * rows, still corpus-independent. Assumes the corpus admits n merges
    * (an exhausted pair supply would empty the relational rewrite on
    * BOTH engines identically — out of regime for any real corpus).
    * `ckpt` materializes each round's segmentation (localCheckpoint of
    * the model-sized frame): the sweep's 7 read-outs then replay ZERO
    * window rounds instead of O(n²/2) total — measured 7.0 → ~3 s at
    * sf0.1 — at the cost of query-construction eagerness (fine: bpe
    * queries are not in PlanShapeSpec's laziness list; the checkpoint
    * RDDs are reclaimed by ContextCleaner when the result frame drops).
    * The 3-round production path stays lazy (single-action consumers,
    * shallow lineage). */
  private[graft] def bpeTrainRounds(docs: DataFrame, nRounds: Int,
                                    ckpt: Boolean = false)
      : (DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val wc = docs.select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    var syms = wc
      .select(col("w"), col("c"),
              posexplode(expr("regexp_extract_all(w, '.', 0)")))
      .select(col("w"), col("c"), col("pos"), col("col").as("sym"))
    val byWord = Window.partitionBy("w").orderBy("pos")
    def snap(r: Int, s: DataFrame): DataFrame =
      s.agg(sum("c").cast("long").as("n_syms"))
        .select(lit(r).as("rounds"), col("n_syms"))
    var curve = snap(0, syms)
    var out: DataFrame = null
    for (r <- 1 to nRounds) {
      val adj = syms.withColumn("nxt", lead("sym", 1).over(byWord))
      val top = adj
        .filter(col("nxt").isNotNull && col("sym") =!= col("nxt"))
        .groupBy(col("sym").as("ma"), col("nxt").as("mb"))
        .agg(sum("c").as("pc"))
        .orderBy(col("pc").desc, col("ma").asc, col("mb").asc)
        .limit(1)
      val row = top.select(lit(r).as("round"), col("ma").as("a"),
                           col("mb").as("b"), col("pc").as("pair_count"))
      out = if (out == null) row else out.unionByName(row)
      syms = adj
        .withColumn("prv", lag("sym", 1).over(byWord))
        .crossJoin(broadcast(top))
        .filter(!(col("sym") === col("mb") &&
                  coalesce(col("prv"), lit("")) === col("ma")))
        .select(col("w"), col("c"), col("pos"),
          when(col("sym") === col("ma") && col("nxt") === col("mb"),
               concat(col("sym"), col("nxt"))).otherwise(col("sym")).as("sym"))
      if (ckpt) syms = syms.localCheckpoint()
      curve = curve.unionByName(snap(r, syms))
    }
    (out.orderBy("round"), syms, curve)
  }

  /** Tokenizer-SIZING sweep (text_bpe_sweep) — the fertility-vs-rounds
    * curve a data pipeline reads to pick its merge budget: for every
    * prefix r ∈ 0..[[BpeSweepRounds]] of ONE unrolled training chain
    * (round 0 = the character baseline), the global symbol count, the
    * fertility (symbols per word) and the compression the merges bought
    * vs characters. Prefixes of one chain, NOT independent re-trains —
    * greedy BPE's round r is the same regardless of the total budget,
    * so the curve is exact for every budget at once (the
    * dedup_band_sweep discipline: one folded stream, many read-outs);
    * the r = BpeRounds row is BY CONSTRUCTION the production
    * tokenizer's global pricing (BpeSpec ties it to Σ bpeApply
    * n_bpe_tok). A merge only ever reduces the symbol count ⇒ n_syms
    * is monotone nonincreasing in r (savings nondecreasing — BpeSpec
    * pins both); all quantities non-negative ⇒ div ≡ `//`. */
  private[graft] val BpeSweepRounds = 6
  def bpeSweep(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val curve = bpeTrainRounds(docs, BpeSweepRounds, ckpt = true)._3
    val totals = curve.filter(col("rounds") === 0)
      .select(col("n_syms").as("n_chars"))
      .crossJoin(
        docs.select(explode(split(col("text"), " ")).as("w"))
          .agg(count(lit(1)).as("n_words")))
    curve.crossJoin(broadcast(totals))
      .select(col("rounds"), col("n_words"), col("n_syms"), col("n_chars"),
        expr("(n_syms * CAST(1000000 AS BIGINT)) div n_words")
          .as("fertility_micro"),
        expr("((n_chars - n_syms) * CAST(1000000 AS BIGINT)) div n_chars")
          .as("savings_micro"))
      .orderBy("rounds")
  }

  /** Fertility target for [[bpePick]] — 4.0 symbols per word, sitting
    * inside the sf0.01 sweep's range (round 4 = 4.040 > target ≥ round
    * 5 = 3.941) so the chooser picks a nontrivial interior row;
    * mirrored literally in the oracle (lockstep). */
  private[graft] val BpeFertilityTarget = 4000000L

  /** Merge-budget CHOOSER (text_bpe_pick) — the decision half of
    * [[bpeSweep]]'s curve (the tokenizer-sizing analog of
    * text_quality_gate_calibrated's threshold pick): the smallest round
    * count whose fertility meets [[BpeFertilityTarget]], read straight
    * off the sweep's `bscurve` so the chosen row IS its sweep row
    * (BpeSpec ties them cell-for-cell). FAIL-CLOSED when no prefix
    * qualifies: qualified = 0, chosen_rounds = −1, fertility sentinel
    * 1e9 — a loader must not silently train an unsized tokenizer.
    * One |curve|-row frame (≤ 7 rows) — constant cost at any corpus
    * scale beyond the sweep itself. */
  def bpePick(spark: SparkSession, dir: String,
              target: Long = BpeFertilityTarget): DataFrame = {
    val sweep = bpeSweep(spark, dir)
    val chosen = sweep.filter(col("fertility_micro") <= target)
      .agg(min("rounds").as("cr"))
    chosen.join(sweep, chosen("cr") === sweep("rounds"), "left")
      .select(lit(target).as("target_micro"),
        col("cr").isNotNull.cast("int").as("qualified"),
        coalesce(col("cr"), lit(-1)).as("chosen_rounds"),
        coalesce(col("n_syms"), lit(0L)).as("n_syms"),
        coalesce(col("fertility_micro"), lit(1000000000L))
          .as("fertility_micro"),
        coalesce(col("savings_micro"), lit(0L)).as("savings_micro"))
  }

  /** Tokenizer APPLY — the serving half of the BPE train→apply closure
    * (the discipline of sim_ivf_topk_trained / emb_pca_project): the
    * learned segmentation is a model table of |vocab| rows (w → number
    * of symbols after [[BpeRounds]] merges), and applying it to the
    * corpus is ONE equi-join of the exploded word stream against that
    * table — the corpus is never re-segmented character by character.
    * Output per doc: whitespace token count vs BPE token count, the
    * pair that prices a doc in tokenizer units for pack/budget planning
    * (a doc's cost in model tokens ≠ its cost in words). Every corpus
    * word is in the vocab by construction (trained on the same
    * snapshot), so the inner join is lossless; at 100 TB the vocab side
    * is millions of rows — a plain shuffle join on `w`, no broadcast
    * hint (AQE decides). */
  def bpeApply(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val wn = bpeTrainOf(docs)._2
      .groupBy("w").agg(count(lit(1)).as("n_sym"))
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .join(wn, "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_ws_tok"), sum("n_sym").as("n_bpe_tok"))
      .orderBy("doc_id")
  }

  /** Learned-tokenizer FERTILITY report (text_bpe_fertility) — closes
    * the tokenizer loop's reporting half: [[text_fertility_by_source]]
    * prices sources in the fixed regex segmentation, this one prices
    * them in the TRAINED [[bpeMerges]] tokenizer's own units. Per
    * source: whitespace words, model symbols after [[BpeRounds]]
    * merges, raw characters, fertility (symbols per word, the number a
    * pack/budget planner multiplies by), and the compression the
    * learned merges bought vs the character baseline
    * (savings = (chars − syms)/chars — NON-NEGATIVE by construction,
    * a merge only ever reduces the symbol count, so plain div ≡ `//`).
    * Same one-join plan as [[bpeApply]]: the corpus is priced through
    * the |vocab|-row model table, never re-segmented. */
  def bpeFertility(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val wn = bpeTrainOf(docs)._2
      .groupBy("w").agg(count(lit(1)).as("n_sym"))
    docs.select(col("source"), explode(split(col("text"), " ")).as("w"))
      .join(wn, "w")
      .groupBy("source")
      .agg(count(lit(1)).as("n_words"),
           sum("n_sym").as("n_syms"),
           sum(length(col("w"))).cast("long").as("n_chars"))
      .select(col("source"), col("n_words"), col("n_syms"), col("n_chars"),
        expr("(n_syms * CAST(1000000 AS BIGINT)) div n_words")
          .as("fertility_micro"),
        expr("((n_chars - n_syms) * CAST(1000000 AS BIGINT)) div n_chars")
          .as("savings_micro"))
      .orderBy("source")
  }

  /** The mixture-plan oracle chain through `j` (source, n_docs,
    * n_tokens, rate_micro) — shared by corpus_mixture_plan and
    * corpus_mixture_apply. All quantities non-negative, so DuckDB //
    * (floor) == Spark div (truncate); the 10000-token budget literal
    * mirrors [[mixturePlan]]'s default — keep in lockstep. */
  private val mixturePlanCteSql: String =
    "ps AS (SELECT source, count(*) AS n_docs, " +
    "CAST(sum(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) " +
    "AS n_tokens FROM documents GROUP BY source), " +
    "n AS (SELECT count(*) AS n_src FROM ps), " +
    "j AS (SELECT ps.source, ps.n_docs, ps.n_tokens, " +
    "least(CAST(1000000 AS BIGINT), " +
    "((CAST(10000 AS BIGINT) // n.n_src) * CAST(1000000 AS BIGINT)) " +
    "// ps.n_tokens) AS rate_micro FROM ps CROSS JOIN n)"

  /** [[bpeMerges]] oracle — same unrolled rounds, same tie-break, same
    * a ≠ b restriction and NULL-safe prv guard; each round's top-1 is a
    * LIMIT 1 CTE cross-joined into the rewrite exactly as the Spark
    * side broadcasts it. */
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

  // ---- winnowing fingerprints (MOSS; Schleimer/Wilkerson/Aiken 2003) ----

  /** Winnowing constants — token-gram size, window width, the modulus of
    * the portable polynomial hash, and the position-packing scale. All
    * four are mirrored as literals in the oracle chain (lockstep). The
    * pack scale bounds doc length: positions must stay < 1e6 tokens. */
  private val WinK = 4
  private val WinW = 4
  private val WinP = 1000000007L
  private val WinPack = 1000000L

  /** Shared gram-hash frame: (doc_id, p, h, ng) — one hash per token
    * [[WinK]]-gram start, ng = number of grams in the doc. */
  private def winnowHashes(spark: SparkSession, dir: String): DataFrame =
    Dedup.wordTokens(Dedup.fanOutNarrow(Tables.documents(spark, dir)), WinK)
      .select(col("doc_id"),
        (size(col("toks")) - (WinK - 1)).cast("long").as("ng"),
        posexplode(Dedup.wordGrams(WinK)))
      .select(col("doc_id"), col("ng"), (col("pos") + 1).cast("long").as("p"),
              graft.functions.PolyHashMod.col(col("col"), 31L, WinP).as("h"))

  /** Winnowing fingerprint selection — the MOSS document-fingerprint
    * scheme: hash every token [[WinK]]-gram, slide a [[WinW]]-gram
    * window, keep the RIGHTMOST MINIMUM hash of each window, union the
    * selections. Guarantees (the winnowing theorem): every shared run of
    * WinK+WinW-1 tokens yields at least one shared fingerprint, and
    * fingerprint density is ~2/(WinW+1) — a fixed-rate sketch the
    * selection step computes with zero extra shuffles (the per-doc
    * window rides the same doc partitioning as the gram build).
    *
    * Rightmost-min-per-window is expressed relationally by packing
    * (hash, position) into one BIGINT key — h·1e6 + (1e6 − p) — whose
    * frame-window `min` decodes to the smallest hash at the LARGEST
    * position (the tie-break the MOSS paper specifies, which a plain
    * `min(h)` would get wrong). Interval algebra all-integer; the hash
    * is the portable polynomial fold so the oracle reproduces every
    * selection exactly. */
  def winnow(spark: SparkSession, dir: String): DataFrame =
    // memoized selection ("winnowsel", owner dedup_winnow_pairs in
    // Bench's list — it sorts before text_winnow): the fingerprint
    // frame is consumed by both the read-out and the pair screen
    CkptMemo.getOrElseUpdate((spark, dir, "winnowsel"),
      winnowBuild(spark, dir).localCheckpoint())

  private def winnowBuild(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wk = Window.partitionBy("doc_id").orderBy("p").rowsBetween(0, WinW - 1)
    val hs = winnowHashes(spark, dir)
    val sel = hs
      .withColumn("kmin",
        min(col("h") * lit(WinPack) + (lit(WinPack) - col("p"))).over(wk))
      .filter(col("p") <= col("ng") - (WinW - 1))
      .select(col("doc_id"),
              (lit(WinPack) - (col("kmin") % lit(WinPack))).as("fp_p"))
      .distinct()
    sel.join(hs.select(col("doc_id"), col("p").as("fp_p"), col("h")),
             Seq("doc_id", "fp_p"))
      .select(col("doc_id"), col("fp_p"), col("h").as("fp_h"))
      .orderBy("doc_id", "fp_p")
  }

  /** Cross-document candidate pairs from shared winnowing fingerprints —
    * the plagiarism-screen shape: docs sharing ≥ 2 selected fingerprint
    * hashes, with the shared count as evidence. By the winnowing
    * guarantee this catches every pair sharing a run of
    * 2·(WinK+WinW−1) tokens at ~2/(WinW+1) of the index size of a
    * full-shingle join. The [[graft.ext.Dedup.MaxShingleDf]]-style DF
    * cap drops boilerplate fingerprints before the self-join (a
    * fingerprint shared by M docs makes M² pairs and carries no pair
    * signal) — same hot-key discipline as the LSH bucket cap. */
  def winnowPairs(spark: SparkSession, dir: String): DataFrame = {
    val fps = winnow(spark, dir).select(col("doc_id"), col("fp_h"))
      .distinct()
    val rare = fps.groupBy("fp_h")
      .agg(countDistinct("doc_id").as("df"))
      .filter(col("df") <= Dedup.MaxShingleDf)
      .select("fp_h")
    val keyed = fps.join(rare, Seq("fp_h"))
    keyed.select(col("fp_h"), col("doc_id").as("a_id"))
      .join(keyed.select(col("fp_h"), col("doc_id").as("b_id")), Seq("fp_h"))
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
      .orderBy("a_id", "b_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_winnow"        -> winnow _,
    "dedup_winnow_pairs" -> winnowPairs _,
    "text_url_parse"     -> urlParse _,
    "text_bm25"          -> ((s, d) => bm25(s, d)),
    "text_bm25_multi"    -> ((s, d) => bm25Multi(s, d)),
    "dedup_url"          -> urlDedup _,
    "text_entropy"       -> entropy _,
    "text_pmi"           -> ((s, d) => pmi(s, d)),
    "text_zipf"          -> zipf _,
    "text_bpe_merges"    -> bpeMerges _,
    "text_bpe_apply"     -> bpeApply _,
    "text_bpe_fertility" -> bpeFertility _,
    "text_bpe_sweep"     -> bpeSweep _,
    "text_bpe_pick"      -> ((s: SparkSession, d: String) => bpePick(s, d)),
    "text_boilerplate"   -> boilerplate _,
    "text_bigram_logprob" -> bigramLogprob _,
    "corpus_quantile_select" -> quantileSelect _,
    "corpus_split"       -> corpusSplit _,
    "text_unigram_logprob" -> unigramLogprob _,
    "corpus_ppl_buckets" -> pplBuckets _,
    "corpus_dsir_weights" -> dsirWeights _,
    "corpus_dsir_select" -> dsirSelect _,
    "text_kl_drift" -> klDrift _,
    "text_jsd_drift" -> jsdDrift _,
    "text_ttr" -> ttr _,
    "corpus_vocab_growth" -> vocabGrowth _,
    "text_len_quantiles" -> lenQuantiles _,
    "corpus_shard_plan" -> shardPlan _,
    "text_vocab_overlap" -> vocabOverlap _,
    "text_skipgram_pmi" -> ((s, d) => skipgramPmi(s, d)),
    "text_quality_model" -> qualityModel _,
    "text_quality_train" -> qualityTrain _,
    "text_quality_score_trained" -> qualityScoreTrained _,
    "text_quality_roc" -> qualityRoc _,
    "text_quality_calibration" -> qualityCalibration _,
    "text_quality_gate_calibrated" -> qualityGateCalibrated _,
    "text_dup_span_frac" -> dupSpanFrac _,
    "text_heavy_hitters" -> heavyHitters _,
    "text_temperature_sample" -> ((s, d) => temperatureSample(s, d)),
    "corpus_mixture_plan" -> ((s, d) => mixturePlan(s, d)),
    "corpus_epoch_plan" -> ((s, d) => epochPlan(s, d)),
    "corpus_mixture_apply" -> mixtureApply _,
    "text_ks_drift"      -> ksDrift _,
    "text_pack"        -> ((s, d) => pack(s, d)),
    "corpus_pack_report" -> packReport _,
    "text_contamination" -> ((s, d) => contamination(s, d)),
    "text_contamination_multi" -> contaminationMulti _,
    "text_pii_scan"    -> piiScan _,
    "text_pii_redact"  -> piiRedact _,
    "text_boilerplate_strip" -> boilerplateStrip _,
    "corpus_token_budget" -> ((s: SparkSession, d: String) => tokenBudgetMix(s, d)),
    "text_lang_confusion" -> langConfusion _,
    "text_ngram_coverage" -> ngramCoverage _,
    "text_cms_estimate" -> cmsEstimate _,
    "text_chunk"       -> ((s, d) => chunk(s, d)),
    "text_tfidf"       -> ((s, d) => tfidf(s, d)),
    "text_cosine_pairs" -> ((s, d) => cosinePairs(s, d)),
    "text_hash_embed"  -> hashEmbed _,
    "text_top_tokens"  -> topTokens _,
    "text_vocab_oov"   -> vocabOov _,
    "text_len_hist"    -> lenHist _,
    "text_stats_agg"   -> statsAgg _,
    "text_tokens"      -> tokens _,
    "text_quality"     -> quality _,
    "text_gopher_gates" -> gopherGates _,
    "text_fertility_by_source" -> fertilityBySource _,
    "text_langid"      -> langid _,
    "text_fingerprint" -> fingerprint _,
    "text_rollhash"    -> rollhash _,
    "text_repetition"  -> repetition _,
    "text_length_band" -> lengthBand _,
    "text_sample_per_source" -> ((s, d) => samplePerSource(s, d)),
    "text_weighted_sample" -> ((s, d) => weightedSample(s, d)),
    "corpus_select"    -> corpusSelect _)

  /** Winnowing fingerprint chain (wn-prefixed CTE names): gram hashes →
    * packed rightmost-min window selection → fingerprint rows. Mirrors
    * [[winnowHashes]]/[[winnow]] literal for literal (K=4, W=4,
    * P=1000000007, pack=1e6). */
  private def winnowCteSql: String =
    "wnt AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
    "wng AS (SELECT doc_id, CAST(len(t) - 3 AS BIGINT) AS ng, " +
    "CAST(i AS BIGINT) AS p, array_to_string(t[i:i+3], ' ') AS g " +
    "FROM wnt, UNNEST(range(1, len(t) - 2)) AS u(i) WHERE len(t) >= 4), " +
    "wnh AS (SELECT doc_id, ng, p, " +
    "list_reduce([CAST(0 AS BIGINT)] || list_transform(range(1, len(g)+1), " +
    "i -> CAST(ascii(g[i]) AS BIGINT)), (a,b) -> (a*31 + b) % 1000000007) AS h " +
    "FROM wng), " +
    "wnm AS (SELECT doc_id, ng, p, " +
    "min(h * 1000000 + (1000000 - p)) OVER (PARTITION BY doc_id ORDER BY p " +
    "ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS kmin FROM wnh), " +
    "wns AS (SELECT DISTINCT doc_id, 1000000 - (kmin % 1000000) AS fp_p " +
    "FROM wnm WHERE p <= ng - 3), " +
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
    "qtb AS (SELECT doc_id, list_reduce([CAST(0 AS BIGINT)] || " +
    "list_transform(range(1, len(tok)+1), i -> CAST(ascii((tok)[i]) AS BIGINT)), " +
    "(a,b) -> (a*31 + b) % 1000000007) % 64 AS b FROM qtk), " +
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

  val oracle: Map[String, String] = Map(
    "text_winnow" ->
      (s"WITH $winnowCteSql " +
       "SELECT doc_id, fp_p, fp_h FROM wnf ORDER BY doc_id, fp_p"),
    // fingerprint chain verbatim + DF cap (MaxShingleDf = 100 mirrored)
    // + shared-count self-join — lockstep with winnowPairs
    "dedup_winnow_pairs" ->
      (s"WITH $winnowCteSql, " +
       "wnd AS (SELECT DISTINCT doc_id, fp_h FROM wnf), " +
       "wnr AS (SELECT fp_h FROM wnd GROUP BY fp_h " +
       "HAVING count(DISTINCT doc_id) <= 100), " +
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
       "WHERE tok IN ('spark', 'vector', 'dup') GROUP BY doc_id, tok), " +
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
      ("WITH qt AS (SELECT * FROM (VALUES (1, 'spark'), (1, 'vector'), " +
       "(2, 'dup'), (2, 'data'), (3, 'graph'), (3, 'stream'), (3, 'index')) " +
       "AS t(query_id, tok)), " +
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
    // apply half: per-SOURCE rank + running token count, budget literal
    // 1000 — lockstep with dsirSelect; row_number cast to INTEGER
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
       "CAST(CASE WHEN cum_tok <= 1000 THEN 1 ELSE 0 END AS INTEGER) AS selected " +
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
       s"(VALUES ${graft.ext.TextOps.VocabGrowthCuts.map(c => s"($c)").mkString(", ")}) t(cut)), " +
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
    // shp-prefixed; shard = saltOrd(doc_id) mod 32 (the Knuth scramble
    // the sampling family mirrors); dev is SIGNED → sign-split //
    "corpus_shard_plan" ->
      ("WITH shpd AS (SELECT doc_id, " +
       s"CAST(${graft.ext.Similarity.saltOrdSql("doc_id")} % 32 AS INTEGER) AS shard, " +
       "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents), " +
       "shps AS (SELECT shard, count(*) AS n_docs, " +
       "CAST(sum(n_tok) AS BIGINT) AS shard_tok FROM shpd GROUP BY shard), " +
       "shpt AS (SELECT CAST(sum(shard_tok) AS BIGINT) AS tot FROM shps) " +
       "SELECT shard, n_docs, shard_tok, " +
       "(shard_tok * CAST(1000000 AS BIGINT)) // tot AS share_micro, " +
       "(CASE WHEN shard_tok * CAST(32000000 AS BIGINT) - tot * 1000000 < 0 " +
       "THEN -1 ELSE 1 END) * " +
       "(abs(shard_tok * CAST(32000000 AS BIGINT) - tot * 1000000) // tot) AS dev_micro " +
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
       "th AS (SELECT doc_id, list_reduce([CAST(0 AS BIGINT)] || " +
       "list_transform(range(1, len(tok)+1), i -> CAST(ascii((tok)[i]) AS BIGINT)), " +
       "(a,b) -> (a*31 + b) % 1000000007) AS h FROM tk), " +
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
    // free); uncapped epochs + pass/tail split; budget literal 10000
    // and the > 4-epoch flag mirrored; all nonneg so // ≡ div, % ≡ %
    "corpus_epoch_plan" ->
      (s"WITH $mixturePlanCteSql, " +
       "epj AS (SELECT ps.source, ps.n_docs, ps.n_tokens, " +
       "CAST(10000 AS BIGINT) // n.n_src AS share_tokens " +
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
       s"WHERE ${graft.ext.Similarity.saltOrdSql("d.doc_id")} % 1000000 " +
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
    // {256,512,1024} mirror packReport literally — lockstep
    "corpus_pack_report" ->
      ("WITH pkb AS (SELECT doc_id, source, " +
       "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok, " +
       "CAST(coalesce(sum(len(string_split(text, ' '))) OVER (" +
       "PARTITION BY source ORDER BY doc_id " +
       "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) " +
       "AS start_off FROM documents), " +
       "pkl AS (SELECT unnest([256, 512, 1024]) AS seq_len), " +
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
    // two suite chains composed in ONE WITH via disjoint prefixes
    // (ct/cu) — suite list and tags lockstep with contaminationMulti
    "text_contamination_multi" ->
      (s"""WITH ${contaminationCteSqlFor("ct", "src0")}, """ +
       s"""${contaminationCteSqlFor("cu", "src1")} """ +
       "SELECT 'src0' AS suite, doc_id, n_sh, n_hit, contam_pct FROM ctm " +
       "UNION ALL " +
       "SELECT 'src1' AS suite, doc_id, n_sh, n_hit, contam_pct FROM cum"),
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
    // BEFORE summing (order-invariant), budget literal 100000 and all
    // nonneg `//` ≡ div divisions in lockstep with tokenBudgetMix; sqrt
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
       "CAST((100000 * weight_micro) // tw AS BIGINT) AS planned_tokens, " +
       "CAST((((100000 * weight_micro) // tw) * 1000000) // n_tokens " +
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
       "CAST(sum(CASE WHEN rk > 16 THEN n ELSE 0 END) AS BIGINT) AS n_oov, " +
       "CAST(sum(CASE WHEN rk <= 16 THEN 1 ELSE 0 END) AS BIGINT) AS n_types_invocab, " +
       "CASE WHEN CAST(sum(n) AS BIGINT) = 0 THEN CAST(0 AS BIGINT) " +
       "ELSE (CAST(sum(CASE WHEN rk > 16 THEN n ELSE 0 END) AS BIGINT) * " +
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
       "qrc AS (SELECT UNNEST([-200000, -100000, -50000, -20000, -10000, " +
       "0, 10000, 20000, 50000, 100000, 200000]) AS cut_micro), " +
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
       "th AS (SELECT tok, " +
       "list_reduce([CAST(0 AS BIGINT)] || list_transform(range(1, len(tok)+1), " +
       "i -> CAST(ascii((tok)[i]) AS BIGINT)), (a,b) -> (a*31 + b) % 1000000007) AS h " +
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
