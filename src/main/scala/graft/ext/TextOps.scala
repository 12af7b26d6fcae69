package graft.ext

import graft.Tables
import graft.ext.Tokens._
import graft.ops.Num
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
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
              size(wsTokens).as("n_ws"),
              size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^ ]', 0)")).as("n_bpe"))

  /** Quality scoring: char/token/unique-token counts + a boolean gate
    * (integer outputs — exact across engines). */
  def quality(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"),
              length(col("text")).as("n_char"),
              size(wsTokens).as("n_tok"),
              size(array_distinct(wsTokens)).as("n_uniq"))
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
              size(wsTokens).as("n_tok"),
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
              nTok.as("n_ws"),
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

  /** Corpus-level stats: per-language doc counts, token means, quality
    * rate — the aggregate view a data-curation pipeline reports. */
  def statsAgg(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("lang"),
              size(wsTokens).as("n_tok"),
              (size(wsTokens).between(10, 2000) &&
               size(array_distinct(wsTokens)) >= 5).cast("int").as("ok"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
           Num.rnd(avg("n_tok"), 2).as("avg_tokens"),
           Num.rnd(lit(100.0) * sum("ok") / count(lit(1)), 1).as("quality_pct"))
      .orderBy("lang")
  }

  /** Corpus-wide token frequency: top 20 tokens (vocab head — the first
    * thing a tokenizer-training pipeline inspects). */
  def topTokens(spark: SparkSession, dir: String): DataFrame =
    tokenRows(Tables.documents(spark, dir))
      .groupBy("tok").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok").asc)
      .limit(20)

  /** Vocabulary cap for [[vocabOov]] — top-[[VocabTopK]] types by
    * (count desc, tok asc) are in-vocab; the oracle reads it. 16 of
    * the corpus's 31 types, so both
    * classes are populated and the oracle check is non-vacuous. */
  private[graft] val VocabTopK = 16

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
    val st = tokenRows(Tables.documents(spark, dir), "source")
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
        Num.micro("n_oov", "n_tokens", 0L).as("oov_rate_micro"))
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
    Tables.documents(spark, dir)
      .select(col("doc_id"),
              size(wsTokens).as("n_tok"),
              size(array_distinct(wsTokens)).as("n_uniq"))
      .withColumn("rep_ratio", repRatio(col("n_tok"), col("n_uniq")))
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
    val keyed = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
              nTok.as("n_tok"),
              (Similarity.saltOrd(col("doc_id")) % 1000000L + 1L).as("u_micro"))
      .withColumn("lnu", Num.lnMicro(
        col("u_micro").cast("double") / lit(1000000L).cast("double")))
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
    val tf = tokenRows(Tables.documents(spark, dir), "doc_id")
      .groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("cnt"))
    val tokHash = tf.select("tok").distinct()
      .select(col("tok"), featureHash.as("h"))
    tf.join(tokHash, Seq("tok"))
      .select(col("doc_id"),
              (col("h") % 64).cast("int").as("dim"), // low 6 bits: dimension
              (when(shiftright(col("h"), 6).bitwiseAND(lit(1L)) === 1L, 1L)
                 .otherwise(-1L) * col("cnt")).as("contrib")) // bit 6: sign
      .groupBy("doc_id", "dim")
      .agg(sum("contrib").as("v"))
  }

  /** The benchmark suites checked for contamination: [[contamination]]
    * reads the first, [[contaminationMulti]] all; the curation funnel
    * holds the first out of training. */
  private[graft] val EvalSuites = Seq("src0", "src1")

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
                    evalSource: String = EvalSuites.head): DataFrame =
    if (evalSource == EvalSuites.head)
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
    EvalSuites.map { sset =>
      contaminationOf(spark, dir, sset).withColumn("suite", lit(sset))
    }.reduce(_ unionByName _)
      .select("suite", "doc_id", "n_sh", "n_hit", "contam_pct")

  private[graft] def contaminationOf(spark: SparkSession, dir: String,
                                     evalSource: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // raw (doc_id, s) rows; each branch applies exactly the distinct it
    // needs (eval only ever needs the s set — a (doc_id, s) distinct
    // first would be a second shuffle over the eval corpus for nothing)
    def shingles(df: DataFrame): DataFrame = wordTokens(df, 5)
      .select(col("doc_id"), explode(wordGrams(5)).as("s"))
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
    val docs = Tables.documents(spark, dir)
    val tf = tokenRows(docs, "doc_id")
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
      .select(col("doc_id"), wsTokens.as("t"))
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
  def pack(spark: SparkSession, dir: String, seqLen: Int = 512): DataFrame =
    packOffsets(spark, dir)
      .withColumn("seq_id", floor(col("start_off") / seqLen).cast("long"))

  /** (doc_id, source, n_tok, start_off): each document's token offset in
    * its source's doc_id-ordered concatenation — the one window pass of
    * [[pack]] and [[packReport]]. */
  private def packOffsets(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), nTok.as("n_tok"))
      .withColumn("start_off", coalesce(sum("n_tok").over(w), lit(0L)))
  }

  /** Candidate sequence lengths of the pack report. */
  private[graft] val PackSeqLens = Seq(256, 512, 1024)

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
    val base = packOffsets(spark, dir)
    PackSeqLens.map { l =>
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

  /** (source, n_docs, n_tokens) — the per-source token total of
    * [[mixturePlan]], [[epochPlan]] and [[tokenBudgetMix]]. */
  private def sourceTotals(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(col("source"), nTok.as("n_tok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))

  /** [[sourceTotals]] plus each source's equal share of `budget` tokens
    * (budget div n_sources) in column `share` — the uniform split
    * [[mixturePlan]] caps and [[epochPlan]] repeats up to. */
  private def equalShares(spark: SparkSession, dir: String, budget: Long,
                          share: String): DataFrame = {
    val perSrc = sourceTotals(spark, dir)
    perSrc.crossJoin(broadcast(perSrc.agg(count(lit(1)).as("n_src"))))
      .withColumn(share, expr(s"CAST($budget AS BIGINT) div n_src"))
  }

  /** Default token budgets: the mixture and epoch plans' total, the
    * temperature-weighted mix's total and DSIR's per-source selection. */
  private[graft] val MixtureBudget = 10000L
  private[graft] val TokenBudget = 100000L
  private[graft] val DsirBudget = 1000L

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
                  budgetTokens: Long = MixtureBudget): DataFrame =
    equalShares(spark, dir, budgetTokens, "share")
      .select(col("source"), col("n_docs"), col("n_tokens"),
        least(lit(1000000L),
          expr("(share * CAST(1000000 AS BIGINT)) div n_tokens"))
          .as("rate_micro"))
      .withColumn("planned_tokens",
        expr("(n_tokens * rate_micro) div CAST(1000000 AS BIGINT)"))

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
                budgetTokens: Long = MixtureBudget): DataFrame =
    equalShares(spark, dir, budgetTokens, "share_tokens")
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("share_tokens"),
        expr("(share_tokens * CAST(1000000 AS BIGINT)) div n_tokens")
          .as("epochs_micro"),
        expr("share_tokens div n_tokens").as("n_full_passes"),
        expr("share_tokens % n_tokens").as("tail_tokens"))
      .withColumn("over_repeat", (col("epochs_micro") > 4000000L).cast("int"))
      .orderBy("source")

  /** Count-min-sketch hash bases (4 rows × 64 buckets, mod 1000003) —
    * read by the oracle's per-base folds. */
  private[graft] val CmsBases = Seq(131L, 137L, 139L, 149L)
  private[graft] val CmsBuckets = 64
  private[graft] val CmsProbeTerms = Seq("spark", "vector", "dup")

  /** The 4×64 CMS counter table of a document frame — stream-agnostic
    * (explode → 4 portable hashes → one count agg), shared by the
    * batch estimator and `DocStream.cmsSketch` so the sketch layout
    * can't drift between them. Counter sums are commutative and
    * associative, so a streaming fold over ANY micro-batch arrival
    * order equals this batch aggregation exactly. */
  private[graft] def cmsSketchOf(docs: DataFrame): DataFrame =
    cmsRows(tokenRows(docs), "tok")
      .groupBy("row_j", "bucket").agg(count(lit(1)).as("cnt"))

  /** `keep`, then (row_j, bucket) of string column `c` for every CMS row
    * j — the one hash-to-cell mapping of the sketch and its probes. */
  private def cmsRows(df: DataFrame, c: String, keep: Column*): DataFrame =
    CmsBases.zipWithIndex.map { case (b, j) =>
      df.select(keep :+ lit(j).as("row_j") :+ (graft.functions.PolyHashMod
        .col(col(c), b, 1000003L) % CmsBuckets).as("bucket"): _*)
    }.reduce(_ unionByName _)

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
  def cmsEstimate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val cms = cmsSketchOf(docs)
    val tk = tokenRows(docs)
    val probes = cmsRows(CmsProbeTerms.toDF("term"), "term", col("term"))
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
    import spark.implicits._
    val cnt = tokenRows(Tables.documents(spark, dir))
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
                     budget: Long = TokenBudget): DataFrame = {
    val perSrc = sourceTotals(spark, dir)
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
    val lv = docs
      .select(nTok.as("len"),
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

  /** Temperature resampling across sources — the p^α rebalancing a
    * multilingual/multi-domain pipeline applies so high-resource sources
    * don't drown low-resource ones (α = 0.5 here): per-source quota
    * ∝ sqrt(share), then a deterministic md5-ordered take of quota docs
    * per source. Two tiny aggregates broadcast to one windowed pass over
    * the corpus — no per-row shuffle beyond the source partition. Weights
    * are 6-dp-rounded BEFORE the floor so the integer quotas are
    * byte-identical cross-engine. */
  def temperatureSample(spark: SparkSession, dir: String,
                        budget: Int = 200): DataFrame = {
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
    val toks = tokenRows(Tables.documents(spark, dir))
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
  def qualityModel(spark: SparkSession, dir: String): DataFrame =
    tokenRows(Tables.documents(spark, dir), "doc_id")
      // deterministic weights in [-10, 10]
      .select(col("doc_id"), (featureBucket * 37 % 21 - 10).as("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"), sum("w").as("score"))
      .select(col("doc_id"), col("n_tok"), col("score"),
              Num.rnd(col("score").cast("double") / col("n_tok"), 6)
                .as("score_per_tok"),
              (col("score") > 0).cast("int").as("keep"))

  /** The hashed token feature PolyHashMod(tok, 31, [[Dedup.P1]]) (column
    * `tok`) and its bucket mod 64 — the one feature space of
    * [[qualityModel]], [[qualityTrain]], the `qscored` apply and
    * [[hashEmbed]]'s dimensions (the oracle's `featureHashSql`). */
  private def featureHash: Column =
    graft.functions.PolyHashMod.col(col("tok"), 31L, Dedup.P1)
  private def featureBucket: Column = featureHash % 64

  /** (doc_id, y): the [[gopherGates]] labels the quality trainer and its
    * audits score against. */
  private def gopherLabels(spark: SparkSession, dir: String): DataFrame =
    gopherGates(spark, dir).select(col("doc_id"), col("gopher_ok").as("y"))

  /** The memoized scored docs (doc_id, n_tok, score_micro) joined to
    * their [[gopherLabels]] — what [[qualityRoc]], [[qualityCalibration]]
    * and [[qualityGateCalibrated]] read. */
  private def scoredLabelled(spark: SparkSession, dir: String): DataFrame =
    qualityScoreTrained(spark, dir)
      .select(col("doc_id"), col("n_tok"), col("score_micro"))
      .join(gopherLabels(spark, dir), Seq("doc_id"))

  /** Quality-classifier TRAINING half (round-9 verdict item 4) — closes
    * the last train→apply gap in the curation stack (IVF train→search,
    * BPE merges→apply precedents): learn the 64-bucket hashed-feature
    * weight table in-plan as closed-form Naive Bayes log-odds,
    *   w_b = ln(n_pos_b + 1) − ln(tp + 64) − ln(n_neg_b + 1) + ln(tn + 64),
    * on a deterministic heuristic-labeled seed (label = [[gopherGates]]'
    * `gopher_ok` — the standard bootstrap: heuristic gates label the
    * seed, the learned model generalizes). Features are [[featureBucket]],
    * [[qualityModel]]'s own, so the learned table is drop-in for the
    * same scorer shape.
    *
    * Float discipline (CLAUDE.md ln rule): each ln is rounded at 6 dp
    * INDEPENDENTLY on both engines and stored as integer micro-nats;
    * the log-odds is then exact BIGINT arithmetic — no raw ln products
    * cross an engine boundary. Scale: one corpus pass (hash per token
    * occurrence, codegen'd), ONE groupBy(bucket) with partial agg;
    * model state is 64 rows at any corpus size. */
  def qualityTrain(spark: SparkSession, dir: String): DataFrame = {
    val occ = tokenRows(Tables.documents(spark, dir), "doc_id")
      .select(col("doc_id"), featureBucket.as("b"))
    val cnt = occ.join(gopherLabels(spark, dir), Seq("doc_id"))
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
    import Num.lnMicro
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
      val w = qualityTrain(spark, dir).select(col("bucket"), col("w_micro"))
      tokenRows(Tables.documents(spark, dir), "doc_id")
        .select(col("doc_id"), featureBucket.as("bucket"))
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
    * log-odds sign); the oracle's cut table reads it. */
  private[graft] val QualityRocCuts = Seq(-200000L, -100000L, -50000L, -20000L,
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
    val pred = col("score_micro") > col("cut_micro") * col("n_tok")
    scoredLabelled(spark, dir)
      .crossJoin(broadcast(cuts))
      .groupBy("cut_micro")
      .agg(
        sum(when(pred, 1L).otherwise(0L)).as("n_pred"),
        sum(when(pred && col("y") === 1, 1L).otherwise(0L)).as("tp"),
        sum(when(pred && col("y") === 0, 1L).otherwise(0L)).as("fp"),
        sum(when(col("y") === 1, 1L).otherwise(0L)).as("n_pos"))
      .select(col("cut_micro"), col("n_pred"), col("tp"), col("fp"),
        col("n_pos"),
        Num.micro("tp", "n_pred", 1000000L).as("precision_micro"),
        Num.micro("tp", "n_pos", 1000000L).as("recall_micro"))
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
    val g = scoredLabelled(spark, dir)
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
    val f = scoredLabelled(spark, dir).crossJoin(broadcast(tau))
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
        Num.micro("n_pos_kept", "n_keep", 1000000L).as("precision_micro"))
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
    val sh = wordTokens(docs, 8)
      .select(col("doc_id"), explode(wordGrams(8)).as("raw"))
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
    val tk = tokenRows(docs, "doc_id")
    val cnt = tk.groupBy("tok").agg(count(lit(1)).as("c"))
    val tot = cnt.agg(sum("c").as("n"))
    val lp = cnt.crossJoin(broadcast(tot))
      .select(col("tok"),
              Num.lnMicro(col("c") / col("n")).as("lpm"))
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
    val tk = tokenRows(docs, "doc_id")
    val tgtIds = docs.filter(col("source") === "src0").select("doc_id")
    val raw = tk.groupBy("tok").agg(count(lit(1)).as("cr"))
    val tgt = tk.join(tgtIds, Seq("doc_id"))
      .groupBy("tok").agg(count(lit(1)).as("ct"))
    val consts = raw.agg(count(lit(1)).as("v"), sum("cr").as("nr"))
      .crossJoin(tk.join(tgtIds, Seq("doc_id"))
        .agg(count(lit(1)).as("nt")))
    val lp = raw.join(tgt, Seq("tok"), "left")
      .crossJoin(broadcast(consts))
      .select(col("tok"), laplaceDelta("ct", "nt").as("dlt_micro"))
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
  def klDrift(spark: SparkSession, dir: String): DataFrame =
    sourceTokenGrid(spark, dir)
      .select(col("source"), col("ns"), col("v"),
        (coalesce(col("cs"), lit(0L)) + lit(1L)).as("csp"),
        laplaceDelta("cs", "ns").as("dlt_micro"))
      .groupBy("source")
      .agg(first("ns").as("n_tok"), first("v").as("n_vocab"),
           sum(col("csp") * col("dlt_micro")).as("num"))
      .withColumn("kl_micro", expr("num div (n_tok + n_vocab)"))
      .select("source", "n_tok", "n_vocab", "num", "kl_micro")
      .orderBy("source")

  /** The (source × corpus vocabulary) grid of [[klDrift]] and
    * [[jsdDrift]]: per (source, tok) the corpus count `cr`, the source's
    * count `cs` (null where the source never uses tok) and token total
    * `ns`, with the broadcast corpus constants `v` = |V| and `nr`. */
  private def sourceTokenGrid(spark: SparkSession, dir: String): DataFrame = {
    val tk = tokenRows(Tables.documents(spark, dir), "source")
    val corpus = tk.groupBy("tok").agg(count(lit(1)).as("cr"))
    val consts = corpus.agg(count(lit(1)).as("v"), sum("cr").as("nr"))
    val srcTot = tk.groupBy("source").agg(count(lit(1)).as("ns"))
    corpus.crossJoin(broadcast(srcTot))
      .join(tk.groupBy("source", "tok").agg(count(lit(1)).as("cs")),
            Seq("source", "tok"), "left")
      .crossJoin(broadcast(consts))
  }

  /** ln((c + 1) / (n + |V|)) − ln((cr + 1) / (nr + |V|)) in micro-nats:
    * a token's Laplace-smoothed log-probability in a slice (count `c`,
    * null when unseen, of total `n`) minus in the corpus (`cr` of `nr`),
    * |V| = column `v` — the per-token delta of [[dsirWeights]] and
    * [[klDrift]]. */
  private def laplaceDelta(c: String, n: String): Column = {
    def lnP(c: Column, n: String) =
      Num.lnMicro((c + lit(1L)) / (col(n) + col("v")))
    lnP(coalesce(col(c), lit(0L)), n) - lnP(col("cr"), "nr")
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
    val st = tokenRows(Tables.documents(spark, dir), "source")
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
    import Num.lnMicro
    sourceTokenGrid(spark, dir)
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
    tokenRows(Tables.documents(spark, dir), "doc_id")
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

  /** Fixed shard count of the shard plan and the curation manifests. */
  private[graft] val NumShards = 32L

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
              nTok.as("n_tok"))
      .withColumn("shard",
        (Similarity.saltOrd(col("doc_id")) % NumShards).cast("int"))
    val sh = docs.groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("shard_tok"))
    val tot = sh.agg(sum("shard_tok").as("tot"))
    sh.crossJoin(broadcast(tot))
      .withColumn("share_micro",
        expr("(shard_tok * CAST(1000000 AS BIGINT)) div tot"))
      .withColumn("dev_micro",
        expr(s"(shard_tok * CAST(${NumShards * 1000000} AS BIGINT) - tot * 1000000) div tot"))
      .select("shard", "n_docs", "shard_tok", "share_micro", "dev_micro")
      .orderBy("shard")
  }

  /** Per-source document-length quantiles (p50/p90/p99 token counts by
    * positional ceil-rank — the time_value_quantiles discipline on the
    * corpus: exact integer SELECTION, zero float arithmetic). The
    * length profile a mixture designer reads next to the KS drift
    * number; one window pass per source + a conditional agg. */
  def lenQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("source")
      .orderBy(col("n_tok").asc, col("doc_id").asc)
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
              nTok.as("n_tok"))
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
    * flattens early is re-reading the same template. The oracle reads
    * the same [[VocabGrowthCuts]]; cuts beyond the corpus size
    * simply report the full corpus. One |vocab|-sized first-occurrence
    * frame × a 4-row broadcast — bounded at any corpus scale. */
  def vocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cuts = VocabGrowthCuts.toDF("cut")
    val docs = Tables.documents(spark, dir)
    val fd = tokenRows(docs, "doc_id")
      .groupBy("tok").agg(min("doc_id").as("fd"))
    val vg = fd.crossJoin(broadcast(cuts)).filter(col("fd") < col("cut"))
      .groupBy("cut").agg(count(lit(1)).as("n_vocab"))
    docs
      .select(col("doc_id"), nTok.as("nt"))
      .crossJoin(broadcast(cuts)).filter(col("doc_id") < col("cut"))
      .groupBy("cut").agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tok"))
      .join(vg, Seq("cut"))
      .withColumn("ttr_micro",
        expr("(n_vocab * CAST(1000000 AS BIGINT)) div n_tok"))
      .select("cut", "n_docs", "n_tok", "n_vocab", "ttr_micro")
      .orderBy("cut")
  }

  /** Checkpoint literals for [[vocabGrowth]] and its oracle. */
  private[graft] val VocabGrowthCuts = Seq(50L, 100L, 250L, 500L)

  /** DSIR SELECTION under a per-source token budget — the apply half of
    * [[dsirWeights]] (the measure→apply pairing rule: IVF train→search,
    * BPE learn→apply, PII scan→redact): within each source, take docs
    * in (log-ratio desc, doc_id asc) order while the running token
    * count stays ≤ [[DsirBudget]] (read by the oracle too). Per-SOURCE
    * ranking keeps the window partitioned (the
    * corpus_quantile_select precedent — never a global single-partition
    * sort), which is also the realistic deployment: domain budgets, not
    * one corpus-wide cut. Output carries rank/cumulative tokens so the
    * cut is auditable; `selected` is the gate. */
  def dsirSelect(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("source")
      .orderBy(col("logratio_micro").desc, col("doc_id").asc)
    dsirWeights(spark, dir).drop("keep")
      .join(Tables.documents(spark, dir).select("doc_id", "source"), Seq("doc_id"))
      .withColumn("rn", row_number().over(w))
      .withColumn("cum_tok",
        sum("n_tok").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("selected", (col("cum_tok") <= DsirBudget).cast("int"))
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
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), pfxCol.as("pfx"))
      .join(broadcast(groups), Seq("pfx"), "left")
      .select(col("doc_id"),
        when(col("strip") === 1, concat_ws(" ",
          slice(wsTokens, lit(9), greatest(size(wsTokens) - 8, lit(0)))))
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
    concat_ws(" ", slice(wsTokens, 1, 8))

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
    val cnt = tokenRows(docs)
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val ranked = cnt.withColumn("rn",
      row_number().over(Window.orderBy(col("c").desc, col("tok").asc)))
    val t = ranked.select(
      Num.lnMicro(col("rn").cast("double")).as("x"),
      Num.lnMicro(col("c").cast("double")).as("y"))
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
    val dt = Tables.documents(spark, dir)
      .select(col("doc_id"),
              explode(array_distinct(wsTokens)).as("tok"))
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
        Num.lnMicro((col("cxy") * col("n")).cast("double") /
                    (col("cx") * col("cy"))).as("pmi_micro"))
    topRanked(scored, k, col("pmi_micro").desc, col("x").asc, col("y").asc)
  }

  /** The first `k` rows under `order`, numbered 1..k in that order as
    * `rn` — a TakeOrderedAndProject then a k-row window ([[pmi]],
    * [[skipgramPmi]], [[bm25]]). */
  private def topRanked(df: DataFrame, k: Int, order: Column*): DataFrame =
    df.orderBy(order: _*).limit(k)
      .withColumn("rn", row_number().over(Window.orderBy(order: _*)))

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
    val pt = Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(wsTokens))
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
        Num.lnMicro(col("cxy").cast("double") * col("t").cast("double") /
          (col("cxl").cast("double") * col("cyr").cast("double")))
          .as("pmi_micro"))
    topRanked(scored, k, col("pmi_micro").desc, col("x").asc, col("y").asc)
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
    val tk = tokenRows(Tables.documents(spark, dir), "source")
    val cnt = tk.groupBy("source", "tok").agg(count(lit(1)).as("c"))
    val tot = cnt.groupBy("source")
      .agg(sum("c").as("n"), count(lit(1)).as("vocab"))
    cnt.join(broadcast(tot), Seq("source"))
      .select(col("source"), col("n"), col("vocab"),
              (col("c") * Num.lnMicro(col("c") / col("n"))).as("clpm"))
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
    val t = wsTokens
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
        Num.lnMicro((col("c2") + lit(1.0)) / (col("c1") + col("v"))).as("lpm"))
    bg.join(lp, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bi"), sum("lpm").as("sum_lp_micro"))
      .select(col("doc_id"), col("n_bi"), col("sum_lp_micro"),
              Num.rnd(col("sum_lp_micro").cast("double") /
                        (col("n_bi") * lit(1e6)), 6).as("avg_lp"))
  }

  /** The single-query BM25 terms of text_bm25. */
  private[graft] val Bm25Terms = Seq("spark", "vector", "dup")

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
           terms: Seq[String] = Bm25Terms,
           k: Int = 10): DataFrame =
    topRanked(bm25Scores(Tables.documents(spark, dir), terms), k,
              col("score_micro").desc, col("doc_id").asc)
      .withColumn("score", col("score_micro").cast("double") / lit(1e6))
      .select("doc_id", "n_hit", "score_micro", "score", "rn")

  /** BM25 (k1 = 1.2, b = 0.75) over the postings of `terms`: (doc_id,
    * n_hit, score_micro), or per (query_id, doc_id) when a (query_id,
    * tok) table `queries` is joined in — [[bm25]] and [[bm25Multi]].
    * tf, df, dl and the corpus stats come from one corpus read. */
  private def bm25Scores(docs: DataFrame, terms: Seq[String],
                         queries: Option[DataFrame] = None): DataFrame = {
    val dl = docs.select(col("doc_id"), size(wsTokens).as("dl"))
    val tf = tokenRows(docs, "doc_id")
      .filter(col("tok").isin(terms: _*))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val dfq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("n_toks"))
    // norm = (1-b) + b*dl/avgdl with avgdl exact double division. Every
    // op below is IEEE-exact-rounded with an identical operand tree in
    // the oracle, so doubles are bit-equal.
    val idf = Num.rnd(log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))), 6)
    val norm = lit(0.25) + lit(0.75) *
      (col("dl").cast("double") /
        (col("n_toks").cast("double") / col("n_docs")))
    queries.foldLeft(tf)((f, q) => f.join(broadcast(q), Seq("tok")))
      .join(broadcast(dfq), Seq("tok"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("sc_micro",
        round(idf * ((col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) * norm)) * lit(1e6)).cast("long"))
      .groupBy(queries.map(_ => col("query_id")).toSeq :+ col("doc_id"): _*)
      .agg(count(lit(1)).as("n_hit"), sum("sc_micro").as("score_micro"))
  }

  /** The multi-query BM25 eval set — a literal (query_id, term) table,
    * from which the oracle's VALUES CTE is generated. */
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
    import spark.implicits._
    val qterms = Bm25Queries
      .flatMap { case (q, ts) => ts.map(t => (q, t)) }
      .toDF("query_id", "tok")
    val w = Window.partitionBy("query_id")
      .orderBy(col("score_micro").desc, col("doc_id").asc)
    bm25Scores(Tables.documents(spark, dir),
               Bm25Queries.flatMap(_._2).distinct, Some(qterms))
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
    val wc = docs.select(explode(wsTokens).as("w"))
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
        docs.select(explode(wsTokens).as("w"))
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
    * read by the oracle. */
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
    docs.select(col("doc_id"), explode(wsTokens).as("w"))
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
    docs.select(col("source"), explode(wsTokens).as("w"))
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

  // ---- winnowing fingerprints (MOSS; Schleimer/Wilkerson/Aiken 2003) ----

  /** Winnowing constants — token-gram size, window width and the
    * position-packing scale; the gram hash is the portable polynomial
    * hash mod [[Dedup.P1]]. All are read by the oracle chain. The
    * pack scale bounds doc length: positions must stay < 1e6 tokens. */
  private[graft] val WinK = 4
  private[graft] val WinW = 4
  private[graft] val WinPack = 1000000L

  /** Shared gram-hash frame: (doc_id, p, h, ng) — one hash per token
    * [[WinK]]-gram start, ng = number of grams in the doc. */
  private def winnowHashes(spark: SparkSession, dir: String): DataFrame =
    wordTokens(Dedup.fanOutNarrow(Tables.documents(spark, dir)), WinK)
      .select(col("doc_id"),
        (size(col("toks")) - (WinK - 1)).cast("long").as("ng"),
        posexplode(wordGrams(WinK)))
      .select(col("doc_id"), col("ng"), (col("pos") + 1).cast("long").as("p"),
              graft.functions.PolyHashMod.col(col("col"), 31L, Dedup.P1).as("h"))

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
}
