package graft.ext

import graft.Tables
import graft.ext.Tokens._
import graft.ops.Num
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Deduplication operators over `documents` — exact, n-gram Jaccard,
  * MinHash-LSH, SimHash (north star, BASELINE.json).
  *
  * Scale notes (100 TB): every variant is a pure shuffle-by-key pipeline —
  * no driver collection, no cross join. Candidate generation joins on
  * shingle / band-bucket keys, and a document-frequency cap drops hot
  * shingles before any self-join (a shingle shared by M docs creates M²
  * candidate pairs and carries no dedup signal), so the pairwise step
  * touches only near-duplicate candidates, never O(n²).
  *
  * The shingle→pair pipeline is materialized ONCE per (session, dir) and
  * reused by dedup_ngram_jaccard / dedup_clusters / dedup_keep — round 1
  * re-ran it three times and leaked a persisted frame per cluster round,
  * which showed up as a 12× bench regression on dedup_keep.
  *
  * Jaccard outputs are exact integers (intersection, union) — threshold
  * tests are integer comparisons, immune to float drift.
  *
  * MinHash and SimHash use a portable polynomial hash (fold of
  * `acc*B + codepoint mod P`) instead of xxhash64 so the identical
  * computation is expressible in DuckDB (`list_reduce`) — both are
  * oracle-checked, not rows-only.
  */
object Dedup {

  /** Max documents a shingle may appear in before it is dropped from
    * candidate generation. Hot shingles (boilerplate, stop-phrases) add
    * O(df²) candidate pairs and no signal; the cap turns "rare by
    * construction" into an enforced invariant. The oracle reads it. */
  private[graft] val MaxShingleDf = 100

  // the one polyhash modulus (both engines, < 2^30): the shingle, MinHash
  // and band hashes here, TextOps' quality feature and winnowing hash
  private[graft] val P1 = 1000000007L
  private[graft] val P2 = 998244353L  // second modulus → simhash high bits

  /** Exact dedup: deterministic survivor (min doc_id) + multiplicity per
    * text key. `groupBy(key).agg(min(id))` rather than dropDuplicates so
    * the survivor is well-defined for the oracle.
    *
    * The grouping key is `md5(text)`, NOT the text itself: a full-text
    * key hash-partitions entire documents through the exchange — at the
    * 100 TB design point the shuffle would carry the whole corpus as
    * keys (round-4 verdict #2). The 16-byte digest keeps the exchange
    * narrow; DuckDB's native `md5()` hashes the same UTF-8 bytes, so the
    * oracle groups identically. */
  def exact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text").cast("binary")))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies")

  /** Exact dedup on normalized text (lower + trim + whitespace collapse);
    * normalization stays INSIDE the md5 so only the digest shuffles. */
  def exactNorm(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(regexp_replace(lower(trim(col("text"))), " +", " ")
        .cast("binary")))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies")

  /** Parallelize a tokenize+hash map side whose SCAN is narrower than
    * the session's parallelism: the testdata corpora are single-row-
    * group parquet files, so `maxPartitionBytes` cannot split them and
    * the whole shingle/hash map stage ran as ONE task (StageProfile
    * round 19: 1-3 s serial per query on the critical path).
    * Conditional, never a blanket repartition (guide §2.4): at
    * production scale a corpus scan already has ≥ parallelism splits
    * and NO exchange is added; when it fires, the shuffled bytes are
    * the (tiny, by implication) corpus itself. Content-identical
    * either way — round-robin with Spark's sort-before-repartition
    * stays deterministic under retries. */
  private[graft] def fanOutNarrow(df: DataFrame): DataFrame = {
    // BATCH / LEAF-SCAN-ONLY contract (ADVICE r19): the .rdd probe
    // throws on a streaming frame (pass through unchanged), and under
    // AQE a frame with an upstream exchange would materialize query
    // stages at plan-construction time — callers hand this a bare
    // table scan plus narrow projections only
    if (df.isStreaming) return df
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  /** Hashed word n-gram rows (doc_id, h1, h2), one per occurrence — the
    * projection under both the capped index [[shingleGroups]] and the
    * uncapped [[hashedShinglesOf]].
    *
    * The key is the 16-byte DOUBLE polyhash (h1, h2) of the shingle, not
    * the ~n·6-byte string (round-6 verdict item 7): the shingle string
    * dies young inside the projection — the exchange, the aggregation
    * hash table, and every downstream join carry two fixed-width longs.
    * A key collision needs BOTH 30-bit hashes to collide (P ≈ 2^-59 per
    * shingle pair — none expected below ~10^8 distinct shingles); when
    * one occurs the two shingles merge into one posting list
    * IDENTICALLY on both engines (the oracle folds the same pair — the
    * confirmJaccard single-hash precedent). */
  private def shingleHashes(docs: DataFrame, n: Int): DataFrame =
    wordTokens(fanOutNarrow(docs), n)
      .select(col("doc_id"), explode(wordGrams(n)).as("sh"))
      .select(col("doc_id"),
              polyHash(col("sh"), 31L, P1).as("h1"),
              polyHash(col("sh"), 131L, P2).as("h2"))

  /** Inverted shingle index in ONE shuffle: `collect_set(doc_id)` per
    * hashed shingle — the set IS the distinct, the sorted id list feeds
    * in-plan pair generation, and the document-frequency cap is a
    * post-agg filter. Round 1's shape (distinct → df-count → cap join →
    * self-join) paid four shuffles on the fat (doc_id, shingle) frame;
    * this pays one.
    *
    * The cap drops shingles shared by more than [[MaxShingleDf]] docs
    * from candidate generation AND from the Jaccard sets (the operator's
    * semantics are "similarity over informative shingles"; the oracle
    * applies the same cap). It also bounds the in-plan pair expansion at
    * O(MaxShingleDf²) per shingle — the hot-key M² blowup cannot occur. */
  private[graft] def shingleGroups(df: DataFrame, n: Int): DataFrame = {
    // BoundedCollectSet, not collect_set + size filter: the plain form
    // materializes a hot key's FULL posting list in one aggregation
    // buffer before discarding it; the bounded aggregator pins hot keys
    // at cap+1 elements on the map side too — constant space per key.
    val bounded = udaf(new graft.functions.BoundedCollectSet(MaxShingleDf),
                       org.apache.spark.sql.Encoders.scalaLong)
    shingleHashes(df, n)
      .groupBy("h1", "h2")
      .agg(bounded(col("doc_id")).as("ids")) // sorted, or null when > cap
      .filter(col("ids").isNotNull)
  }

  /** All ordered id pairs (a < b) per shingle, generated IN-PLAN from the
    * sorted id list — no self-join: `ids` is sorted ascending, so pairing
    * each element with its suffix yields a < b exactly once.
    *
    * Production sites use the codegen twin
    * [[graft.functions.SuffixPairs]] (HOFs are interpreted — this
    * chain was the bench's hottest stage, round 19); the HOF string
    * stays as the independent spec reference (the IvfRecallSpec
    * discipline) and SuffixPairsSpec pins the two equal. */
  private[graft] val pairExpr =
    "flatten(transform(ids, (x, i) -> " +
    "transform(slice(ids, i + 2, size(ids)), y -> struct(x AS a, y AS b))))"

  /** Jaccard-confirm a candidate-pair frame against a HASHED shingle
    * frame (doc_id, h): exact integer intersection (fan candidates out
    * to a-side shingles, equi-join the b-side — never recompute all
    * shingle-sharing pairs). The join key is the 8-byte portable
    * polyhash the minhash signatures are already built from, not the
    * raw shingle string — round-4 verdict #1a: string keys made this
    * the family's hottest shuffle edge. A collision (two distinct
    * shingles of the same doc pair at the same h, P ≈ 2^30) would count
    * once extra on BOTH engines — the oracle folds the identical hash,
    * so results stay in lockstep by construction. */
  private def confirmJaccard(cand: DataFrame, hs: DataFrame,
                             num: Int, den: Int): DataFrame = {
    val sizes = hs.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = cand
      .join(hs.withColumnRenamed("doc_id", "a_id"), Seq("a_id"))
      .join(hs.select(col("doc_id").as("b_id"), col("h")), Seq("b_id", "h"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "a_id")
                 .withColumnRenamed("sz", "sz_a"), Seq("a_id"))
      .join(sizes.withColumnRenamed("doc_id", "b_id")
                 .withColumnRenamed("sz", "sz_b"), Seq("b_id"))
      .withColumn("uni", col("sz_a") + col("sz_b") - col("inter"))
      .filter(col("inter") * den >= col("uni") * num) // jaccard >= num/den
      .select("a_id", "b_id", "inter", "uni")
  }

  /** One materialized frame per (session, dir, key): the iterative /
    * multi-consumer dedup pipelines are computed once, localCheckpoint'd
    * (truncates lineage, caches the small result) and reused — the big
    * intermediate shingle frames are unpersisted as soon as the result
    * exists. Backed by the bounded [[CkptMemo]] so a long-lived
    * multi-session application cannot accumulate checkpoints without
    * limit. */
  private def memo = CkptMemo

  /** The 5-gram Jaccard >= 0.2 pipeline over an ARBITRARY documents
    * frame (doc_id, text) — eager (localCheckpoints the small pair set,
    * unpersists the fat shingle frame). Parameterized so the
    * scale-regression spec can run the exact production pipeline over a
    * synthetically blown-up corpus; production entry is the memoized
    * [[jaccardPairs]]. Candidate pairs come straight out of the inverted
    * index (in-plan suffix pairing per shingle), `inter` is one agg over
    * them — no shingle self-join at all. */
  private[graft] def jaccardPairsOf(docs: DataFrame): DataFrame =
    ngramConfirmOf(docs, col("inter") * 5 >= col("uni"),
      Seq("a_id", "b_id", "inter", "uni"))

  /** 5-gram CONTAINMENT >= 4/5 pairs: same candidate stage, but the
    * confirm keeps pairs where the SMALLER document's shingle set is
    * >= 80% inside the other — the doc-inside-doc duplication symmetric
    * Jaccard misses when sizes differ (a 16-shingle quote inside a
    * 100-shingle page has jaccard ~0.16 but containment 1.0; the classic
    * quoted-boilerplate case). Exact integer threshold:
    * inter·5 >= min(sz)·4. */
  private[graft] def containmentPairsOf(docs: DataFrame): DataFrame =
    ngramConfirmOf(docs, col("inter") * 5 >= least(col("sz_a"), col("sz_b")) * 4,
      Seq("a_id", "b_id", "inter", "sz_a", "sz_b"))

  /** Shared inverted-index candidate + exact-count confirm stage for the
    * 5-gram pair family: candidate pairs straight out of the index
    * (in-plan suffix pairing per shingle), `inter` one agg over them —
    * no shingle self-join. The keep predicate sees
    * `inter / sz_a / sz_b / uni`; the small survivor set is
    * localCheckpoint'd BEFORE the fat shingle frame unpersists. */
  private def ngramConfirmOf(docs: DataFrame, keep: Column,
                             outCols: Seq[String]): DataFrame = {
    val grp = shingleGroups(docs, 5)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val sizes = grp.select(explode(col("ids")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = grp.filter(size(col("ids")) >= 2)
      .select(explode(graft.functions.SuffixPairs.col(col("ids"))).as("p"))
      .select(col("p.a").as("a_id"), col("p.b").as("b_id"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("inter"))
    val out = inter
      .join(sizes.withColumnRenamed("doc_id", "a_id")
                 .withColumnRenamed("sz", "sz_a"), Seq("a_id"))
      .join(sizes.withColumnRenamed("doc_id", "b_id")
                 .withColumnRenamed("sz", "sz_b"), Seq("b_id"))
      .withColumn("uni", col("sz_a") + col("sz_b") - col("inter"))
      .filter(keep) // exact integer arithmetic, no fp thresholds
      .select(outCols.map(col): _*)
      .localCheckpoint() // small pair set: cached, lineage-free
    grp.unpersist()
    out
  }

  /** Shared 5-gram pair STATS, materialized once per (session, dir):
    * survivors of EITHER the Jaccard or the containment threshold, with
    * both metrics' columns. The shingle index + candidate-pair agg is
    * the dedup family's heaviest stage; building it once and deriving
    * both operators by (cheap, checkpointed-frame) filter halves the
    * family's cost vs one build per threshold. Union-filtered so each
    * derived query's row set is EXACTLY what its standalone pipeline
    * (jaccardPairsOf / containmentPairsOf — kept as the parameterized
    * production paths the scale spec drives) produces. */
  private def pairStats(spark: SparkSession, dir: String): DataFrame =
    memo.getOrElseUpdate((spark, dir, "pairstats5"),
      ngramConfirmOf(Tables.documents(spark, dir),
        col("inter") * 5 >= col("uni") ||
          col("inter") * 5 >= least(col("sz_a"), col("sz_b")) * 4,
        Seq("a_id", "b_id", "inter", "uni", "sz_a", "sz_b")))

  /** 5-gram Jaccard >= 0.2 near-dup pairs, derived from the shared
    * stats frame. */
  private def jaccardPairs(spark: SparkSession, dir: String): DataFrame =
    pairStats(spark, dir)
      .filter(col("inter") * 5 >= col("uni"))
      .select("a_id", "b_id", "inter", "uni")

  /** Exact n-gram Jaccard near-dup: candidate pairs share >= 1 word
    * 5-gram (DF-capped → bounded join fan-out), then exact integer
    * Jaccard over shingle sets, threshold 0.2. */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame =
    jaccardPairs(spark, dir)

  /** Cross-SOURCE duplication matrix — the corpus-governance report a
    * multi-source ingest runs before mixing: for every unordered source
    * pair, how many near-dup pairs ([[jaccardPairs]]'s ≥ 0.2 survivors)
    * span them. A heavy off-diagonal cell means two feeds ship the same
    * content (double-counted tokens, leaked splits); a heavy diagonal
    * means a feed self-duplicates. Derived BY JOIN from the memoized
    * pair-stats frame — zero additional shingle work, two broadcast-
    * size doc→source joins, \|sources\|² output rows at any scale. The
    * oracle recomputes the identical jac chain and tags both endpoints
    * (lockstep with dedup_ngram_jaccard's threshold — a change moves
    * the union predicate, the derived filter, AND this matrix). */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(spark, dir).select("doc_id", "source")
    jaccardPairs(spark, dir)
      .join(src.select(col("doc_id").as("a_id"), col("source").as("sa")),
            Seq("a_id"))
      .join(src.select(col("doc_id").as("b_id"), col("source").as("sb")),
            Seq("b_id"))
      .select(least(col("sa"), col("sb")).as("src_a"),
              greatest(col("sa"), col("sb")).as("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_pairs"))
      .orderBy("src_a", "src_b")
  }

  /** Jaccard-THRESHOLD TUNING CURVE — the chart a dedup operator reads
    * before picking the production threshold (too low = false merges,
    * too high = missed near-dups; the knee is corpus-specific): pair
    * counts surviving each threshold t ∈ {20..90}% among the family's
    * ≥ 0.2 survivors. Derived from the memoized pair-stats frame —
    * ZERO additional shingle work, an 8-row broadcast against the
    * model-sized survivor set; thresholds below the family floor are
    * by construction invisible (the curve starts AT the production
    * setting and tightens). Exact integer predicate inter·100 ≥ t·uni;
    * zero-survivor thresholds still emit a row (left join + coalesce).
    * The threshold list is mirrored in the oracle — and the 0.2 floor
    * is dedup_ngram_jaccard's (the pairstats5 lockstep group). */
  def thresholdCurve(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val thr = Seq(20, 30, 40, 50, 60, 70, 80, 90).toDF("thr_pct")
    val counted = jaccardPairs(spark, dir)
      .crossJoin(broadcast(thr))
      .filter(col("inter") * 100 >= col("thr_pct") * col("uni"))
      .groupBy("thr_pct").agg(count(lit(1)).as("n"))
    thr.join(counted, Seq("thr_pct"), "left")
      .select(col("thr_pct"), coalesce(col("n"), lit(0L)).as("n_pairs"))
      .orderBy("thr_pct")
  }

  /** Paragraph units shared by the measure ([[paraNearDup]]) and apply
    * ([[paraExcise]]) halves: non-overlapping 200/200 chunk windows,
    * pid = doc_id·10⁶ + chunk_idx. */
  private def paraUnits(spark: SparkSession, dir: String): DataFrame =
    TextOps.chunk(spark, dir, 200, 200)
      .select(col("doc_id"),
              (col("doc_id") * 1000000L + col("chunk_idx")).as("pid"),
              col("chunk"))

  /** The CROSS-document paragraph near-dup pair frame, memoized
    * ("parapairs", owner: dedup_para_neardup in Bench's list) — the
    * shingle pipeline over the paragraph units runs once per (session,
    * dir) and feeds both the measure and the excise halves. Same-doc
    * pairs are excluded here (within-doc repetition is
    * text_repetition's domain); both consumers inherit that rule. */
  private def paraPairs(spark: SparkSession, dir: String): DataFrame =
    memo.getOrElseUpdate((spark, dir, "parapairs"), {
      val units = paraUnits(spark, dir)
      // jaccardPairsOf already localCheckpoints the pair set — the memo
      // stores the tiny filter+project ON TOP of that checkpoint rather
      // than materializing the frame a second time (bounded lineage is
      // the memo's contract, not a checkpoint root per se)
      jaccardPairsOf(
        units.select(col("pid").as("doc_id"), col("chunk").as("text")))
        .filter(expr("a_id div 1000000") =!= expr("b_id div 1000000"))
        .select("a_id", "b_id")
    })

  /** PARAGRAPH-level near-dup (round-12 verdict item 5 — Lee et al.
    * dedup at sub-document granularity): split every doc on the
    * existing [[TextOps.chunk]] boundaries (non-overlapping 200-char
    * windows — stride = size, so no unit double-counts), run the SAME
    * capped 5-gram inverted-index Jaccard pipeline
    * ([[jaccardPairsOf]] — cap, double-hash keys, exact integer
    * threshold all inherited, the lockstep rule) with paragraphs as
    * the unit, keep only CROSS-document pairs, and report each doc's
    * duplicated-paragraph fraction. This catches the template page
    * whose doc-level Jaccard is diluted below 0.2 by unique filler: a
    * shared boilerplate paragraph matches at paragraph grain no matter
    * how long the host doc is. Unit id = doc_id·10⁶ + chunk_idx (exact
    * BIGINT for docs < 10⁶ paragraphs and doc_id < 9·10¹²; parent
    * recovery is a nonneg `div` ≡ `//`). flagged = ≥ half the doc's
    * paragraphs duplicated (the [[TextOps.dupSpanFrac]] 0.5
    * convention). Scale: paragraphs ≈ chars/200 — the pipeline's
    * candidate volume keeps the same DF-cap bound, per-unit shingle
    * sets are just smaller. */
  def paraNearDup(spark: SparkSession, dir: String): DataFrame = {
    val units = paraUnits(spark, dir)
    val crossDoc = paraPairs(spark, dir)
    val dup = crossDoc.select(col("a_id").as("pid"))
      .union(crossDoc.select(col("b_id").as("pid"))).distinct()
    val perDoc = units.groupBy("doc_id").agg(count(lit(1)).as("n_para"))
    val dupPerDoc = dup.select(expr("pid div 1000000").as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup"))
    perDoc.join(dupPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_para"),
              coalesce(col("n_dup"), lit(0L)).as("n_dup_para"))
      .withColumn("dup_frac_micro",
                  expr("(n_dup_para * 1000000) div n_para"))
      .withColumn("flagged", (col("dup_frac_micro") >= 500000L).cast("int"))
      .orderBy("doc_id")
  }

  /** Paragraph EXCISE — the apply half of [[paraNearDup]] (the
    * measure→apply pattern: IVF train→search, text_quality
    * train→score→roc): drop the b side of every cross-doc near-dup
    * paragraph pair (pairs are ordered a < b, so the smallest-pid copy
    * of a duplicated paragraph survives — dedup_keep's min-id
    * convention at paragraph grain, pairwise, no closure) and report
    * per doc what excision saves: paragraphs kept/excised, tokens
    * kept/total, saved_micro = excised-token share. Consumes the
    * memoized pair frame — zero extra shingle work beyond the measure
    * half. tok_total ≥ n_para ≥ 1 (a 200-char window always splits to
    * ≥ 1 token), so the div is non-negative with a nonzero
    * denominator. */
  def paraExcise(spark: SparkSession, dir: String): DataFrame = {
    val units = paraUnits(spark, dir)
      .withColumn("n_tok", size(split(col("chunk"), " ")).cast("long"))
    val dropped = paraPairs(spark, dir)
      .select(col("b_id").as("pid")).distinct()
      .withColumn("drp", lit(1))
    units.join(dropped, Seq("pid"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_para"),
           sum(when(col("drp").isNotNull, 1L).otherwise(0L)).as("n_excised"),
           sum("n_tok").as("tok_total"),
           sum(when(col("drp").isNull, col("n_tok")).otherwise(0L))
             .as("tok_kept"))
      .withColumn("saved_micro",
                  expr("((tok_total - tok_kept) * 1000000) div tok_total"))
      .orderBy("doc_id")
  }

  /** ONE-ROW CORPUS DASHBOARD — the governance summary a data owner
    * reads first (and the judge of any downstream number: every other
    * report normalizes by these totals): document/source/token/vocab
    * counts, integer mean document length, exact-duplicate exposure
    * (groups with ≥ 2 byte-identical texts and the redundant doc
    * count), and the near-duplicate pair count at the family threshold.
    * Composes the MEMOIZED pair-stats frame (zero extra shingle work);
    * everything else is two corpus aggregations and a tiny
    * group-having agg, crossed as 1-row broadcasts. All-integer
    * (mean in micro tokens/doc, non-negative div). */
  def statsReport(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val base = docs.agg(count(lit(1)).as("n_docs"),
                        countDistinct("source").as("n_sources"))
    val toks = tokenRows(docs)
      .agg(count(lit(1)).as("n_tokens"), countDistinct("tok").as("n_vocab"))
    val dupg = docs.groupBy("text").agg(count(lit(1)).as("c"))
      .filter(col("c") > 1)
      .agg(count(lit(1)).as("n_dup_groups"),
           coalesce(sum(col("c") - 1), lit(0L)).as("n_dup_docs"))
    val nd = jaccardPairs(spark, dir)
      .agg(count(lit(1)).as("n_neardup_pairs"))
    base.crossJoin(broadcast(toks)).crossJoin(broadcast(dupg))
      .crossJoin(broadcast(nd))
      .withColumn("mean_tok_micro", expr("(n_tokens * 1000000) div n_docs"))
      .select("n_docs", "n_sources", "n_tokens", "n_vocab",
              "mean_tok_micro", "n_dup_groups", "n_dup_docs",
              "n_neardup_pairs")
  }

  /** Containment near-dup pairs (doc-inside-doc; see
    * [[containmentPairsOf]]), derived from the shared stats frame —
    * the shingle index is built once for the whole 5-gram family. */
  def containment(spark: SparkSession, dir: String): DataFrame =
    pairStats(spark, dir)
      .filter(col("inter") * 5 >= least(col("sz_a"), col("sz_b")) * 4)
      .select("a_id", "b_id", "inter", "sz_a", "sz_b")

  /** INCREMENTAL dedup — the asymmetric production shape: a NEW batch is
    * screened against the EXISTING corpus (first half of doc_ids stands
    * in for the corpus; at 100 TB the corpus side is a persisted shingle
    * index you append to, and only batch×corpus candidates are generated,
    * never corpus×corpus). A batch doc is dropped when it has >= 1
    * corpus match at Jaccard >= 1/2 (exact dups are the j = 1 special
    * case). Within-batch duplicates are deliberately NOT folded here —
    * that is the in-batch [[keepList]] pass. The split is n/2 so the
    * regime scales with the table; at sf0.01 (n=500) it is exactly the
    * 250 the static oracle encodes. */
  def incremental(spark: SparkSession, dir: String): DataFrame = {
    val split = docSplit(spark, dir)
    val matches = jaccardPairs(spark, dir)
      // pairs are ordered a < b, and corpus ids all precede batch ids,
      // so cross pairs are exactly (a = corpus, b = batch)
      .filter(col("a_id") < split && col("b_id") >= split)
      .filter(col("inter") * 2 >= col("uni")) // jaccard >= 1/2, exact ints
      .groupBy(col("b_id").as("doc_id"))
      .agg(count(lit(1)).as("n_corpus_matches"))
    screenVerdicts(
      Tables.documents(spark, dir).filter(col("doc_id") >= split), matches)
  }

  /** UNCAPPED distinct hashed n-gram shingles per doc — the raw
    * (doc_id, h1, h2) frame [[ngramNovelty]] and [[dfHist]] read
    * (candidate stages go through the capped [[shingleGroups]]
    * instead). */
  private def hashedShingles(spark: SparkSession, dir: String,
                             n: Int): DataFrame =
    hashedShinglesOf(Tables.documents(spark, dir), n)

  private[graft] def hashedShinglesOf(docs: DataFrame, n: Int): DataFrame =
    shingleHashes(docs, n).distinct()

  /** Per-document n-gram NOVELTY against everything that came before it
    * (doc_id order = arrival order): share of a doc's distinct 3-gram
    * shingles whose FIRST occurrence is this doc. The crawl-health
    * curve curation teams watch — novelty collapsing toward 0 means
    * the crawl is re-reading the web. Unlike the candidate stages this
    * deliberately has NO DF cap: hot shingles are exactly the
    * non-novel evidence. Cost is linear — two shuffles on hashed
    * shingle keys (16-byte double-hash, the shingleGroups rule; the
    * oracle keeps strings, equal absent a 2^-59 collision), one
    * min-agg + one join-back, no pair expansion anywhere. Docs too
    * short for a shingle read novelty 1e6 (nothing seen before —
    * mirrored CASE). */
  def ngramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val sh = hashedShingles(spark, dir, 3)
    val first = sh.groupBy("h1", "h2").agg(min("doc_id").as("fd"))
    val perDoc = sh.join(first, Seq("h1", "h2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"),
           sum((col("fd") === col("doc_id")).cast("long")).as("n_novel"))
    Tables.documents(spark, dir).select("doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_sh"), lit(0L)).as("n_sh"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .withColumn("novelty_micro",
        when(col("n_sh") === 0L, lit(1000000L))
          .otherwise(expr("(n_novel * CAST(1000000 AS BIGINT)) div n_sh")))
      .orderBy("doc_id")
  }

  /** Shingle document-frequency HISTOGRAM — the tuning evidence behind
    * [[MaxShingleDf]] (= 100): how many distinct 3-gram shingles land
    * in each power-of-two DF band, their posting mass, and — the cell
    * that justifies the cap — how many sit OVER the cap (exactly the
    * shingles [[shingleGroups]] drops from candidate generation, each
    * of which would have contributed O(df²) pairs). Band edges are
    * powers of two up to the cap boundary (the oracle's CASE ends at
    * the same val). Linear: one hashed-shingle aggregation, ≤ 9 rows
    * out. */
  def dfHist(spark: SparkSession, dir: String): DataFrame = {
    val df = hashedShingles(spark, dir, 3)
      .groupBy("h1", "h2").agg(count(lit(1)).as("df"))
    val bucketId = when(col("df") === 1L, 0).when(col("df") <= 2L, 1)
      .when(col("df") <= 4L, 2).when(col("df") <= 8L, 3)
      .when(col("df") <= 16L, 4).when(col("df") <= 32L, 5)
      .when(col("df") <= 64L, 6).when(col("df") <= MaxShingleDf.toLong, 7)
      .otherwise(8)
    val names = Seq("df_1", "df_2", "df_3_4", "df_5_8", "df_9_16",
                    "df_17_32", "df_33_64", s"df_65_$MaxShingleDf", "over_cap")
    val bucketName = names.zipWithIndex.foldRight(lit("?")) {
      case ((s, i), rest) => when(col("bucket_id") === i, s).otherwise(rest)
    }
    // ≤ 9 rows; localCheckpoint so the corpus-scale shingle agg runs
    // ONCE — referencing the same plan twice (agg + its total) would
    // otherwise risk a double scan if exchange reuse doesn't fire
    val agg = df.withColumn("bucket_id", bucketId)
      .groupBy("bucket_id")
      .agg(count(lit(1)).as("n_shingles"), sum("df").as("n_postings"))
      .localCheckpoint()
    agg.crossJoin(broadcast(agg.agg(sum("n_shingles").as("tot"))))
      .withColumn("bucket", bucketName)
      .withColumn("share_micro",
        expr("(n_shingles * CAST(1000000 AS BIGINT)) div tot"))
      .select("bucket_id", "bucket", "n_shingles", "n_postings", "share_micro")
      .orderBy("bucket_id")
  }

  /** Dedup SAVINGS report — the economics line the funnel justifies
    * itself with: token mass removed by keeping one survivor (min
    * doc_id) per near-dup cluster. Composes the memoized cluster
    * labels ([[clusters]] — the jaccard-threshold lockstep group) with
    * per-doc token counts; one row out at any corpus scale. All counts
    * non-negative → div ≡ //. */
  def dedupSavings(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), nTok.as("n_tok"))
    val cl = clusters(spark, dir)
    val keep = cl.groupBy("cluster").agg(min("doc_id").as("keep_id"))
    cl.join(keep, Seq("cluster")).join(toks, Seq("doc_id"))
      .select(col("n_tok"),
              (col("doc_id") === col("keep_id")).cast("long").as("kept"))
      .agg(count(lit(1)).as("n_docs"), sum("kept").as("n_kept"),
           sum("n_tok").as("tok_total"),
           sum(col("n_tok") * col("kept")).as("tok_kept"))
      .withColumn("n_dropped", col("n_docs") - col("n_kept"))
      .withColumn("tok_dropped", col("tok_total") - col("tok_kept"))
      .withColumn("savings_micro",
        expr("(tok_dropped * CAST(1000000 AS BIGINT)) div tok_total"))
      .select("n_docs", "n_kept", "n_dropped", "tok_total", "tok_kept",
              "tok_dropped", "savings_micro")
  }

  /** Bloom-filter pre-screen for incremental exact dedup — the constant-
    * memory front gate a daily-ingest pipeline puts BEFORE the exact
    * corpus join ([[incremental]] is the confirm path; the streaming
    * twin is DocStream's Bloom screen): the corpus half (doc_id <
    * split, the incremental family's n/2 rule) sets k=3 bit positions
    * per normalized document (portable PolyHashMod folds, bases
    * 131/137/139 mod 1000003, then mod m=4096 bits — the CMS-bases
    * reuse; every hash cross-engine so the oracle reproduces the EXACT
    * filter, the text_cms_estimate precedent, never xxhash64); a batch
    * document is flagged iff ALL its distinct positions are set.
    * Relational form on BOTH engines — the bit array is a ≤4096-row
    * DISTINCT frame broadcast to the batch side, so the "filter" scales
    * to any corpus (positions saturate at m, the broadcast never
    * grows). Ground truth via md5(norm) membership labels each flag
    * tp/fp/tn — and 'fn' is structurally impossible (a set member's
    * positions are all set), which the spec pins. */
  def bloomScreen(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val split = docSplit(spark, dir)
    val norm = regexp_replace(lower(trim(col("text"))), " +", " ")
    val keyed = docs.select(col("doc_id"), norm.as("nt"))
    val posArr = array(BloomBases.map(b =>
      polyHash(col("nt"), b, 1000003L) % lit(BloomBits)): _*)
    val bits = keyed.filter(col("doc_id") < split)
      .select(explode(posArr).as("pos")).distinct()
      .withColumn("hit", lit(1L))
    val flags = keyed.filter(col("doc_id") >= split)
      .select(col("doc_id"), explode(array_distinct(posArr)).as("pos"))
      .join(broadcast(bits), Seq("pos"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("np"), sum(coalesce(col("hit"), lit(0L))).as("nm"))
      .withColumn("flagged", (col("nm") === col("np")).cast("int"))
    val corpusKeys = keyed.filter(col("doc_id") < split)
      .select(md5(col("nt").cast("binary")).as("k")).distinct()
      .withColumn("mem", lit(1))
    // digest-keyed equi join (16-byte exchange width — the dedup_exact
    // rule); NOT broadcast: the corpus digest set grows with the corpus,
    // AQE may still choose broadcast when it is small
    val truth = keyed.filter(col("doc_id") >= split)
      .join(corpusKeys,
            md5(col("nt").cast("binary")) === col("k"), "left")
      .select(col("doc_id"), coalesce(col("mem"), lit(0)).as("is_dup"))
    flags.join(truth, Seq("doc_id"))
      .select(col("doc_id"), col("flagged"), col("is_dup"),
        when(col("flagged") === 1 && col("is_dup") === 1, "tp")
          .when(col("flagged") === 1, "fp")
          .when(col("is_dup") === 1, "fn").otherwise("tn").as("verdict"))
      .orderBy("doc_id")
  }

  /** k=3 portable hash bases (the CMS family's first three) and the
    * m=4096-bit filter width; the oracle reads both. */
  private[graft] val BloomBases = Seq(131L, 137L, 139L)
  private[graft] val BloomBits = 4096L

  // ---- portable polynomial hash (identical fold in Spark and DuckDB) ----

  /** h(s) = fold over codepoints: acc ← (acc·base + code) mod m, acc₀=0.
    * Spark side: single-pass codegen'd Catalyst expression
    * ([[graft.functions.PolyHashMod]]); all arithmetic stays
    * < base·m ≈ 2^37 — BIGINT-safe on the DuckDB side too. */
  private def polyHash(c: Column, base: Long, m: Long): Column =
    graft.functions.PolyHashMod.col(c, base, m)

  /** Corpus/batch split row for the incremental family: first half =
    * persisted corpus, second half = today's batch. MUST yield 250 at
    * the sf0.01 regime (n=500) — the constant the static oracles encode
    * (CLAUDE.md "Adaptive index sizing"); RegimeConstantsSpec pins it. */
  private[graft] def incSplit(n: Long): Long = n / 2

  private[graft] val NumHashes = 32
  private[graft] val Bands = 8

  /** Deterministic permutation constants (emitted as identical literals
    * into the oracle SQL): h_j(H) = (a_j·H + b_j) mod P1, a_j ∈ [1,P1). */
  private def permConst(k: Int): Long = {
    var x = k.toLong * 2654435761L + 1013904223L
    x ^= (x >>> 16); x *= 2246822519L; x ^= (x >>> 13)
    math.floorMod(x, P1)
  }
  private[graft] val permA: IndexedSeq[Long] =
    (0 until NumHashes).map(j => permConst(2 * j) % (P1 - 1) + 1)
  private[graft] val permB: IndexedSeq[Long] =
    (0 until NumHashes).map(j => permConst(2 * j + 1))

  /** Band hash: fold the band's row minhashes from a per-band seed —
    * identical structure emitted on both engines. */
  private def bandFold(seed: Long, hs: Seq[Column]): Column =
    hs.foldLeft(lit(seed): Column)((acc, h) => (acc * lit(31L) + h) % lit(P1))

  /** MinHash + LSH banding near-dup. 32 minhashes = affine permutations of
    * ONE portable polyhash per 3-gram shingle; 8 bands × 4 rows; pairs
    * colliding in any band are candidates; exact integer Jaccard >= 0.5
    * confirms (computed for candidates only). Oracle-checked: the same
    * hash/permutation/band constants are emitted into the DuckDB SQL.
    * Banding → bucket join → confirm-on-candidates is the 100 TB shape.
    * Built over the shared [[corpusHs3]]/[[corpusSigs3]] frames (round
    * 20) — dedup_sketch_merge reads the same shingle index + signature
    * table instead of rebuilding them. */
  def minhashLsh(spark: SparkSession, dir: String): DataFrame =
    memo.getOrElseUpdate((spark, dir, "minhash"),
      lshPairs((corpusHs3(spark, dir), bandsOfSigs(corpusSigs3(spark, dir)))))

  /** Memoized FULL-CORPUS hashed 3-gram shingle rows (doc_id, h) — the
    * shared base of dedup_minhash_lsh (banding candidates + exact
    * confirm) and dedup_sketch_merge (per-source signature re-agg +
    * exact audit): before round 20 each rebuilt the identical
    * DF-capped shingle index from text. NOT shareable with the
    * incremental screens' corpus half (mhidxhs) or the eval sample
    * (mhevhs): the MaxShingleDf cap binds per document UNIVERSE, so a
    * doc_id-filtered slice of this frame is a DIFFERENT capped set.
    * Owner: dedup_minhash_lsh in Bench's list. */
  private def corpusHs3(spark: SparkSession, dir: String): DataFrame =
    memo.getOrElseUpdate((spark, dir, "mh3hs"),
      minhashIndex(Tables.documents(spark, dir), keep = true)(_._1))

  /** Memoized per-doc 32-component minhash signatures over
    * [[corpusHs3]] — consumed by the LSH banding and the sketch
    * merge's per-source min-fold. Same owner (dedup_minhash_lsh). */
  private def corpusSigs3(spark: SparkSession, dir: String): DataFrame =
    memo.getOrElseUpdate((spark, dir, "mh3sigs"),
      sigsOf(corpusHs3(spark, dir)).localCheckpoint())

  /** Hashed-shingle rows (h, doc_id) from an inverted shingle index —
    * the index key already IS the hash pair, so the minhash base hash
    * is h1 verbatim (no string ever re-enters the pipeline). */
  private[graft] def hsOf(grp: DataFrame): DataFrame =
    grp.select(col("h1").as("h"), explode(col("ids")).as("doc_id"))

  /** 32-component minhash signatures from hashed shingle rows, one per
    * `key` — doc_id for the per-doc index, source for the streaming
    * per-source sketch. The mergeable sketch itself: component j is min
    * over the key's shingles of the j-th affine permutation, so the
    * signature of ANY union of docs is the element-wise min of their
    * signatures (min is associative/commutative — the same property
    * that makes HLL re-aggregable, and the whole fold, so it is one
    * streaming-legal aggregation with |keys| × 32 longs of state).
    * [[bandsOfSigs]] folds these into LSH buckets; [[sketchMerge]]
    * re-aggregates them to coarser grains. */
  private[graft] def sigsOf(hs: DataFrame, key: String = "doc_id"): DataFrame = {
    val sigCols = (0 until NumHashes)
      .map(j => min((lit(permA(j)) * col("h") + lit(permB(j))) % lit(P1)).as(s"h$j"))
    hs.groupBy(key).agg(sigCols.head, sigCols.tail: _*)
  }

  /** LSH band buckets (doc_id, band, bh) from hashed shingles: 32
    * minhash signatures (affine permutations of the one polyhash) folded
    * into 8 band hashes. This is the SIGNATURE INDEX a production corpus
    * persists — candidates are equi-joins on (band, bh). */
  private[graft] def bandsOf(hs: DataFrame): DataFrame = bandsOfSigs(sigsOf(hs))

  /** Band buckets from an already-built signature frame — the seam that
    * lets production consumers fold the memoized [[corpusSigs3]] without
    * re-aggregating signatures; [[bandSweep]] folds the same 32 mins
    * into `nb` bands of NumHashes / nb rows. */
  private[graft] def bandsOfSigs(sigs: DataFrame, nb: Int = Bands): DataFrame = {
    val rpb = NumHashes / nb
    val bandStructs = array((0 until nb).map { bId =>
      val cols = (0 until rpb).map(r => col(s"h${bId * rpb + r}"))
      struct(lit(bId).as("band"), bandFold(1000L + bId, cols).as("bh"))
    }: _*)
    sigs.select(col("doc_id"), explode(bandStructs).as("b"))
      .select(col("doc_id"), col("b.band").as("band"), col("b.bh").as("bh"))
  }

  /** Candidate pairs (a_id < b_id) sharing any (band, bh) bucket — the
    * banding screen every minhash path reads. */
  private def bandCandidates(bands: DataFrame): DataFrame =
    bands.select(col("doc_id").as("a_id"), col("band"), col("bh"))
      .join(bands.select(col("doc_id").as("b_id"), col("band"), col("bh")),
            Seq("band", "bh"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()

  /** Exact Jaccard ≥ 1/2 truth (a_id, b_id) over every pair of `hs` docs
    * sharing ≥ 1 hashed shingle — complete for the threshold (J ≥ 1/2 ⇒
    * a shared shingle exists); the banding eval harnesses' ground truth. */
  private def jaccardTruth(hs: DataFrame): DataFrame = {
    val candAll = hs.select(col("doc_id").as("a_id"), col("h"))
      .join(hs.select(col("doc_id").as("b_id"), col("h")), Seq("h"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
    confirmJaccard(candAll, hs, 1, 2).select("a_id", "b_id")
  }

  /** Free localCheckpoint'ed frames no caller retains (Dataset.unpersist
    * cannot; see GraftSql.checkpointRdd). */
  private def free(frames: DataFrame*): Unit =
    frames.foreach(f =>
      org.apache.spark.sql.GraftSql.checkpointRdd(f).foreach(_.unpersist(false)))

  /** THE MinHash index builder: the index of a documents frame — hashed
    * 3-gram shingle rows (doc_id, h) over the DF-capped [[shingleGroups]]
    * and their LSH band buckets (doc_id, band, bh) — handed to `use`;
    * every minhash path builds its index here, and this owns the
    * index's lifecycle. `keep = true` checkpoints hs for an index that
    * outlives the call (memo entries, the streaming static side, the
    * compaction rebuild); its bands stay lazy for the caller to
    * checkpoint or refold. Otherwise hs feeds `use` twice without a
    * checkpoint (bands plus the confirm, truth or audit), so the shingle
    * groups stay persisted while `use` runs — its result must be eager
    * — and are freed after. */
  private[graft] def minhashIndex[T](docs: DataFrame, keep: Boolean = false)(
      use: ((DataFrame, DataFrame)) => T): T = {
    val grp = shingleGroups(docs, 3)
    if (keep) {
      val hs = hsOf(grp).localCheckpoint()
      use((hs, bandsOf(hs)))
    } else {
      val hs = hsOf(grp.persist(StorageLevel.MEMORY_AND_DISK))
      try use((hs, bandsOf(hs))) finally grp.unpersist()
    }
  }

  /** LSH pairs of an (hs, bands) index: band candidates confirmed at exact
    * Jaccard ≥ 1/2 over the SAME hashed rows the signatures came from
    * (the confirm shuffle carries (id, long), never shingle strings). */
  private def lshPairs(index: (DataFrame, DataFrame)): DataFrame =
    confirmJaccard(bandCandidates(index._2), index._1, 1, 2).localCheckpoint()

  /** The MinHash-LSH pipeline over an ARBITRARY documents frame — eager,
    * like [[jaccardPairsOf]], and parameterized for the same reason (the
    * scale-regression spec runs it over a blown-up corpus). */
  private[graft] def minhashPairsOf(docs: DataFrame): DataFrame =
    minhashIndex(docs)(lshPairs)

  /** Screening-recall EVAL HARNESS — "measure, don't guess" for the
    * banding screen itself: on a FIXED-SIZE probe sample (doc_id <
    * 200 — constant cost at any corpus scale, the production shape for
    * a recurring index-health check), compute (a) ground truth = exact
    * Jaccard ≥ 1/2 over every sample pair sharing ≥ 1 hashed shingle
    * (complete for the threshold: J ≥ 1/2 ⇒ shared shingles exist) and
    * (b) the LSH band candidates from the SAME signature pipeline
    * production uses ([[hsOf]]/[[bandsOf]] constants), then report
    * screen recall/precision in integer micro-units. With 8 bands × 4
    * rows a J = 0.5 pair surfaces with p = 1−(1−0.5⁴)⁸ ≈ 0.40, so
    * borderline pairs SHOULD be missed — the harness exists to put a
    * number on that instead of trusting the sketch math, and to catch
    * regressions when banding constants change. Sample-pair cost is
    * bounded by the df cap exactly like the production confirm. */
  def minhashEval(spark: SparkSession, dir: String,
                  evalN: Long = 200): DataFrame =
    minhashEvalOf(evalSample(spark, dir, evalN))

  /** [[minhashEval]]'s banding + report over an (hs, truth) eval sample —
    * the memoized one or an arbitrary one ([[withEvalSample]]). */
  private[graft] def minhashEvalOf(sample: (DataFrame, DataFrame)): DataFrame =
    Similarity.recallFold(sample._2, bandCandidates(bandsOf(sample._1)),
      screenCount = Some("n_cand")).localCheckpoint()

  /** Memoized probe-sample frames shared by the two banding eval
    * harnesses (dedup_minhash_eval, dedup_band_sweep): hashed shingles
    * and exact-Jaccard(≥ 1/2) truth over the SAME doc_id < evalN
    * sample — before round 19 each harness re-shingled the sample and
    * re-derived the identical truth (the truth's Σdf² shingle-sharing
    * expansion is the harnesses' dominant cost). evalN is part of the
    * memo key (specs probe at other sizes). Owner: dedup_band_sweep in
    * Bench's list. */
  private def evalSample(spark: SparkSession, dir: String,
                         evalN: Long): (DataFrame, DataFrame) = {
    val hs = memo.getOrElseUpdate((spark, dir, "mhevhs", evalN),
      minhashIndex(Tables.documents(spark, dir).filter(col("doc_id") < evalN),
        keep = true)(_._1))
    (hs, memo.getOrElseUpdate((spark, dir, "mhevtruth", evalN),
      jaccardTruth(hs).localCheckpoint()))
  }

  /** The (hs, truth) eval sample of an ARBITRARY probe frame — the seam
    * specs drive with crafted borderline-Jaccard pairs (the regime where
    * banding recall is genuinely < 1); both frames are freed once
    * `use`'s eager result lands. */
  private[graft] def withEvalSample[T](sample: DataFrame)(
      use: ((DataFrame, DataFrame)) => T): T =
    minhashIndex(sample, keep = true) { case (hs, _) =>
      val truth = jaccardTruth(hs).localCheckpoint()
      try use((hs, truth)) finally free(hs, truth)
    }

  /** Banding-configuration sweep — the minhash analog of Similarity's
    * nprobe sweep: for (bands, rows) ∈ {(4,8), (8,4), (16,2)}
    * partitions of the SAME 32-hash signatures, candidate volume and
    * screen recall/precision vs exact-Jaccard(≥1/2) ground truth on
    * the [[minhashEval]] probe sample. The S-curve
    * p(candidate | J) = 1−(1−J^r)^b says few wide bands screen sharply
    * (high precision, recall cliff) while many narrow bands catch
    * borderline pairs at the cost of candidate volume — this table
    * puts engine-exact numbers on the trade before anyone changes the
    * production 8×4. Signatures computed ONCE (the sweep re-folds 32
    * already-computed mins, it never re-shingles); the (8,4) row
    * reproduces [[minhashEval]] exactly (BandSweepSpec pins it). */
  def bandSweep(spark: SparkSession, dir: String, evalN: Long = 200): DataFrame =
    bandSweepOf(evalSample(spark, dir, evalN))

  /** [[bandSweep]]'s refold + report over an (hs, truth) eval sample;
    * builds (and frees) its own signature checkpoint — the sample
    * frames outlive it (dedup_minhash_eval reads the same memo). */
  private[graft] def bandSweepOf(sample: (DataFrame, DataFrame)): DataFrame = {
    val sigs = sigsOf(sample._1).localCheckpoint()
    val out = Seq(4, 8, 16).map { nb =>
      Similarity.recallFold(sample._2, bandCandidates(bandsOfSigs(sigs, nb)),
          screenCount = Some("n_cand"))
        .select(lit(nb).as("n_bands"), lit(NumHashes / nb).as("rows_per_band"),
                col("*"))
    }.reduce(_ unionByName _).orderBy("n_bands").localCheckpoint()
    free(sigs)
    out
  }

  /** Screen a NEW batch against a corpus signature index — the
    * production incremental shape (round-5 verdict task 2): corpus work
    * happened ONCE at index-build time; the batch arrives with its own
    * (hs, bands) index ([[minhashIndex]]), batch×corpus candidates come
    * from the band-bucket equi-join (never corpus×corpus, never
    * batch×corpus scans), and exact Jaccard confirms against the
    * indexes' hashed shingles. Per-run cost is O(|batch| + matches) —
    * DedupScaleSpec pins that an 8× corpus leaves both the candidate
    * volume and the output unchanged. A batch doc is dropped (keep = 0)
    * when >= 1 corpus match confirms at Jaccard >= 1/2. */
  private[graft] def minhashScreen(corpus: (DataFrame, DataFrame),
                                   batchDocs: DataFrame,
                                   batch: (DataFrame, DataFrame)): DataFrame = {
    val ((hs, bands), (bhs, bbands)) = (corpus, batch)
    val cand = bbands.select(col("doc_id").as("b_id"), col("band"), col("bh"))
      .join(bands.select(col("doc_id").as("a_id"), col("band"), col("bh")),
            Seq("band", "bh"))
      .select("a_id", "b_id").distinct()
    // corpus and batch ids are disjoint, so one unioned hs frame serves
    // both sides of the confirm (sizes stay per-side by construction)
    val matches = confirmJaccard(cand, hs.unionByName(bhs), 1, 2)
      .groupBy(col("b_id").as("doc_id"))
      .agg(count(lit(1)).as("n_corpus_matches"))
    screenVerdicts(batchDocs, matches).localCheckpoint()
  }

  /** Per batch doc: its corpus match count and keep = (no match). */
  private def screenVerdicts(batchDocs: DataFrame,
                             matches: DataFrame): DataFrame =
    batchDocs.select("doc_id")
      .join(matches, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_corpus_matches"), lit(0L)).as("n_corpus_matches"),
        (coalesce(col("n_corpus_matches"), lit(0L)) === 0).cast("int").as("keep"))

  /** One side of the incremental family's split as a memoized MinHash
    * index — the corpus (doc_id < split; mhidxhs/mhidxbands — in this
    * engine the per-(session, dir) memo stands in for the persisted
    * index a 100 TB pipeline appends to daily) or the batch (≥ split;
    * incbhs/incbbands, owner dedup_incremental_minhash: four screens
    * probe the same batch against different index states and sign it
    * once). Bands derive from the CHECKPOINTED hs, so each side is
    * shingled exactly once. split is part of the key (ADVICE r19): a
    * caller passing a non-canonical split must not receive frames
    * built for another — the mhevhs/mhevtruth evalN-keying rule. */
  private[graft] def splitIndex(spark: SparkSession, dir: String, split: Long,
                                 batch: Boolean): (DataFrame, DataFrame) = {
    val (side, hsKey, bandsKey) =
      if (batch) (col("doc_id") >= split, "incbhs", "incbbands")
      else (col("doc_id") < split, "mhidxhs", "mhidxbands")
    val hs = memo.getOrElseUpdate((spark, dir, hsKey, split),
      minhashIndex(Tables.documents(spark, dir).filter(side), keep = true)(_._1))
    (hs, memo.getOrElseUpdate((spark, dir, bandsKey, split),
      bandsOf(hs).localCheckpoint()))
  }

  /** The memoized batch index screened against `corpus` — the shared
    * tail of the four production screens. */
  private def batchScreen(spark: SparkSession, dir: String, split: Long,
                          corpus: (DataFrame, DataFrame)): DataFrame =
    minhashScreen(corpus,
      Tables.documents(spark, dir).filter(col("doc_id") >= split),
      splitIndex(spark, dir, split, batch = true))

  /** The incremental family's canonical split row for (spark, dir). */
  private[graft] def docSplit(spark: SparkSession, dir: String): Long =
    incSplit(CountMemo.get(spark, dir, "documents")(
      Tables.documents(spark, dir).count()))

  /** INCREMENTAL dedup against the signature index — the operator a
    * 100 TB ingest runs per batch drop. Same corpus/batch split contract
    * as [[incremental]] (n/2; 250 at sf0.01 = the static oracle's
    * constant), but screening costs |batch|, not |corpus|. */
  def incrementalMinhash(spark: SparkSession, dir: String): DataFrame =
    memo.getOrElseUpdate((spark, dir, "incmh"), {
      val split = docSplit(spark, dir)
      batchScreen(spark, dir, split, splitIndex(spark, dir, split, batch = false))
    })

  /** The persisted signature index made LITERAL: write the corpus band
    * index to parquet PARTITIONED BY band and the hashed-shingle frame
    * beside it — the exact layout a 100 TB pipeline keeps on object
    * storage (band-partitioned bucket files a daily ingest appends to,
    * shingle-hash files the confirm stage reads) — then re-read both
    * from disk and run the SAME batch screen. Result ≡
    * [[incrementalMinhash]] by construction (the oracle IS
    * incMinhashOracleSql, unchanged): the only thing that moved is the
    * index's home, from a session-lifetime localCheckpoint to durable
    * columnar files. What the layout buys at scale: the band partition
    * key means a band-restricted maintenance scan (rebucket one band,
    * audit one band's collision rate) prunes ⅞ of the index at the
    * file listing, and the screen's (band, bh) shuffle reads only the
    * index's own bytes. PersistIndexSpec pins screen equality and the
    * partition layout. */
  def indexPersistScreen(spark: SparkSession, dir: String): DataFrame =
    memo.getOrElseUpdate((spark, dir, "idxpersist"), {
      val split = docSplit(spark, dir)
      val (hs, bands) = splitIndex(spark, dir, split, batch = false)
      val bandsPath = Tables.scratch("mh_index_bands")
      bands.write.mode("overwrite").partitionBy("band").parquet(bandsPath)
      val hsPath = Tables.scratch("mh_index_hs")
      hs.write.mode("overwrite").parquet(hsPath)
      batchScreen(spark, dir, split,
        (spark.read.parquet(hsPath), spark.read.parquet(bandsPath)))
    })

  /** Signature-index TAKEDOWN screen (dedup_index_delete) — the
    * governance half the vector side already has
    * ([[Similarity.ivfDeleteSearch]]): 10% of the corpus (doc_id % 10 =
    * 0) is removed from the signature index by TOMBSTONE FILTER — the
    * deleted docs' rows vanish from both persisted frames (hashed
    * shingles and band buckets), every other doc's rows are untouched —
    * and the batch screen runs over the surviving index. That is
    * exactly what a production takedown does to an on-disk index
    * (delete the doc's rows / mask via tombstones; nobody re-signs the
    * whole corpus), and the oracle mirrors it literally: the SAME
    * capped corpus chain with the deleted doc_ids filtered from its
    * outputs — structurally exact at ANY scale, no under-cap regime
    * caveat. The deliberate semantic note: a tombstoned index is NOT
    * bit-identical to a from-scratch rebuild on the survivors when a
    * shingle's document frequency sits at the [[MaxShingleDf]] cap
    * boundary (deletions can pull a hot shingle back under the cap —
    * only a rebuild/compaction heals that drift); the takedown contract
    * here is row removal, the rebuild is [[incrementalMinhash]] on the
    * filtered corpus. A deleted doc can no longer match anything:
    * matches only ever decrease, so keep flags flip 0→1 only
    * (IndexDeleteSpec pins both directions on a planted fixture). */
  def indexDeleteScreen(spark: SparkSession, dir: String): DataFrame =
    memo.getOrElseUpdate((spark, dir, "idxdelete"), {
      val split = docSplit(spark, dir)
      val (hs, bands) = splitIndex(spark, dir, split, batch = false)
      batchScreen(spark, dir, split, (hs.filter(col("doc_id") % 10 =!= 0),
        bands.filter(col("doc_id") % 10 =!= 0)))
    })

  /** Index COMPACTION reconcile (dedup_index_compact) — retires the
    * compaction debt [[indexDeleteScreen]] documents: the tombstoned
    * index drifts from a fresh rebuild exactly where a shingle's
    * document frequency sat at the [[MaxShingleDf]] cap boundary
    * (deletions pull a hot shingle back under the cap — only a rebuild
    * re-signs it into the index). The compaction job is that rebuild:
    * [[minhashIndex]] over the LIVE (tombstone-filtered) corpus,
    * with the DF cap recomputed on surviving counts, then the same
    * batch screen. This operator runs BOTH serve paths and reconciles
    * them per batch doc — n/keep from the tombstone filter vs the
    * compacted rebuild, plus a drift flag — the audit report a
    * maintenance job emits before swapping the compacted index in. At
    * 100 TB the rebuild is the scheduled-compaction cost (one corpus
    * re-sign, amortized over takedown volume); the reconcile itself is
    * two |batch|-row frames joined on doc_id. Below cap occupancy the
    * two paths are bit-identical (CompactSpec pins it, and the natural
    * sf0.01 corpus — max DF ≪ 100 on the live half — hash-proves it in
    * the oracle); the drift column quantifies the debt when the cap is
    * in play (CompactSpec plants a 101-doc hot shingle to drive it). */
  def indexCompactReconcile(spark: SparkSession, dir: String): DataFrame =
    memo.getOrElseUpdate((spark, dir, "idxcompact"), {
      val split = docSplit(spark, dir)
      val docs = Tables.documents(spark, dir)
      compactReconcileOf(
        indexDeleteScreen(spark, dir),
        docs.filter(col("doc_id") < split && col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") >= split),
        splitIndex(spark, dir, split, batch = true))
    })

  /** The reconcile seam over an ARBITRARY (tombstone screen, live
    * corpus, batch docs, batch index) — CompactSpec drives the planted
    * cap-boundary fixture through it; [[indexCompactReconcile]] is the
    * production (n/2 split, %10 takedown) instance. */
  private[graft] def compactReconcileOf(tombScreen: DataFrame,
                                        liveCorpus: DataFrame,
                                        batchDocs: DataFrame,
                                        batch: (DataFrame, DataFrame)): DataFrame = {
    val comp = minhashIndex(liveCorpus, keep = true) { case (lhs, lb) =>
      val lbands = lb.localCheckpoint()
      val out = minhashScreen((lhs, lbands), batchDocs, batch)
      // the compacted index is dead once the screen result (a
      // localCheckpoint) has materialized
      free(lhs, lbands)
      out
    }
    tombScreen.select(col("doc_id"),
        col("n_corpus_matches").as("n_tomb"), col("keep").as("keep_tomb"))
      .join(comp.select(col("doc_id"),
        col("n_corpus_matches").as("n_comp"), col("keep").as("keep_comp")),
        Seq("doc_id"))
      .select(col("doc_id"), col("n_tomb"), col("keep_tomb"),
        col("n_comp"), col("keep_comp"),
        (col("n_tomb") =!= col("n_comp")).cast("int").as("drift"))
  }

  /** Tombstone-fraction threshold for [[compactPolicy]] — compact when
    * ≥ 20% of the corpus index is tombstoned; the oracle reads it. The
    * natural sf0.01 takedown (%10) sits at 10%,
    * so the production row reads DEFER on this signal. */
  private[graft] val TombFracCompact = 200000L

  /** Compaction TRIGGER policy (dedup_compact_policy) — the decision
    * half [[indexCompactReconcile]] was missing: WHEN is the rebuild
    * worth paying? The reconcile audits drift by paying BOTH index
    * builds; this operator decides from two signals that are
    * observable WITHOUT a rebuild: (1) the tombstone fraction — pure
    * index metadata (n_deleted/n_corpus) — against
    * [[TombFracCompact]], and (2) `n_heal` — the number of distinct
    * shingles whose full-corpus DF sits over [[MaxShingleDf]] but
    * whose LIVE (tombstone-filtered) DF is back under it. Those
    * shingles are EXACTLY the ones a rebuild re-admits into the index
    * (the drift mechanism the reconcile's docstring names), and
    * counting them is one DF-aggregation over the uncapped shingle
    * frame — a corpus scan, not a re-sign + batch screen. Decision:
    * compact when either signal fires (any healable shingle means the
    * tombstone index is serving degraded candidates — the reconcile's
    * drift is then ≥ possible, so schedule the rebuild). All
    * quantities non-negative ⇒ div ≡ `//`; the n_corpus = 0 degenerate
    * is gated identically on both engines (defer — nothing to
    * compact). The %10 takedown rule and the n/2 split are the
    * dedup_index_delete lockstep group. CompactSpec drives BOTH
    * decisions: the natural corpus (10% tomb, no over-cap shingle)
    * defers; the planted 101-doc hot shingle fixture compacts. */
  def compactPolicy(spark: SparkSession, dir: String): DataFrame =
    compactPolicyOf(
      Tables.documents(spark, dir).filter(col("doc_id") < docSplit(spark, dir)))

  /** The policy seam over an ARBITRARY corpus frame (takedown rule
    * stays doc_id % 10 = 0 — the production contract); CompactSpec
    * drives the planted fixture through it. */
  private[graft] def compactPolicyOf(corpusDocs: DataFrame): DataFrame = {
    val dfAgg = hashedShinglesOf(corpusDocs, 3)
      .groupBy("h1", "h2")
      .agg(count(lit(1)).as("df"),
           sum((col("doc_id") % 10 =!= 0).cast("long")).as("df_live"))
    val shingleStats = dfAgg.agg(
      coalesce(sum((col("df") > MaxShingleDf.toLong).cast("long")), lit(0L))
        .as("n_over_cap"),
      coalesce(sum((col("df") > MaxShingleDf.toLong &&
                    col("df_live") <= MaxShingleDf.toLong).cast("long")),
               lit(0L)).as("n_heal"))
    val docStats = corpusDocs.agg(
      count(lit(1)).as("n_corpus"),
      coalesce(sum((col("doc_id") % 10 === 0).cast("long")), lit(0L))
        .as("n_deleted"))
    docStats.crossJoin(broadcast(shingleStats))
      .withColumn("tomb_frac_micro",
        when(col("n_corpus") === 0L, lit(0L))
          .otherwise(expr("(n_deleted * CAST(1000000 AS BIGINT)) div n_corpus")))
      .select(col("n_corpus"), col("n_deleted"), col("tomb_frac_micro"),
        col("n_over_cap"), col("n_heal"),
        lit(TombFracCompact).as("tomb_threshold_micro"),
        (col("tomb_frac_micro") >= TombFracCompact ||
         col("n_heal") >= 1L).cast("int").as("compact"))
  }

  private[graft] val SimBits = 60 // 30 bits from each modulus (P1, P2 < 2^30)

  /** Memoized production fingerprint frame ("simhashfp", owner
    * dedup_simhash in Bench's list): dedup_simhash_pairs band-joins the
    * SAME 60-bit fingerprints — before round 20 it recomputed the whole
    * TF + token-hash + 60-column aggregate chain, twice (the band
    * self-join duplicates an unmaterialized subtree). PlanShapeSpec's
    * laziness spot-check swapped dedup_simhash for dedup_exact when
    * this went eager (the memoized-family rule). */
  def simhash(spark: SparkSession, dir: String): DataFrame =
    memo.getOrElseUpdate((spark, dir, "simhashfp"),
      simhashOf(Tables.documents(spark, dir)).localCheckpoint())

  /** 60-bit SimHash per document: two portable token polyhashes supply 30
    * sign-weighted bits each; bit j set when Σ tokens(±1) > 0.
    * Oracle-checked (same math in DuckDB).
    *
    * Computed in TF shape: occurrences collapse to (doc, token, count)
    * first, tokens are hashed once per DISTINCT token, and the ±1
    * per-occurrence sums become ±count — the 60-column aggregate then
    * runs over |vocab per doc| rows instead of every token occurrence
    * (at 100 TB: vocab ≪ corpus). No broadcast hint on the hash join —
    * vocab is unbounded in general; AQE decides. */
  private[graft] def simhashOf(docs: DataFrame): DataFrame = {
    val tf = tokenRows(docs, "doc_id")
      .groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("cnt"))
    val tokHash = tf.select("tok").distinct()
      .select(col("tok"),
              polyHash(col("tok"), 31L, P1).as("h1"),
              polyHash(col("tok"), 131L, P2).as("h2"))
    val bitSums = (0 until SimBits).map { j =>
      val src = if (j < 30) shiftright(col("h1"), j) else shiftright(col("h2"), j - 30)
      sum(when(src.bitwiseAND(lit(1L)) === 1L, col("cnt")).otherwise(-col("cnt")))
        .as(s"b$j")
    }
    tf.join(tokHash, Seq("tok"))
      .groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until SimBits).map { j =>
          when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L))
        }.reduce(_ + _).as("simhash"))
  }

  /** Hamming-band parameters for [[simhashPairs]] (Manku et al., WWW'07:
    * "Detecting Near-Duplicates for Web Crawling"). Splitting the 60-bit
    * fingerprint into 4 bands of 15 bits makes banding EXACT for the
    * threshold, not approximate: a pair differing in ≤ 3 bits cannot
    * touch all 4 bands (pigeonhole), so at least one band matches and
    * the pair is generated — recall 1.0 vs brute force, verified by
    * SimhashPairsSpec. */
  private[graft] val HamBands = 4
  private[graft] val HamBandBits = SimBits / HamBands // 15
  private[graft] val MaxHamming = HamBands - 1 // 3: the pigeonhole bound

  /** SimHash near-dup PAIRS — the detection step the [[simhash]]
    * fingerprints exist for. Band-bucket equi-join (shuffle on the
    * 15-bit band key), never an all-pairs XOR scan: candidates are docs
    * sharing any band, confirm is one `bit_count(a XOR b) <= 3` per
    * candidate. At 100 TB the candidate volume is Σ|bucket|² over
    * 4·2^15 buckets; a hot bucket means many documents share 15
    * fingerprint bits — overwhelmingly true near-dups, i.e. output, not
    * waste (boilerplate-heavy shards aside, which exact dedup upstream
    * removes first). DISTINCT collapses pairs matching in several bands.
    * Oracle-checked: identical fingerprint chain + band split + XOR
    * popcount in DuckDB. */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame =
    simhashPairsFromFp(simhash(spark, dir))

  private[graft] def simhashPairsOf(docs: DataFrame): DataFrame =
    simhashPairsFromFp(simhashOf(docs))

  /** The band self-join + XOR-popcount confirm over a pre-built
    * fingerprint frame — shared by the memoized production entry
    * (reads the "simhashfp" checkpoint on BOTH join sides) and the
    * arbitrary-frame spec seam. */
  private def simhashPairsFromFp(sh: DataFrame): DataFrame = {
    val bandKeys = (0 until HamBands).map { b =>
      shiftright(col("simhash"), b * HamBandBits)
        .bitwiseAND(lit((1L << HamBandBits) - 1))
    }
    val bands = sh
      .select(col("doc_id"), col("simhash"), posexplode(array(bandKeys: _*)))
      .select(col("doc_id"), col("simhash"),
              col("pos").as("band"), col("col").as("bk"))
    val a = bands.select(col("doc_id").as("a_id"), col("simhash").as("a_sh"),
                         col("band"), col("bk"))
    val b = bands.select(col("doc_id").as("b_id"), col("simhash").as("b_sh"),
                         col("band"), col("bk"))
    a.join(b, Seq("band", "bk"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
              bit_count(col("a_sh").bitwiseXOR(col("b_sh"))).as("hamming"))
      .filter(col("hamming") <= MaxHamming)
      .distinct()
  }

  /** Connected-component clustering over near-dup pairs: cluster id =
    * smallest doc_id reachable (deterministic), computed by the one CC
    * loop ([[Graph.connectedComponents]] — hash-min plus pointer
    * jumping, O(log n) rounds, one label checkpoint cached at a time,
    * fails loudly if the round cap is hit unconverged; DedupSimilaritySpec
    * proves an 80-doc chain collapses well inside the cap). Result
    * memoized per (session, dir) — dedup_keep and the other cluster
    * tails reuse it instead of re-running the loop. The oracle
    * reconstructs the labels with a recursive CTE. */
  def clusters(spark: SparkSession, dir: String): DataFrame =
    memo.getOrElseUpdate((spark, dir, "clusters"),
      Graph.connectedComponents(Tables.documents(spark, dir).select(col("doc_id")),
        jaccardPairs(spark, dir).select("a_id", "b_id"), "doc_id", "cluster"))

  /** The end product of the dedup pipeline: the kept document set — one
    * survivor (min doc_id) per near-dup cluster, all singletons kept. */
  def keepList(spark: SparkSession, dir: String): DataFrame =
    clusters(spark, dir)
      .groupBy("cluster")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("cluster_size"))
      .select("doc_id", "cluster_size")

  /** Quality-aware dedup survivor selection (dedup_keep_best) — the
    * modern production recipe [[keepList]]'s min-id rule simplifies
    * away: within each near-dup cluster keep the member the TRAINED
    * quality scorer ranks highest ([[TextOps.qualityScoreTrained]]'s
    * integer micro-nat score; ties to the lower doc_id — fully
    * deterministic, integer keys only). Output one row per cluster:
    * the survivor, its score, the cluster size, and whether the
    * quality rule changed the pick vs min-id (the cell quantifying
    * what quality-aware selection buys — on duplicated content you
    * keep the BEST copy, not the first-crawled one). Cost: the two
    * memoized halves the pipeline already pays for (cluster labels +
    * NB scores) joined once (|docs| rows) and one groupBy(cluster)
    * with a max(struct) partial agg — no window, no sort. */
  def keepBest(spark: SparkSession, dir: String): DataFrame = {
    val lab = clusters(spark, dir)
    val sc = graft.ext.TextOps.qualityScoreTrained(spark, dir)
      .select(col("doc_id"), col("score_micro"))
    lab.join(sc, Seq("doc_id"))
      .groupBy("cluster")
      .agg(
        max(struct(col("score_micro"), (-col("doc_id")).as("nid"))).as("best"),
        min("doc_id").as("min_id"),
        count(lit(1)).as("cluster_size"))
      .select(
        col("cluster"),
        (-col("best.nid")).as("doc_id"),
        col("best.score_micro").as("score_micro"),
        col("cluster_size"),
        (col("best.nid") =!= -col("min_id")).cast("int").as("changed_pick"))
      .orderBy("cluster")
  }

  /** Duplication-aware weighted sampling (dedup_weighted_sample) —
    * [[TextOps.weightedSample]]'s A-ES discipline with the weight
    * turned AGAINST duplication: per source, k docs sampled with
    * probability ∝ 1/cluster_size, so replicated content is sampled as
    * ONE unit of evidence instead of cluster_size units (the
    * repetition bias every eval/inspection sample over a crawled
    * corpus carries, removed at the sampler). Key = (−ln u) ·
    * cluster_size with u from the deterministic saltOrd scramble and
    * the ln micronized FIRST (the ln rule); singletons reduce to the
    * uniform sampler, and weighting by 1/size needs NO division at all
    * — the integer product is exact (envelope: cluster_size · 13.8e6 <
    * 2^63 to ~6e11-member clusters). Smallest-k keys win per source,
    * ties to the lower doc_id. Reuses the memoized cluster labels —
    * marginal cost is one |docs| join + a per-source top-k window. */
  def dedupWeightedSample(spark: SparkSession, dir: String,
                          k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lab = clusters(spark, dir)
    val csz = lab.groupBy("cluster").agg(count(lit(1)).as("cluster_size"))
    val keyed = Tables.documents(spark, dir).select("doc_id", "source")
      .join(lab, Seq("doc_id"))
      .join(csz, Seq("cluster"))
      .withColumn("u_micro",
        Similarity.saltOrd(col("doc_id")) % 1000000L + 1L)
      .withColumn("lnu", Num.lnMicro(
        col("u_micro").cast("double") / lit(1000000L).cast("double")))
      .withColumn("key_micro", (-col("lnu")) * col("cluster_size"))
    val w = Window.partitionBy("source")
      .orderBy(col("key_micro").asc, col("doc_id").asc)
    keyed.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("source", "doc_id", "rn", "cluster_size", "key_micro")
  }

  /** Blocked edit-distance fuzzy matching — the record-linkage modality
    * the n-gram/minhash family can't express: catalog names that differ
    * by a typo-scale edit ("red bolt" / "old bolt"). The production
    * shape is dedup-the-dictionary: extract DISTINCT names (with
    * bearer counts), block by a cheap deterministic key (the trailing
    * word) so candidates are same-block pairs only — never all-pairs —
    * then confirm with exact `levenshtein` ≤ 2. Block fan-out is
    * bounded by the per-block distinct-name count (the adjective vocab
    * here; a DF cap like the shingle stage's would bound adversarial
    * blocks). Distinct-frame size ≪ row count at any scale, and the
    * candidate join shuffles on the block key. */
  def fuzzy(spark: SparkSession, dir: String): DataFrame = {
    val names = Tables.part(spark, dir)
      .groupBy(col("p_name").as("name"))
      .agg(count(lit(1)).as("n_rows"))
      // split_part (not element_at): empty-string out-of-range semantics
      // match DuckDB's, so a malformed one-word name can't ANSI-throw
      .withColumn("blk", expr("split_part(name, ' ', 2)"))
    val a = names.select(col("blk"), col("name").as("a_name"),
                         col("n_rows").as("n_a"))
    val b = names.select(col("blk"), col("name").as("b_name"),
                         col("n_rows").as("n_b"))
    a.join(b, Seq("blk"))
      .filter(col("a_name") < col("b_name"))
      .withColumn("dist", levenshtein(col("a_name"), col("b_name")))
      .filter(col("dist") <= 2)
      .select("a_name", "b_name", "n_a", "n_b", "dist")
  }

  /** Cluster-size histogram over [[clusters]] — the one-page report a
    * dedup run publishes: how many singletons, how many pairs, how big
    * the largest template family is, and (as Σ size·count) how many
    * docs each band holds. Two tiny aggregations over the memoized
    * |docs|-row label frame. */
  def clusterStats(spark: SparkSession, dir: String): DataFrame =
    clusters(spark, dir)
      .groupBy("cluster").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"),
           sum("cluster_size").as("n_docs"))
      .orderBy("cluster_size")

  /** Cluster-aware (leakage-safe) train/validation/test split — the
    * fold-assignment rule every evaluation pipeline needs once dedup has
    * run: hash-splitting on doc_id ([[TextOps.corpusSplit]]) puts two
    * near-duplicates of the same document on opposite sides of the
    * train/test boundary, which is exactly the contamination the dedup
    * pass exists to prevent. Here the split key is the near-dup CLUSTER
    * label (min reachable doc_id from the memoized [[clusters]] frame),
    * so every member of a cluster lands in the same fold by construction
    * — leakage across folds is structurally impossible, not just
    * unlikely. Same Knuth-scramble 80/10/10 rule as corpus_split (one
    * deterministic in-plan expression); cost on top of the memoized
    * label frame is zero extra shuffles — the assignment is a projection.
    * Scale: the label frame is |docs| rows whatever the corpus size, and
    * singleton clusters (label = own doc_id) reproduce corpus_split's
    * assignment exactly, so the two splits only disagree where disagreeing
    * is the point. */
  def splitSafe(spark: SparkSession, dir: String): DataFrame = {
    val bucket = Similarity.saltOrd(col("cluster")) % 100
    clusters(spark, dir)
      .select(col("doc_id"), col("cluster"),
              when(bucket < 80, "train")
                .when(bucket < 90, "validation")
                .otherwise("test").as("split"))
  }

  /** Mergeable-sketch re-aggregation for MinHash — the property that
    * lets a 100 TB corpus keep ONE persisted per-doc signature index
    * (32 longs/doc) and answer similarity questions at ANY coarser
    * grain without ever re-shingling text: a signature component is a
    * min over shingle permutations, and min is associative/commutative,
    * so the signature of a union of docs is the element-wise min of
    * their signatures (the HLL-re-agg argument, [[ops.Aggs]]
    * sketchReagg, applied to MinHash). Here per-SOURCE signatures are
    * min-merged from the per-doc index and pairwise source similarity
    * is estimated as matching-component share in micro-units; the
    * exact set Jaccard over the same capped hashed-shingle sets rides
    * along as the audit column (both engines compute both
    * deterministically — same constants, no cross-engine sketch
    * comparison issue). Cost: one |docs|-row re-aggregation + a
    * |sources|² pairing over the tiny merged table (the centroidSim
    * precedent); the exact audit is one distinct + equi-join on h,
    * bounded by the df-capped shingle set. */
  def sketchMerge(spark: SparkSession, dir: String): DataFrame =
    sketchMergeFrom(Tables.documents(spark, dir),
      corpusHs3(spark, dir), corpusSigs3(spark, dir))

  /** [[sketchMerge]] over an arbitrary (doc_id, source, text) frame —
    * the spec-facing entry point (synthetic fixtures); builds its own
    * shingle index where the production entry reads the memoized
    * [[corpusHs3]]/[[corpusSigs3]] frames. */
  private[graft] def sketchMergeOf(docs: DataFrame): DataFrame =
    minhashIndex(docs) { case (hs, _) => sketchMergeFrom(docs, hs, sigsOf(hs)) }

  /** The merge + audit half over pre-built hashed-shingle and signature
    * frames — shared by the memoized production entry and the spec seam. */
  private def sketchMergeFrom(docs: DataFrame, hs: DataFrame,
                              sigs: DataFrame): DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    val perDoc = sigs.join(src, Seq("doc_id"))
    val mergedCols = (0 until NumHashes).map(j => min(col(s"h$j")).as(s"h$j"))
    val merged = perDoc.groupBy("source").agg(mergedCols.head, mergedCols.tail: _*)
    val a = merged.select(col("source").as("a_src") +:
      (0 until NumHashes).map(j => col(s"h$j").as(s"a$j")): _*)
    val b = merged.select(col("source").as("b_src") +:
      (0 until NumHashes).map(j => col(s"h$j").as(s"b$j")): _*)
    val agree = (0 until NumHashes)
      .map(j => when(col(s"a$j") === col(s"b$j"), 1L).otherwise(0L))
      .reduce(_ + _)
    val est = a.crossJoin(b).filter(col("a_src") < col("b_src"))
      .select(col("a_src"), col("b_src"), agree.as("n_agree"))
    // (source, h) distinct feeds THREE subtrees (sizes + both intersect
    // sides) — materialize it once, free it as soon as the |sources|²
    // result lands (round 20; StageProfile showed the join+distinct
    // exchange running 3×)
    val se = hs.join(src, Seq("doc_id")).select("source", "h").distinct()
      .localCheckpoint()
    val sz = se.groupBy("source").agg(count(lit(1)).as("sz"))
    val inter = se.select(col("source").as("a_src"), col("h"))
      .join(se.select(col("source").as("b_src"), col("h")), Seq("h"))
      .filter(col("a_src") < col("b_src"))
      .groupBy("a_src", "b_src").agg(count(lit(1)).as("inter"))
    val outDf = est
      .join(inter, Seq("a_src", "b_src"), "left")
      .join(sz.select(col("source").as("a_src"), col("sz").as("sza")), Seq("a_src"))
      .join(sz.select(col("source").as("b_src"), col("sz").as("szb")), Seq("b_src"))
      .select(col("a_src"), col("b_src"), col("n_agree"),
        expr("(n_agree * CAST(1000000 AS BIGINT)) div 32")
          .as("est_jaccard_micro"),
        coalesce(col("inter"), lit(0L)).as("inter"),
        (col("sza") + col("szb") - coalesce(col("inter"), lit(0L))).as("uni"))
      .withColumn("exact_jaccard_micro",
        expr("(inter * CAST(1000000 AS BIGINT)) div uni"))
      .localCheckpoint()
    free(se)
    outDf
  }

  /** Stateless per-source hashed-shingle rows (source, h) WITHOUT the
    * corpus DF cap — the streaming-safe half of [[sketchMerge]]: no
    * corpus-wide aggregation feeds it, so a continuous stream can fold
    * it directly. Capped batch path and this agree while no shingle's
    * corpus DF crosses MaxShingleDf (the same regime contract as the
    * streaming minhash screen; StreamingSpec pins it). Signed per
    * source by [[sigsOf]] with key "source". */
  private[graft] def sourceShingleHashes(docs: DataFrame, n: Int = 3): DataFrame =
    wordTokens(docs, n, "source")
      .select(col("source"), explode(wordGrams(n)).as("sh"))
      .select(col("source"), polyHash(col("sh"), 31L, P1).as("h"))

  /** Token width of the cross-document exact-substring window; the
    * oracle derives its slice width, range bound and interval length
    * from it. */
  private[graft] val SubstrW = 5

  /** Memoized production instance of [[dupWindowStarts]] — both halves
    * of the exact-substring family (measure [[substrCross]], apply
    * [[substrExcise]]) consume the identical duplicated-start frame;
    * before round 19 each re-ran the gram + digest + DF pipeline.
    * Owner: dedup_substr_cross in Bench's list. */
  private def dupStartsCkpt(spark: SparkSession, dir: String): DataFrame =
    memo.getOrElseUpdate((spark, dir, "substrstarts"),
      dupWindowStarts(Tables.documents(spark, dir)).localCheckpoint())

  /** Duplicated-window start positions (doc_id, p): every 1-based token
    * position whose [[SubstrW]]-gram occurs verbatim in ≥2 documents.
    * Shared base of [[substrCross]] (coverage measure) and
    * [[substrExcise]] (span removal apply). `digestKeyed = false` keeps
    * the raw-string key — spec-only reference path. */
  private[graft] def dupWindowStarts(docs: DataFrame,
                                     digestKeyed: Boolean = true): DataFrame = {
    val grams = wordTokens(fanOutNarrow(docs), SubstrW)
      .select(col("doc_id"), posexplode(wordGrams(SubstrW)))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("p"),
              (if (digestKeyed) unhex(md5(col("col"))) else col("col")).as("g"))
    val dupG = grams.groupBy("g")
      .agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") >= 2)
      .select("g")
    grams.join(dupG, Seq("g")).select("doc_id", "p")
  }

  /** Cross-document exact-substring coverage — the ExactSubstr dedup
    * shape (Lee et al., "Deduplicating Training Data Makes Language
    * Models Better"): for every document, the fraction of its tokens
    * covered by a [[SubstrW]]-token window that also occurs VERBATIM in
    * some other document. Complements [[TextOps.dupSpanFrac]] (which
    * counts within-corpus duplicated shingles per doc): this one unions
    * the overlapping windows into exact COVERED-TOKEN intervals, the
    * quantity the span-excision policy actually cuts.
    *
    * Plan shape: tokens → window starts (one narrow pass), groupBy gram
    * (one shuffle) for the cross-doc filter, join back on gram (second
    * shuffle), then a per-doc window that unions overlapping [p, p+W)
    * intervals via a running max of interval ends — all integer, no
    * float anywhere. The grouping/join key is the gram's 16-BYTE MD5
    * DIGEST, not the string (the dedup_exact lesson): a [[SubstrW]]-token
    * gram averages tens of bytes and at 100 TB the gram exchange is the
    * dominant shuffle, so digest keys cut it several-fold and bound the
    * key width regardless of token length. The oracle keeps string keys
    * (identical output absent an md5 collision — 2^-128-scale);
    * SubstrDigestSpec pins digest ≡ string on real data. Never
    * all-pairs: the duplicated-gram set is |distinct grams| and the
    * coverage union is |duplicated starts| rows partitioned by doc. */
  def substrCross(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val w = Window.partitionBy("doc_id").orderBy("p")
      .rowsBetween(Window.unboundedPreceding, -1)
    val cov = dupStartsCkpt(spark, dir)
      .withColumn("prev_end", max(col("p") + lit(SubstrW.toLong)).over(w))
      .select(col("doc_id"),
        greatest(lit(0L), (col("p") + lit(SubstrW.toLong)) -
          greatest(coalesce(col("prev_end"), col("p")), col("p"))).as("add"))
      .groupBy("doc_id").agg(sum("add").as("n_covered"))
    docs.select(col("doc_id"),
                nTok.as("n_tokens"))
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
              coalesce(col("n_covered"), lit(0L)).as("n_covered"))
      .withColumn("dup_frac_micro",
        expr("CASE WHEN n_tokens = 0 THEN CAST(0 AS BIGINT) " +
             "ELSE (n_covered * CAST(1000000 AS BIGINT)) div n_tokens END"))
      .orderBy("doc_id")
  }

  /** Span-excision APPLY — completes [[substrCross]]'s measure half the
    * way IVF train→search and BPE merges→apply pair up (round-9 verdict
    * item 3, per Lee et al.'s actual dedup policy: CUT the duplicated
    * spans, keep the rest): per document, the kept token intervals after
    * removing every token covered by a cross-document duplicated
    * [[SubstrW]]-window. Output is one row per kept interval with
    * integer 1-based offsets `[keep_start, keep_end)` — the form a
    * downstream rewrite joins back on to slice text, and the
    * oracle-friendly form (no string surgery to diverge on).
    *
    * Plan: duplicated starts → gaps-and-islands interval union (running
    * max break-flag + prefix-sum island id, two window passes over the
    * SAME (doc_id, p) partitioning = one shuffle) → covered islands →
    * complement against [1, n_tokens+1). All integer; kept-token total
    * per doc equals n_tokens − n_covered from [[substrCross]] (pinned by
    * SubstrExciseSpec). Scale: state is |duplicated starts| rows
    * partitioned by doc — never corpus×corpus. */
  def substrExcise(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val wPrev = Window.partitionBy("doc_id").orderBy("p")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy("doc_id").orderBy("p")
    val cov = dupStartsCkpt(spark, dir)
      .withColumn("prev_end", max(col("p") + lit(SubstrW.toLong)).over(wPrev))
      .withColumn("brk",
        when(col("p") > coalesce(col("prev_end"), lit(-1L)), lit(1L))
          .otherwise(lit(0L)))
      .withColumn("isl", sum("brk").over(wRun))
      .groupBy("doc_id", "isl")
      .agg(min("p").as("cs"), max(col("p") + lit(SubstrW.toLong)).as("ce"))
    val nt = docs.select(col("doc_id"), nTok.as("n"))
    val wCs = Window.partitionBy("doc_id").orderBy("cs")
    // kept = gaps before each covered island + the tail + whole-doc rows
    // for documents with no duplicated span at all
    val between = cov
      .withColumn("ks", coalesce(lag("ce", 1).over(wCs), lit(1L)))
      .select(col("doc_id"), col("ks"), col("cs").as("ke"))
    val trailing = cov.groupBy("doc_id").agg(max("ce").as("ks"))
      .join(nt, Seq("doc_id"))
      .select(col("doc_id"), col("ks"), (col("n") + lit(1L)).as("ke"))
    val untouched = nt
      .join(cov.select("doc_id").distinct(), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), lit(1L).as("ks"), (col("n") + lit(1L)).as("ke"))
    between.union(trailing).union(untouched)
      .filter(col("ks") < col("ke"))
      .select(col("doc_id"), col("ks").as("keep_start"),
              col("ke").as("keep_end"),
              (col("ke") - col("ks")).as("n_keep"))
      .orderBy("doc_id", "keep_start")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_substr_cross"  -> substrCross _,
    "dedup_substr_excise" -> substrExcise _,
    "dedup_cluster_stats" -> clusterStats _,
    "corpus_split_safe"   -> splitSafe _,
    "dedup_sketch_merge"  -> sketchMerge _,
    "dedup_index_persist" -> indexPersistScreen _,
    "dedup_index_delete" -> indexDeleteScreen _,
    "dedup_index_compact" -> indexCompactReconcile _,
    "dedup_compact_policy" -> compactPolicy _,
    "dedup_fuzzy"         -> fuzzy _,
    "dedup_keep"          -> keepList _,
    "dedup_keep_best"     -> keepBest _,
    "dedup_weighted_sample" -> ((s, d) => dedupWeightedSample(s, d)),
    "dedup_clusters"      -> clusters _,
    "dedup_exact"         -> exact _,
    "dedup_exact_norm"    -> exactNorm _,
    "dedup_ngram_jaccard" -> ngramJaccard _,
    "dedup_containment"   -> containment _,
    "dedup_source_overlap" -> sourceOverlap _,
    "dedup_incremental"   -> incremental _,
    "dedup_bloom_screen"  -> bloomScreen _,
    "text_ngram_novelty"  -> ngramNovelty _,
    "dedup_df_hist"       -> dfHist _,
    "corpus_dedup_savings" -> dedupSavings _,
    "dedup_incremental_minhash" -> incrementalMinhash _,
    "dedup_minhash_lsh"   -> minhashLsh _,
    "dedup_minhash_eval"  -> ((s, d) => minhashEval(s, d)),
    "dedup_band_sweep"    -> ((s, d) => bandSweep(s, d)),
    "dedup_simhash"       -> simhash _,
    "dedup_simhash_pairs" -> simhashPairs _,
    "dedup_threshold_curve" -> thresholdCurve _,
    "dedup_para_neardup"  -> paraNearDup _,
    "dedup_para_excise"   -> paraExcise _,
    "corpus_stats_report" -> statsReport _)
}
