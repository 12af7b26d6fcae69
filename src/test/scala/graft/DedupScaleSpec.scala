package graft

import graft.ext.Dedup
import org.apache.spark.sql.{DataFrame, functions => F}

/** Scale-regression harness for the near-dup family: testdata tops out
  * at sf0.1, so the family's asymptotics were argued in comments and
  * proved only at toy scale. These tests blow the sf0.01 corpus up ×8
  * through the REAL pipelines (jaccardPairsOf / minhashPairsOf are the
  * exact production code paths behind dedup_ngram_jaccard /
  * dedup_minhash_lsh) and pin the growth law:
  *
  *  - DISJOINT growth (copy-tagged tokens — the 100 TB model: a corpus
  *    10× bigger is mostly NEW content): candidate volume must grow
  *    EXACTLY linearly — copies share no shingles, so pair structure
  *    replicates per copy and any super-linear edge (a lost DF cap, a
  *    stray cross join, a candidate generator that stopped being
  *    per-shingle) breaks exact equality loudly.
  *  - DUPLICATE growth (exact id-offset copies): every shingle's
  *    document frequency multiplies by the copy count, so the
  *    MaxShingleDf cap must bound every surviving posting list AND drop
  *    exactly the shingles whose scaled DF crosses the cap — the
  *    expected survivor count is DERIVED from the base corpus, not
  *    pinned to today's data.
  */
class DedupScaleSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.01"
  private val K = 8

  private def docs: DataFrame =
    Tables.documents(spark, dir).select("doc_id", "text")

  /** Copy `i` of the corpus, id-offset; with `tag` every token gets a
    * per-copy prefix, making copies shingle-disjoint from each other. */
  private def copy(i: Int, tag: Boolean): DataFrame = {
    val base = docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * 1000000L))
    if (!tag) base
    else base.withColumn("text",
      F.concat_ws(" ", F.transform(F.split(F.col("text"), " "),
        t => F.concat(F.lit(s"c${i}_"), t))))
  }

  /** `k` id-offset copies of the corpus. */
  private def scaled(tag: Boolean, k: Int = K): DataFrame =
    (0 until k).map(copy(_, tag)).reduce(_ unionByName _)

  test(s"disjoint x$K growth: jaccard pair volume grows exactly linearly") {
    val basePairs = Dedup.jaccardPairsOf(docs).count()
    assert(basePairs > 0, "base corpus produced no near-dup pairs")
    val t0 = System.nanoTime()
    val scaledPairs = Dedup.jaccardPairsOf(scaled(tag = true)).count()
    val sec = (System.nanoTime() - t0) / 1e9
    assert(scaledPairs === K * basePairs,
      s"disjoint x$K corpus must yield exactly $K x $basePairs pairs, " +
        s"got $scaledPairs — super-linear candidate growth")
    info(f"jaccard: base=$basePairs pairs, x$K=$scaledPairs in $sec%.1fs")
  }

  test(s"disjoint x$K growth: minhash pairs = sum of per-copy runs") {
    // NOT K×base: tagging changes every shingle polyhash, so a borderline
    // pair (0.5 <= j < 1) can band-collide in one tagged copy and not
    // another — per-copy counts legitimately differ. The property the
    // disjoint corpus GUARANTEES is no cross-copy contamination: the
    // combined run must confirm exactly the union of what each copy
    // confirms alone (cross-copy candidates have zero shingle
    // intersection, so the exact-Jaccard confirm kills them all).
    val perCopy = (0 until K).map(i => Dedup.minhashPairsOf(copy(i, tag = true)).count())
    assert(perCopy.exists(_ > 0), "no tagged copy produced minhash near-dups")
    val t0 = System.nanoTime()
    val scaledPairs = Dedup.minhashPairsOf(scaled(tag = true)).count()
    val sec = (System.nanoTime() - t0) / 1e9
    assert(scaledPairs === perCopy.sum,
      s"disjoint x$K corpus must confirm exactly ${perCopy.sum} pairs " +
        s"(per-copy ${perCopy.mkString("+")}), got $scaledPairs — " +
        "cross-copy contamination or lost candidates")
    info(f"minhash: per-copy=${perCopy.mkString(",")}, x$K=$scaledPairs in $sec%.1fs")
  }

  test(s"disjoint x$K growth: containment pair volume grows exactly linearly") {
    // containmentPairsOf shares jaccardPairsOf's candidate stage but its
    // own threshold; the linearity law must hold for it independently
    // (a future threshold tweak that accidentally re-derived candidates
    // from an uncapped join would only break HERE, not in the jaccard
    // twin)
    val basePairs = Dedup.containmentPairsOf(docs).count()
    assert(basePairs > 0, "base corpus produced no containment pairs")
    val scaledPairs = Dedup.containmentPairsOf(scaled(tag = true)).count()
    assert(scaledPairs === K * basePairs,
      s"disjoint x$K corpus must yield exactly $K x $basePairs containment " +
        s"pairs, got $scaledPairs — super-linear candidate growth")
  }

  test(s"incremental minhash: x$K corpus leaves candidates and output unchanged") {
    // The production claim behind dedup_incremental_minhash: screening a
    // batch costs |batch|, not |corpus|. Candidate volume is the
    // measurable proxy — candidates come ONLY from the batch×corpus
    // band-bucket join, so growing the corpus with disjoint (tagged)
    // content must leave BOTH the candidate set (modulo accidental band
    // collisions, which the exact confirm kills) and the confirmed
    // output exactly as they were. A corpus×corpus edge, or a candidate
    // generator scanning the corpus per batch doc, breaks this loudly.
    val all = docs
    val corpus = all.filter(F.col("doc_id") < 250)
    val batch = all.filter(F.col("doc_id") >= 250)
    def index(c: DataFrame): (DataFrame, DataFrame) = {
      val hs = Dedup.hsOf(Dedup.shingleGroups(c, 3))
      (hs, Dedup.bandsOf(hs))
    }
    def candidates(cBands: DataFrame, bBands: DataFrame): Long =
      bBands.select(F.col("doc_id").as("b_id"), F.col("band"), F.col("bh"))
        .join(cBands.select(F.col("doc_id").as("a_id"), F.col("band"), F.col("bh")),
              Seq("band", "bh"))
        .select("a_id", "b_id").distinct().count()

    val (baseHs, baseBands) = index(corpus)
    val bBands = Dedup.bandsOf(Dedup.hsOf(Dedup.shingleGroups(batch, 3)))
    val baseCand = candidates(baseBands, bBands)
    val baseOut = Dedup.minhashIndex(batch)(Dedup.minhashScreen((baseHs, baseBands), batch, _))
      .collect().map(_.toSeq).toSet
    assert(baseOut.exists(r => r(2) == 0), "no batch doc screened out — vacuous")

    // corpus ∪ (K-1) tagged copies: disjoint from the batch AND each other
    val bigCorpus = corpus.unionByName(
      (1 until K).map(copy(_, tag = true))
        .reduce(_ unionByName _).filter(F.col("doc_id") % 1000000L < 250))
    val (bigHs, bigBands) = index(bigCorpus)
    val scaledCand = candidates(bigBands, bBands)
    val scaledOut = Dedup.minhashIndex(batch)(Dedup.minhashScreen((bigHs, bigBands), batch, _))
      .collect().map(_.toSeq).toSet
    assert(scaledOut === baseOut,
      s"x$K disjoint corpus changed the screening verdicts")
    assert(scaledCand === baseCand,
      s"candidate volume moved with |corpus|: $baseCand -> $scaledCand " +
        "(tagged corpus content shares no shingles with the batch; any " +
        "growth is a candidate edge that scans the corpus)")
  }

  test("duplicate x32 growth: DF cap bounds posting lists, drops hot shingles") {
    // x32 and 3-grams (the minhash shingle order) push the drop
    // threshold down to base df > 3, which near-dup clusters do hit
    val D = 32
    val baseSizes = Dedup.shingleGroups(docs, 3)
      .select(F.size(F.col("ids")).as("d"))
    // scaled df = D * base df, so a shingle survives iff base df <= cap/D;
    // base sizes are exact for every df <= cap, which covers that range
    val keepDf = Dedup.MaxShingleDf / D
    val expected = baseSizes.filter(F.col("d") <= keepDf).count()
    val dropped = baseSizes.filter(F.col("d") > keepDf).count()
    val scaledSizes = Dedup.shingleGroups(scaled(tag = false, k = D), 3)
      .select(F.size(F.col("ids")).as("d"))
      .persist()
    val (nGroups, maxSize) = {
      val r = scaledSizes.agg(F.count(F.lit(1)), F.max("d")).head()
      // max over zero rows is null — surface that as the count assertion
      // below, not an NPE here
      (r.getLong(0), if (r.isNullAt(1)) 0 else r.getInt(1))
    }
    scaledSizes.unpersist()
    assert(maxSize <= Dedup.MaxShingleDf,
      s"posting list of $maxSize ids exceeds the DF cap under x$D duplication")
    assert(nGroups === expected,
      s"expected $expected surviving shingles (base df <= $keepDf), got $nGroups")
    assert(dropped > 0,
      s"test lost its teeth: no base 3-gram has df > $keepDf — lower keepDf")
    info(s"cap dropped $dropped hot shingles under x$D duplication; " +
      s"max surviving posting list $maxSize <= ${Dedup.MaxShingleDf}")
  }
}
