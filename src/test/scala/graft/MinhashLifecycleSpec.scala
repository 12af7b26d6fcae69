package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import ext.Dedup

/** The MinHash index lifecycle: after an arbitrary-frame seam returns,
  * the only RDDs it leaves persisted are the ones its returned frames
  * read — its shingle groups, signatures, eval truth and compaction
  * index are freed, whether it built the index transiently (persisted
  * shingle groups) or kept it (a checkpointed hs). */
class MinhashLifecycleSpec extends SparkSpec {
  private lazy val docs = Tables.documents(spark, sf0001)

  /** (RDDs newly persisted by `seam`, RDDs its returned frames read). */
  private def persistedBy(seam: => Seq[DataFrame]): (Set[Int], Set[Int]) = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = seam
    out.foreach(_.collect())
    val left = (sc.getPersistentRDDs.keySet -- before).toSet
    (left, out.flatMap(_.queryExecution.analyzed
      .collect { case l: LogicalRDD => l.rdd.id }).toSet)
  }

  private def assertOnlyReads(what: String)(seam: => Seq[DataFrame]): Unit = {
    val (left, reads) = persistedBy(seam)
    assert(left.subsetOf(reads),
      s"$what left persisted: $left; its returned frames read: $reads")
  }

  test("each MinHash seam leaves persisted only what its result reads") {
    assertOnlyReads("minhashPairsOf")(Seq(Dedup.minhashPairsOf(docs)))
    assertOnlyReads("minhashEvalOf")(
      Seq(Dedup.withEvalSample(docs)(Dedup.minhashEvalOf)))
    assertOnlyReads("bandSweepOf")(
      Seq(Dedup.withEvalSample(docs)(Dedup.bandSweepOf)))
    assertOnlyReads("sketchMergeOf")(Seq(Dedup.sketchMergeOf(docs)))
    // the index builder: a kept index leaves its hs checkpoint (the
    // returned frames read it); a transient one leaves nothing once
    // `use` has returned a value
    assertOnlyReads("minhashIndex(keep)") {
      val (hs, bands) = Dedup.minhashIndex(docs, keep = true)(identity)
      Seq(hs, bands)
    }
    val (left, _) = persistedBy {
      Dedup.minhashIndex(docs) { case (hs, bands) => hs.count() + bands.count() }
      Seq.empty
    }
    assert(left.isEmpty, s"a transient index left persisted: $left")
    // the one screen (over a kept corpus index), and the compaction
    // reconcile's rebuilt live index
    val split = 25L
    val corpus = docs.filter(col("doc_id") < split)
    val batch = docs.filter(col("doc_id") >= split)
    val idx = Dedup.minhashIndex(corpus, keep = true)(identity)
    assertOnlyReads("minhashScreen")(
      Seq(Dedup.minhashIndex(batch)(Dedup.minhashScreen(idx, batch, _))))
    assertOnlyReads("compactReconcileOf")(Seq(Dedup.minhashIndex(batch) { b =>
      Dedup.compactReconcileOf(Dedup.minhashScreen(idx, batch, b),
        corpus.filter(col("doc_id") % 10 =!= 0), batch, b)
    }))
  }
}
