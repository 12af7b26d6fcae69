package graft

import org.apache.spark.sql.SparkSession

/** Query order never changes a near-dup result. The MinHash and cluster
  * queries share memoized indexes and labels (mh3hs/mh3sigs,
  * mhidxhs/mhidxbands vs incbhs/incbbands — the two sides of one split
  * —, mhevhs/mhevtruth keyed by evalN, pairstats5, clusters, graphcc, …),
  * so a mis-keyed memo makes whichever build runs first decide what the
  * others return. The family is run in name order, in reversed order,
  * and each query first on a fresh session; a fourth run builds the
  * BATCH side of the split index and a non-default eval sample
  * (evalN = 100) before the queries, because every query builds the
  * corpus side first and uses evalN = 200 — a corpus index keyed like
  * the batch one, or an eval sample keyed without evalN, returns the
  * same wrong rows in every query order and only that run exposes it.
  * Memo keys carry the session, so each run sees only its own memos;
  * one run builds about 30 memo entries (the knnmutual chain
  * included), under CkptMemo's 64, and the 14 sessions' entries only
  * evict older sessions' ones (a later request rebuilds). */
class DedupFamilyOrderSpec extends SparkSpec {
  // the sf0.01 corpus, beside the suite's sf0.001 one
  private val sf001 = new java.io.File(sf0001).getParent + "/sf0.01"

  private val names = Seq("dedup_minhash_lsh", "dedup_sketch_merge",
    "dedup_minhash_eval", "dedup_band_sweep", "dedup_incremental_minhash",
    "dedup_index_persist", "dedup_index_delete", "dedup_index_compact",
    "dedup_clusters", "dedup_keep", "graph_components").sorted

  /** (rows, order-insensitive digest) of every query, run in `order` on
    * `session`; each result is collected as soon as it is built, before
    * a later query can rewrite a shared scratch file. */
  private def run(session: SparkSession, order: Seq[String])
      : Map[String, (Int, String)] =
    order.map { n =>
      val rows = SparkEntry.queries(n)(session, sf001).collect()
        .map(_.toString).sorted
      val md = java.security.MessageDigest.getInstance("SHA-256")
      rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
      n -> ((rows.length, md.digest().map("%02x".format(_)).mkString))
    }.toMap

  test("every memo-sharing near-dup query: name order ≡ reversed order ≡ " +
       "run first on its own session ≡ batch index and evalN = 100 first") {
    val forward = run(spark.newSession(), names)
    assert(names.forall(n => forward(n)._1 > 0), "a near-dup query returned no rows")
    def differ(other: Map[String, (Int, String)]): Seq[String] =
      names.filter(n => other.get(n).exists(_ != forward(n))).map(n =>
        s"$n ${forward(n)._1} vs ${other(n)._1} rows")
    val reversed = run(spark.newSession(), names.reverse)
    assert(differ(reversed).isEmpty,
      s"results depend on query order: ${differ(reversed).mkString(", ")}")
    val alone = names.flatMap(n => run(spark.newSession(), Seq(n)))
    assert(differ(alone.toMap).isEmpty,
      s"results depend on which query built the memos: " +
      differ(alone.toMap).mkString(", "))
    val s = spark.newSession()
    ext.Dedup.splitIndex(s, sf001, ext.Dedup.docSplit(s, sf001), batch = true)
    ext.Dedup.minhashEval(s, sf001, evalN = 100).collect()
    val sidesFirst = run(s, names)
    assert(differ(sidesFirst).isEmpty,
      s"results depend on which memo side was built first: " +
      differ(sidesFirst).mkString(", "))
  }
}
