package graft

import org.apache.spark.sql.SparkSession

/** Query order never changes a quantizer result. The IVF, Lloyd, PQ and
  * IVF-PQ queries share memoized assignments, centroids and codebooks
  * (ivfassign, ivftrain, ivftrainedranked, lloydrounds, frozencents,
  * pqcb, pqcodes, pqadc, ivfpqcb, ivfpqadc), so a mis-keyed memo makes
  * whichever build runs first decide what the others return. Giving the
  * residual codebook the raw codebook's key (ivfpqcb → pqcb) is such a
  * mutation: the IVF-PQ queries sort first, so in name order the PQ
  * queries read the residual codebook and in reversed order the IVF-PQ
  * queries read the raw one. The family is run in name order, in
  * reversed order, and each query first on a fresh session.
  * Memo keys carry the session, so each run sees only its own memos;
  * one full run builds 11 memo entries (the ten above plus the recall
  * truth of sim_ivf_recall_eval), the 20 solo sessions 1–5 each, 74 in
  * all over the 22 sessions — past CkptMemo's 64, so the spec evicts
  * about 10 entries of its own earlier sessions (and older ones of other
  * specs), never one a later query of the same run reads. */
class QuantizerFamilyOrderSpec extends SparkSpec {
  // the sf0.01 corpus, beside the suite's sf0.001 one
  private val sf001 = new java.io.File(sf0001).getParent + "/sf0.01"

  private val names = Seq("sim_ivf_assign", "sim_ivf_topk",
    "sim_ivf_recall_eval", "sim_ivf_train", "sim_ivf_train_delta",
    "sim_ivf_train_iter", "sim_ivf_train_hist", "sim_ivf_assign_trained",
    "emb_outlier_report", "sim_ivf_topk_trained", "sim_index_persist",
    "sim_ivf_incremental_assign", "sim_ivf_upsert_search", "sim_pq_codes",
    "sim_pq_distortion", "sim_pq_adc_topk", "sim_pq_rerank_topk",
    "sim_ivfpq_topk", "sim_ivfpq_persist", "sim_ivfpq_rerank_topk").sorted

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

  test("every memo-sharing quantizer query: name order ≡ reversed order ≡ " +
       "run first on its own session") {
    val forward = run(spark.newSession(), names)
    assert(names.forall(n => forward(n)._1 > 0), "a quantizer query returned no rows")
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
  }
}
