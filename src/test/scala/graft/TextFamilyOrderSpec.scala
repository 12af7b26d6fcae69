package graft

import org.apache.spark.sql.SparkSession

/** Query order never changes a text-family result. Seven queries read
  * the memoized trained quality scores (`qscored`: text_quality_score_
  * trained, _roc, _calibration, _gate_calibrated, dedup_keep_best,
  * corpus_curriculum, corpus_train_schedule) and three the memoized
  * contamination frame (`contam`: text_contamination,
  * corpus_curate_funnel, corpus_report), so a mis-keyed memo makes
  * whichever build runs first decide what the others read. Giving the
  * `qscored` build the key `contam` is such a mutation: in name order a
  * corpus_* query builds the contamination frame first and the quality
  * consumers read it (and fail on its columns); in reversed order
  * text_quality_score_trained builds first and text_contamination
  * returns its rows. The ten queries run in name order, in reversed
  * order, and each first on a fresh session.
  * Memo keys carry the session, so each run sees only its own memos.
  * The 12 sessions build 27 memo entries in all (a full run 4: qscored,
  * contam and the near-dup clusters and pairstats5 that dedup_keep_best
  * and three corpus_* queries read; the ten solo runs 19), under
  * CkptMemo's 64, so the spec can evict only older entries of other
  * specs, never one of its own. */
class TextFamilyOrderSpec extends SparkSpec {
  // the sf0.01 corpus, beside the suite's sf0.001 one
  private val sf001 = new java.io.File(sf0001).getParent + "/sf0.01"

  private val names = Seq("text_quality_score_trained", "text_quality_roc",
    "text_quality_calibration", "text_quality_gate_calibrated",
    "dedup_keep_best", "corpus_curriculum", "corpus_train_schedule",
    "text_contamination", "corpus_curate_funnel", "corpus_report").sorted

  /** (rows, order-insensitive digest) of every query, run in `order` on
    * `session`. */
  private def run(session: SparkSession, order: Seq[String])
      : Map[String, (Int, String)] =
    order.map { n =>
      val rows = SparkEntry.queries(n)(session, sf001).collect()
        .map(_.toString).sorted
      val md = java.security.MessageDigest.getInstance("SHA-256")
      rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
      n -> ((rows.length, md.digest().map("%02x".format(_)).mkString))
    }.toMap

  test("every qscored and contam consumer: name order ≡ reversed order ≡ " +
       "run first on its own session") {
    val forward = run(spark.newSession(), names)
    assert(names.forall(n => forward(n)._1 > 0), "a text query returned no rows")
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
