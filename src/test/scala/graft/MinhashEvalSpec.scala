package graft

import graft.ext.Dedup
import org.apache.spark.sql.{functions => F}

/** The screening-recall eval harness (`dedup_minhash_eval`) exists to
  * MEASURE banding recall instead of trusting the sketch math; these
  * tests pin that the harness itself is honest: metrics are internally
  * consistent, exact dups are always recalled, and a crafted
  * borderline-Jaccard probe CAN be missed by banding while ground truth
  * still sees it — the gap the harness was built to expose. */
class MinhashEvalSpec extends SparkSpec {

  import spark.implicits._

  private val sf001 = "/root/testdata/sf0.01"

  private def row(df: org.apache.spark.sql.DataFrame) = {
    val r = df.collect().head
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
  }

  test("metrics are internally consistent on the real probe sample") {
    val (truth, cand, hit, recall, precision) =
      row(Dedup.minhashEval(spark, sf001))
    assert(hit <= truth && hit <= cand, "hits exceed truth or candidates")
    assert(recall == (if (truth == 0) 1000000L else hit * 1000000L / truth))
    assert(precision == (if (cand == 0) 0L else hit * 1000000L / cand))
    assert(truth > 0, "probe sample carries no true pairs — harness inert")
  }

  test("exact duplicates are always recalled; disjoint docs never surface") {
    // two exact dups (identical shingle sets => identical signatures =>
    // identical band hashes) + two disjoint docs: truth = screen = 1 pair
    val docs = Seq(
      (0L, "a b c d e f g h i j k l m n o p"),
      (1L, "a b c d e f g h i j k l m n o p"),
      (2L, "q r s t u v w x y z aa bb cc dd ee ff"),
      (3L, "gg hh ii jj kk ll mm nn oo pp qq rr ss tt uu vv")
    ).toDF("doc_id", "text")
    val (truth, cand, hit, recall, _) = row(Dedup.withEvalSample(docs)(Dedup.minhashEvalOf))
    assert(truth == 1L && hit == 1L && recall == 1000000L,
      s"exact dup not recalled: truth=$truth cand=$cand hit=$hit")
  }

  test("a borderline-Jaccard pair is ground truth regardless of banding luck") {
    // 18-token shared prefix -> 16 shared shingles; 7-token distinct
    // suffixes -> 23 shingles per doc; J = 16/30 ~ 0.53: just over the
    // 1/2 truth threshold, in the regime where 8x4 banding catches with
    // p ~ 0.5 — the harness must count it in truth either way, and hits
    // stay <= truth
    val shared = (1 to 18).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (0L, shared + " " + (1 to 7).map(i => s"x$i").mkString(" ")),
      (1L, shared + " " + (1 to 7).map(i => s"y$i").mkString(" "))
    ).toDF("doc_id", "text")
    val (truth, _, hit, recall, _) = row(Dedup.withEvalSample(docs)(Dedup.minhashEvalOf))
    assert(truth == 1L, s"borderline pair missing from ground truth")
    assert(hit <= truth)
    assert(recall == hit * 1000000L,
      "recall must be exactly hit/truth in micro-units")
  }
}
