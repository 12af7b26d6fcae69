package graft

import org.apache.spark.sql.SparkSession

/** Query order never changes a split-family result. The split queries
  * share memoized rounds and serves (splitseeds/splitasg, splitserve,
  * splitband, splitdeep, tsplit*, incsplit0*, bandsweepfrm, …), so a
  * mis-keyed memo makes whichever query runs first decide what the
  * others return. Giving the band serve the plain serve's memo key is
  * such a mutation: every single-query oracle check in a fixed order
  * still passes. Name order and reversed order do not expose it either
  * (the plain serve's users come first in both — sim_knn_mutual_split
  * sorts before the band queries), so every query is also run FIRST,
  * alone, on a fresh session; the mutation fails that check. Memo keys
  * carry the session, so each run sees only its own memos. */
class SplitFamilyOrderSpec extends SparkSpec {
  private val sf001 = "/root/testdata/sf0.01"

  private val names = ext.Similarity.queries.keys.filter(n =>
    n.startsWith("sim_split") || n.startsWith("sim_cell_split") ||
    n == "sim_knn_mutual_split").toSeq.sorted

  /** (rows, order-insensitive digest) of every query, run in `order` on
    * `session`; each result is collected as soon as it is built, before
    * a later query can rewrite a shared scratch file. */
  private def run(session: SparkSession, order: Seq[String])
      : Map[String, (Int, String)] =
    order.map { n =>
      val rows = ext.Similarity.queries(n)(session, sf001).collect()
        .map(_.toString).sorted
      val md = java.security.MessageDigest.getInstance("SHA-256")
      rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
      n -> ((rows.length, md.digest().map("%02x".format(_)).mkString))
    }.toMap

  test("every memo-sharing split query: name order ≡ reversed order ≡ " +
       "run first on its own session") {
    assert(names.size === 21, s"split family drifted: $names")
    val forward = run(spark.newSession(), names)
    assert(names.forall(n => forward(n)._1 > 0), "a split query returned no rows")
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
