package graft

import org.apache.spark.sql.SparkSession

/** Query order never changes a graph-family result. Eighteen graph_*
  * queries and sim_knn_mutual read the memoized mutual-kNN edge frame
  * (`knnmutual`, through `Graph.mutualGraph`), graph_components and
  * graph_component_sizes the memoized CC labels (`graphcc`), and
  * graph_pagerank the bucketed purchase-graph edges and their degrees
  * (`graphedges`, `graphdeg`), so a mis-keyed memo makes whichever
  * build runs first decide what the others read. Giving the `graphcc`
  * build the key `knnmutual` is such a mutation: in name order
  * graph_2hop_reach builds the edges first and graph_components returns
  * them as its labels (graph_component_sizes then fails on the missing
  * `comp`); run first on its own session, graph_components' build asks
  * for its own key and fails. The twenty queries run in name order, in
  * reversed order, and each first on a fresh session.
  * Memo keys carry the session, so each run sees only its own memos.
  * The 22 sessions build 52 memo entries in all (a full run 5:
  * ivfassign, knnmutual, graphcc, graphedges and graphdeg; the twenty
  * solo runs 42: ivfassign + knnmutual each, graphcc beside them for
  * the two component queries, graphedges + graphdeg alone for
  * graph_pagerank), under CkptMemo's 64, so the spec can evict only
  * older entries of other specs, never one of its own. */
class GraphFamilyOrderSpec extends SparkSpec {
  // the sf0.01 corpus, beside the suite's sf0.001 one
  private val sf001 = new java.io.File(sf0001).getParent + "/sf0.01"

  private val names =
    (SparkEntry.queries.keys.filter(_.startsWith("graph_")).toSeq :+
      "sim_knn_mutual").sorted

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

  test("every mutual-graph, CC-label and purchase-graph consumer: name " +
       "order ≡ reversed order ≡ run first on its own session") {
    assert(names.size == 20, s"graph family is ${names.size} queries: $names")
    val forward = run(spark.newSession(), names)
    assert(names.forall(n => forward(n)._1 > 0), "a graph query returned no rows")
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
