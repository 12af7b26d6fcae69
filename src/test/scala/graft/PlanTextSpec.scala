package graft

import org.scalatest.funsuite.AnyFunSuite

/** Verify's plans.json must read the same for equal plans on any run:
  * [[Verify.planText]] drops the ids that change from run to run and
  * keeps everything else. */
class PlanTextSpec extends AnyFunSuite {

  test("run-specific ids are stripped; the plan text is otherwise kept") {
    val a = "Project [doc_id#12L, tok#7, misragries(graft.functions.MisraGries@3e2f58f8)]\n" +
      "+- Relation spark_catalog.default.graft_graph_edges_26eb69a40f0c[src#1,dst#2] parquet\n" +
      "+- CollectMetrics graft_bucket_cap_cell_27, [max(rnb#3) AS m#4], 6245\n" +
      "+- MapPartitions graft.ext.Multimodal$$$Lambda$6395/0x00007f187186f000@27f904e6, obj#5"
    val b = "Project [doc_id#99L, tok#98, misragries(graft.functions.MisraGries@5bbda8aa)]\n" +
      "+- Relation spark_catalog.default.graft_graph_edges_273ab1a04ba2[src#97,dst#96] parquet\n" +
      "+- CollectMetrics graft_bucket_cap_cell_29, [max(rnb#95) AS m#94], 6281\n" +
      "+- MapPartitions graft.ext.Multimodal$$$Lambda$7663/0x00007f1871ede128@4b89ee03, obj#93"
    assert(Verify.planText(a) === Verify.planText(b))
    assert(Verify.planText(a).linesIterator.next() ===
      "Project [doc_id, tok, misragries(graft.functions.MisraGries@)]")
    // an email literal is plan content, not an identity hash
    val email = "Project [regexp_replace(t2, [A-Za-z0-9._%+-]+@mail.example.com, <EMAIL>)]"
    assert(Verify.planText(email) === email)
  }

  test("the distinct-aggregate gid numbering is order-free; other lines keep " +
       "their order") {
    val a = "+- Aggregate [f], [f, count(a) FILTER (WHERE (gid = 1)) AS na, " +
      "count(b) FILTER (WHERE (gid = 2)) AS nb]\n" +
      "   +- Expand [[f, a#1, null, 1], [f, null, b#2, 2]], [f, a, b, gid]\n" +
      "      +- Project [langid_en, a, b]"
    val b = "+- Aggregate [f], [f, count(a) FILTER (WHERE (gid = 2)) AS na, " +
      "count(b) FILTER (WHERE (gid = 1)) AS nb]\n" +
      "   +- Expand [[f, b#7, null, 1], [f, null, a#8, 2]], [f, b, a, gid]\n" +
      "      +- Project [langid_en, a, b]"
    assert(Verify.planText(a) === Verify.planText(b))
    assert(Verify.planText(a).linesIterator.toSeq.last ===
      "      +- Project [langid_en, a, b]")
    assert(Verify.planText(a.replace("AS nb", "AS nc")) !== Verify.planText(b))
  }
}
