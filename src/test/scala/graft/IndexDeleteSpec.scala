package graft

import org.apache.spark.sql.functions._

/** Signature-index takedown (Dedup.indexDeleteScreen): removing a
  * doc's rows from the persisted index must (a) never create a new
  * match, (b) only flip keep flags 0→1, and (c) actually release a
  * batch doc whose ONLY corpus match was the deleted doc — proven on a
  * planted fixture where the natural corpus can't guarantee the hit. */
class IndexDeleteSpec extends SparkSpec {

  test("takedown only removes matches; production query consistent") {
    val fullRows = ext.Dedup.queries("dedup_incremental_minhash")(spark, sf0001)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    val delRows = ext.Dedup.queries("dedup_index_delete")(spark, sf0001)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert(delRows.keySet === fullRows.keySet,
      "takedown changed the screened batch universe")
    delRows.foreach { case (doc, (nDel, keepDel)) =>
      val (nFull, keepFull) = fullRows(doc)
      assert(nDel <= nFull, s"doc $doc gained matches after a delete")
      assert(keepDel >= keepFull, s"doc $doc keep flag flipped 1 -> 0")
    }
  }

  test("a batch dup of a deleted corpus doc is released by the takedown") {
    import graft.ext.Dedup
    val docs = Tables.documents(spark, sf0001)
    val split = 25L
    val corpus = docs.filter(col("doc_id") < split)
    // plant a batch doc that exactly duplicates corpus doc 10 (a
    // takedown target: 10 % 10 == 0) and nothing else
    val planted = corpus.filter(col("doc_id") === 10)
      .withColumn("doc_id", lit(2000L))
    val batch = planted
    val (hs, bands) = Dedup.minhashIndex(corpus, keep = true)(identity)
    def screen(h: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      Dedup.minhashIndex(batch)(Dedup.minhashScreen((h, b), batch, _))
    val before = screen(hs, bands)
      .collect().map(r => (r.getLong(1), r.getInt(2))).head
    val after = screen(
      hs.filter(col("doc_id") % 10 =!= 0),
      bands.filter(col("doc_id") % 10 =!= 0))
      .collect().map(r => (r.getLong(1), r.getInt(2))).head
    assert(before._1 >= 1L && before._2 === 0,
      s"planted dup not caught pre-delete: $before")
    assert(after._1 < before._1,
      s"takedown did not remove the deleted doc's match: $before -> $after")
    // if doc 10 was its only match, the planted doc is fully released
    if (before._1 === 1L) assert(after._2 === 1)
  }
}
