package graft

import org.apache.spark.sql.functions._

/** Index compaction (Dedup.indexCompactReconcile): the tombstone-filtered
  * index and a fresh rebuild on the live corpus must agree everywhere the
  * MaxShingleDf cap is not in play, and the reconcile's drift column must
  * quantify exactly the cap-boundary debt when it is — proven on a
  * planted 101-doc hot shingle the natural corpus (max DF ≪ 100) can't
  * produce. */
class CompactSpec extends SparkSpec {

  test("below cap occupancy: tombstone screen ≡ compacted rebuild") {
    // sf0.001 has a 25-doc corpus half — no shingle can reach DF > 100,
    // so the rebuild's recomputed cap keeps the identical shingle set
    val rows = ext.Dedup.queries("dedup_index_compact")(spark, sf0001)
      .collect()
    assert(rows.nonEmpty, "empty reconcile frame")
    rows.foreach { r =>
      assert(r.getLong(1) === r.getLong(3),
        s"doc ${r.getLong(0)}: n_tomb ${r.getLong(1)} != n_comp ${r.getLong(3)}")
      assert(r.getInt(2) === r.getInt(4), s"doc ${r.getLong(0)}: keep drift")
      assert(r.getInt(5) === 0, s"doc ${r.getLong(0)}: drift flagged below cap")
    }
  }

  test("tombstone side of the reconcile equals dedup_index_delete") {
    val del = ext.Dedup.queries("dedup_index_delete")(spark, sf0001)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    val rec = ext.Dedup.queries("dedup_index_compact")(spark, sf0001)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert(rec === del, "reconcile's tombstone columns diverge from the takedown screen")
  }

  test("cap-boundary drift: deletion pulls a hot shingle under the cap") {
    import spark.implicits._
    val cap = ext.Dedup.MaxShingleDf // 100
    // corpus: cap+1 identical docs sharing ONE 3-gram; doc 0 is the
    // takedown target. Full-corpus DF = 101 > cap -> the shingle (and
    // with it every corpus signature) is dropped from the index, so the
    // TOMBSTONE path has nothing to match. Live-corpus DF = 100 <= cap
    // -> the rebuild re-signs it and the batch dup is caught.
    val corpus = (0L to cap.toLong).map(i => (i, "x y z")).toDF("doc_id", "text")
    val live = corpus.filter($"doc_id" =!= 0L)
    val batch = Seq((5000L, "x y z")).toDF("doc_id", "text")
    val (hs, bands) = ext.Dedup.minhashIndex(corpus, keep = true)(identity)
    val rec = ext.Dedup.minhashIndex(batch) { bIdx =>
      val tomb = ext.Dedup.minhashScreen(
        (hs.filter($"doc_id" =!= 0L), bands.filter($"doc_id" =!= 0L)), batch, bIdx)
      ext.Dedup.compactReconcileOf(tomb, live, batch, bIdx).collect()
    }
    assert(rec.length === 1)
    val r = rec.head
    assert(r.getLong(1) === 0L && r.getInt(2) === 1,
      s"tombstone path unexpectedly matched: $r")
    assert(r.getLong(3) === cap.toLong && r.getInt(4) === 0,
      s"compacted rebuild missed the re-signed hot shingle: $r")
    assert(r.getInt(5) === 1, s"drift not flagged: $r")
  }

  test("policy: natural corpus defers (low tomb fraction, nothing to heal)") {
    val rows = ext.Dedup.queries("dedup_compact_policy")(spark, sf0001)
      .collect()
    assert(rows.length === 1)
    val r = rows.head
    // sf0.001 corpus half = docs 0..249 -> 25 tombstones (0, 10, …, 240)
    assert(r.getLong(0) === 250L && r.getLong(1) === 25L)
    assert(r.getLong(2) === 100000L, s"tomb fraction: $r")
    assert(r.getLong(4) === 0L, s"natural corpus has a healable shingle: $r")
    assert(r.getInt(6) === 0, s"policy compacted a healthy index: $r")
  }

  test("policy: a healable cap-boundary shingle triggers compaction") {
    import spark.implicits._
    val cap = ext.Dedup.MaxShingleDf
    // same planted shape as the drift test: full DF = 101 > cap, live
    // DF (takedown %10: ids 0,10,...,100 -> 11 deleted) = 90 <= cap
    val corpus = (0L to cap.toLong).map(i => (i, "x y z")).toDF("doc_id", "text")
    val r = ext.Dedup.compactPolicyOf(corpus).collect().head
    assert(r.getLong(0) === cap.toLong + 1 && r.getLong(1) === 11L)
    assert(r.getLong(2) < ext.Dedup.TombFracCompact,
      s"fixture tomb fraction unexpectedly past the threshold: $r")
    assert(r.getLong(3) === 1L && r.getLong(4) === 1L,
      s"the planted hot shingle is not seen as healable: $r")
    assert(r.getInt(6) === 1, s"policy deferred a driftable index: $r")
  }

  test("policy: tombstone fraction alone triggers compaction") {
    import spark.implicits._
    // 5 of 6 docs are takedown targets (%10 = 0) -> 833333µ >= 200000µ;
    // texts unique so no shingle is shared, n_heal = 0
    val corpus = Seq(0L, 10L, 20L, 30L, 40L, 1L).zipWithIndex
      .map { case (id, i) => (id, s"a$i b$i c$i") }.toDF("doc_id", "text")
    val r = ext.Dedup.compactPolicyOf(corpus).collect().head
    assert(r.getLong(1) === 5L && r.getLong(2) === 833333L)
    assert(r.getLong(4) === 0L)
    assert(r.getInt(6) === 1, s"policy ignored the tombstone fraction: $r")
  }
}
