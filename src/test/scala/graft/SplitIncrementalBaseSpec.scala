package graft

/** The incremental split trio (sim_split_incremental, _serve, _deep)
  * shares ONE persisted frozen-base split index per (session, dir):
  * the first query writes it, the others read it, and nothing rewrites
  * it — so no caller can invalidate another's lazy reload. */
class SplitIncrementalBaseSpec extends SparkSpec {

  private val sf001 = sf0001.replace("sf0.001", "sf0.01")

  /** Every file under `dir` with its last-modified time. */
  private def snapshot(dir: java.io.File): Map[String, Long] =
    Option(dir.listFiles()).getOrElse(Array.empty).toSeq.flatMap { f =>
      if (f.isDirectory) snapshot(f).toSeq
      else Seq(f.getPath -> f.lastModified())
    }.toMap

  test("one session writes the frozen base index once for the whole trio") {
    val s = spark.newSession()
    val (postings, model) = ext.Similarity.incBasePaths(s, sf001)
    val id = org.apache.spark.sql.GraftSql.sessionId(s)
    val scratch = new java.io.File(postings).getParentFile
    def ownDirs = Option(scratch.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.contains(id)).map(_.getPath).toSet
    assert(ownDirs.isEmpty, "a fresh session found its base index already written")
    ext.Similarity.queries("sim_split_incremental")(s, sf001).collect()
    assert(ownDirs === Set(postings, model),
      "the first query did not write exactly one base postings + model pair")
    val written = snapshot(new java.io.File(postings)) ++
      snapshot(new java.io.File(model))
    assert(written.keys.exists(_.endsWith("_SUCCESS")))
    val before = scratch.list().toSet
    ext.Similarity.queries("sim_split_incremental_serve")(s, sf001).collect()
    ext.Similarity.queries("sim_split_incremental_deep")(s, sf001).collect()
    // serve persists its maintained index, deep its round-2 assignment
    val added = scratch.list().toSet -- before
    assert(added.subsetOf(
      Set("split_inc2_postings", "split_inc2_models", "split_inc_deep_r2")),
      s"a later query wrote its own base copy: $added")
    assert(ownDirs === Set(postings, model))
    assert(snapshot(new java.io.File(postings)) ++ snapshot(new java.io.File(model))
      === written, "a later query rewrote the base index")
  }
}
