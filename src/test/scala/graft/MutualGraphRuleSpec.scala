package graft

import org.scalatest.funsuite.AnyFunSuite

/** The graph queries read the mutual-kNN graph through one view, held by
  * the code rather than by prose: `Graph.mutualGraph` is the only read
  * of the memoized `Similarity.knnMutual` edge frame in `ext/Graph.scala`,
  * and the both-direction (u, v) edge union is written once in `ext/`,
  * in that view — every graph query, and the graph-search walk in
  * Similarity, takes `und` from it instead of re-deriving it. */
class MutualGraphRuleSpec extends AnyFunSuite {

  private def walk(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
    else if (f.getName.endsWith(".scala")) Seq(f)
    else Seq.empty

  /** (path under src/main/scala/graft, line number) of every line of the
    * files under `dir` containing `needle`. */
  private def sites(dir: String, needle: String): Seq[(String, Int)] = {
    val root = new java.io.File(s"src/main/scala/graft/$dir")
    assert(root.exists, s"$root is missing — update the scanned path")
    for {
      f <- walk(root)
      (line, i) <- java.nio.file.Files.readAllLines(f.toPath).toArray
        .map(_.toString).zipWithIndex.toSeq
      if line.contains(needle)
    } yield (f.getPath.stripPrefix("src/main/scala/graft/"), i + 1)
  }

  test("ext/Graph.scala reads knnMutual( once, in the mutual-graph view") {
    val hits = sites("ext/Graph.scala", "knnMutual(")
    assert(hits.size == 1,
      s"${hits.size} knnMutual( reads in Graph: ${hits.mkString("; ")}")
  }

  test("the both-direction (u, v) union of the mutual edges is written " +
       "once under ext/") {
    val hits = sites("ext",
      "mu.select(col(\"b_id\").as(\"u\"), col(\"a_id\").as(\"v\"))")
    assert(hits.map(_._1) === Seq("ext/Graph.scala"),
      s"${hits.size} both-direction unions under ext/: ${hits.mkString("; ")}")
  }
}
