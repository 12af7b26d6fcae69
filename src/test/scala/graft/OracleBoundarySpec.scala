package graft

import org.scalatest.funsuite.AnyFunSuite

/** The DuckDB reference lives in `graft.oracle` and nowhere else: the
  * engine packages build Spark plans, the oracle objects build the SQL
  * that checks them, and a literal both sides need is one engine `val`
  * the oracle reads. Pins:
  *   - no engine file names `graft.oracle` or defines an `oracle` map
  *     (the reference may read engine vals, never the other way);
  *   - no engine string literal holds a DuckDB-only token — such a
  *     literal is reference SQL that has drifted back into the engine.
  *     Spark SQL strings the engine runs itself (`expr(...)`, Sources'
  *     `spark.sql` catalog round trip) hold none of them; a site that
  *     ever must is listed in `allowed` with its reason;
  *   - the shared literals have one home: the 300 s session gap in µs
  *     is written once under src/main, and no eval query defaults its
  *     probe size to a bare 100 instead of the one probe-size val. */
class OracleBoundarySpec extends AnyFunSuite {

  private val engineDirs =
    Seq("ops", "ext", "functions", "pipeline", "streaming", "sources")
  private val duckdbOnly =
    Seq("UNNEST(", "list_cosine_similarity", "WITH RECURSIVE", "AS MATERIALIZED")
  /** (path under src/main/scala/graft, token) pairs an engine literal
    * may hold; none today. */
  private val allowed = Set.empty[(String, String)]

  private def walk(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
    else if (f.getName.endsWith(".scala")) Seq(f)
    else Seq.empty

  private def lines(f: java.io.File): Seq[(String, Int)] =
    java.nio.file.Files.readAllLines(f.toPath).toArray
      .map(_.toString).zipWithIndex.toSeq

  private def rel(f: java.io.File): String =
    f.getPath.stripPrefix("src/main/scala/graft/")

  private lazy val engineFiles: Seq[java.io.File] = {
    val files = engineDirs.flatMap { d =>
      val dir = new java.io.File(s"src/main/scala/graft/$d")
      assert(dir.isDirectory, s"$dir is missing — update the scanned list")
      walk(dir)
    }
    assert(files.size >= 30, s"only ${files.size} files scanned")
    files
  }

  private val literal = "\"(?:[^\"\\\\]|\\\\.)*\"".r

  test("no engine file names graft.oracle or defines an oracle map") {
    val oracleMap = "\\b(val|def|lazy val) oracle\\b".r
    val hits = for {
      f <- engineFiles
      (line, i) <- lines(f)
      if line.contains("graft.oracle") || oracleMap.findFirstIn(line).nonEmpty
    } yield s"${rel(f)}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, s"reference code in the engine: ${hits.mkString("; ")}")
  }

  test("no engine string literal holds a DuckDB-only token") {
    val hits = for {
      f <- engineFiles
      (line, i) <- lines(f)
      t = line.trim
      if !(t.startsWith("*") || t.startsWith("//") || t.startsWith("/*"))
      lit <- literal.findAllIn(line).toSeq
      tok <- duckdbOnly
      if lit.toUpperCase.contains(tok.toUpperCase) && !allowed((rel(f), tok))
    } yield s"${rel(f)}:${i + 1}: $tok"
    assert(hits.isEmpty, s"DuckDB SQL in engine literals: ${hits.mkString("; ")}")
  }

  test("the oracle package holds the reference the scans look for") {
    val oracle = walk(new java.io.File("src/main/scala/graft/oracle"))
    val text = oracle.map(f => lines(f).map(_._1).mkString("\n")).mkString("\n")
    duckdbOnly.foreach(tok => assert(text.contains(tok), s"no $tok in graft.oracle"))
  }

  test("the session gap and the probe size each have one home") {
    val all = walk(new java.io.File("src/main"))
    val gap = for {
      f <- all; (line, i) <- lines(f) if line.contains("300000000")
    } yield s"${f.getPath}:${i + 1}"
    assert(gap.size === 1, s"session gap written ${gap.size} times: ${gap.mkString("; ")}")
    val bareProbe = "probeN: Long = 100\\b".r
    val probes = for {
      f <- all; (line, i) <- lines(f) if bareProbe.findFirstIn(line).nonEmpty
    } yield s"${f.getPath}:${i + 1}"
    assert(probes.isEmpty, s"bare probe-size defaults: ${probes.mkString("; ")}")
  }
}
