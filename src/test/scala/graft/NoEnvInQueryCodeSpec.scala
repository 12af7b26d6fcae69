package graft

import org.scalatest.funsuite.AnyFunSuite

/** Query code takes its inputs from its arguments, never from the
  * process environment: an env or system-property read under the query
  * packages would let a shell variable change results that the oracles
  * and memo keys know nothing about. Only the mains (Bench, Verify,
  * tools) and [[Sessions]] may read the environment. */
class NoEnvInQueryCodeSpec extends AnyFunSuite {

  private val queryDirs =
    Seq("ops", "ext", "functions", "pipeline", "streaming", "sources")
  private val reads = Seq("sys.env", "System.getenv", "sys.props")

  private def walk(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
    else if (f.getName.endsWith(".scala")) Seq(f)
    else Seq.empty

  test("no sys.env, System.getenv or sys.props under the query packages") {
    val files = queryDirs.flatMap { d =>
      val dir = new java.io.File(s"src/main/scala/graft/$d")
      assert(dir.isDirectory, s"$dir is missing — update the scanned list")
      walk(dir)
    }
    assert(files.size >= 30, s"only ${files.size} files scanned")
    val hits = for {
      f <- files
      (line, i) <- java.nio.file.Files.readAllLines(f.toPath).toArray
        .map(_.toString).zipWithIndex.toSeq
      r <- reads if line.contains(r)
    } yield s"${f.getPath}:${i + 1}: $r"
    assert(hits.isEmpty, s"environment reads in query code: ${hits.mkString("; ")}")
  }
}
