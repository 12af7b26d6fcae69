package graft

import org.scalatest.funsuite.AnyFunSuite

/** Two cross-engine rules of the text queries, held by the code rather
  * than by prose:
  *   - one tokenizer: the whitespace split of `text` is written once, in
  *     `ext/Tokens.scala`; every token column, token stream, token count
  *     and word n-gram of the query code reads it from there, so no
  *     query can tokenize differently from its oracle's
  *     `string_split(text, ' ')`;
  *   - one micro-nat log (the ln rule: ln is not IEEE-exactly rounded,
  *     so it is pinned to integer micro-nats before any arithmetic): the
  *     `round(log(...) * 1e6)` form lives only in `Num.lnMicro`. The one
  *     other rounded log is `TextOps.cosinePairs`' tf·idf weight, which
  *     rounds its idf to MILLI-nats (its oracle's `* 1e3`) and stays
  *     separate. The `Num.rnd(log(...), 6)` idf of tfidf and BM25 is a
  *     different rounding and is not matched here. */
class TokenizerLnRuleSpec extends AnyFunSuite {

  private val queryDirs =
    Seq("ops", "ext", "functions", "pipeline", "streaming", "sources")

  private def walk(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
    else if (f.getName.endsWith(".scala")) Seq(f)
    else Seq.empty

  /** (path under src/main/scala/graft, line number) of every line of
    * query code containing `needle`. */
  private def sites(needle: String): Seq[(String, Int)] = {
    val files = queryDirs.flatMap { d =>
      val dir = new java.io.File(s"src/main/scala/graft/$d")
      assert(dir.isDirectory, s"$dir is missing — update the scanned list")
      walk(dir)
    }
    assert(files.size >= 30, s"only ${files.size} files scanned")
    for {
      f <- files
      (line, i) <- java.nio.file.Files.readAllLines(f.toPath).toArray
        .map(_.toString).zipWithIndex.toSeq
      if line.contains(needle)
    } yield (f.getPath.stripPrefix("src/main/scala/graft/"), i + 1)
  }

  test("the whitespace tokenizer split(col(\"text\"), \" \") is written " +
       "only in ext/Tokens.scala") {
    val hits = sites("split(col(\"text\"), \" \")")
    assert(hits.map(_._1) === Seq("ext/Tokens.scala"),
      s"tokenizer written outside Tokens: ${hits.mkString("; ")}")
  }

  test("round(log( lives only in ops/Num.scala, apart from cosinePairs' " +
       "milli-nat weight") {
    val hits = sites("round(log(")
    val allowed = Map("ops/Num.scala" -> 1, "ext/TextOps.scala" -> 1)
    val byFile = hits.groupBy(_._1).map { case (f, hs) => f -> hs.size }
    assert(byFile === allowed,
      s"rounded logs outside Num.lnMicro: ${hits.mkString("; ")}")
    val textOps = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(
      "src/main/scala/graft/ext/TextOps.scala")).toArray.map(_.toString)
    val line = hits.collectFirst { case ("ext/TextOps.scala", n) => n }.get
    val owner = textOps.take(line).reverseIterator
      .find(_.trim.startsWith("def ")).getOrElse("")
    assert(owner.contains("def cosinePairs("),
      s"TextOps' rounded log at line $line is not cosinePairs' weight: $owner")
  }
}
