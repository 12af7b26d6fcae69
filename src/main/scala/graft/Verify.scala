package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg (local iteration only; the driver passes two):
    // comma-separated query-name prefixes — dump only matching queries
    val nameFilter: String => Boolean =
      if (args.length > 2) { val ps = args(2).split(',').toSeq
                             n => ps.exists(n.startsWith) }
      else _ => true
    val spark = Sessions.local()
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.queries.filter(q => nameFilter(q._1)).toSeq
    val failed = selected.count { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        false
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        true
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // an eviction means a later request rebuilt a memo: say so on the
    // summary, not only as a WARN line
    println(s"[verify] ${selected.size} queries, $failed failed, " +
      s"memo_evictions=${ext.CkptMemo.evictions}")
    spark.stop()
  }
}
