package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare, and plans.json:
  * each query's optimized logical plan with expression ids stripped, so a
  * refactor's "plans unchanged" is a digest diff (scripts/oracle_digests.py
  * against plan_digests.sha256). */
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
    val plans = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val failed = selected.count { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // a plan that cannot be printed is recorded, never fails the query
        plans(name) =
          try planText(df.queryExecution.optimizedPlan.toString)
          catch { case e: Throwable => s"<no plan: ${e.getClass.getName}>" }
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
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
    def json(m: Iterable[(String, String)]): String =
      m.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      json(SparkEntry.oracleSql))
    Files.writeString(Paths.get(s"$outDir/plans.json"), json(plans))
    // an eviction means a later request rebuilt a memo: say so on the
    // summary, not only as a WARN line
    println(s"[verify] ${selected.size} queries, $failed failed, " +
      s"memo_evictions=${ext.CkptMemo.evictions}")
    spark.stop()
  }

  /** A plan string without what changes from run to run at equal plans:
    * expression ids (`#12`, `#12L`), JVM lambda class ids, object
    * identity hashes (`MisraGries@3e2f58f8`), the per-call suffixes of
    * pagerank's edge table and the bucket-cap metric names, and
    * CollectMetrics' dataset ids. The distinct-aggregate rewrite numbers
    * its `gid` groups in expression-id hash order (the hash carries a
    * per-JVM UUID), so a line naming `gid` keeps its sorted items. */
  private[graft] def planText(plan: String): String =
    plan.replaceAll("#\\d+L?", "")
      .replaceAll("\\$Lambda\\$\\d+/0x[0-9a-f]+", "\\$Lambda")
      .replaceAll("(?<=[\\w$])@[0-9a-f]{1,8}\\b", "@")
      .replaceAll("(graft_graph_edges|graft_bucket_cap_\\w+?)_[0-9a-f]+\\b", "$1")
      .replaceAll("(?m)^(.*CollectMetrics .*), \\d+$", "$1")
      .linesIterator.map { l =>
        val i = l.indexOf('[')
        if (!l.matches(".*\\bgid\\b.*") || i < 0) l
        else l.take(i) + l.drop(i).replaceAll("\\d+", "?")
          .split("[\\[\\], ]+").sorted.mkString(" ")
      }.mkString("\n")
}
