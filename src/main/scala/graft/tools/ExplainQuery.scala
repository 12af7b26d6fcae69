package graft.tools

import graft.SparkEntry

/** Plan-audit helper: `runMain graft.tools.ExplainQuery <sfDir> <q1,q2,…>`
  * prints each named query's formatted physical plan — the per-round
  * "is this the plan you'd want" check without editing a spec. */
object ExplainQuery {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args(1).split(",").toSeq
    val spark = graft.Sessions.local()
    try names.foreach { n =>
      println(s"\n===== $n =====")
      println(SparkEntry.queries(n)(spark, dir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    } finally spark.stop()
  }
}
