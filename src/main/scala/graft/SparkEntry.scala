package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops.Num
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the operator inventory (one named query per SURVEY §2
  * row, plus the LLM-data-pipeline extensions); `oracleSql` holds the
  * DuckDB-equivalent ANSI SQL for every oracle-checkable query. Names
  * are aliased identically on both sides (the driver sorts columns by
  * name before hashing).
  */
object SparkEntry {

  /** Flagship: the reference's analytical spine in miniature —
    * scan → filter → broadcast-left-join → group-agg → sort
    * (`/root/reference/real_estate_etl_job.py:64-191`, SURVEY §7.2). */
  def flagship(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    c.filter(col("c_mktsegment").isin("BUILDING", "AUTOMOBILE", "MACHINERY"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"), "left")
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_customers"),
           Num.rnd(avg("c_acctbal"), 2).as("avg_acctbal"))
      .orderBy("n_name")
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    flagship(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map[String, (SparkSession, String) => DataFrame]("flagship" -> flagship _) ++
      ops.Sources.queries ++
      ops.Filters.queries ++
      ops.Joins.queries ++
      ops.Aggs.queries ++
      ops.Windows.queries ++
      ops.Scalars.queries ++
      ops.Sets.queries ++
      ops.Skew.queries ++
      ops.Analytics.queries ++
      ext.TimeOps.queries ++
      ext.TextOps.queries ++
      ext.Dedup.queries ++
      ext.Similarity.queries ++
      ext.Geo.queries ++
      ext.Graph.queries ++
      ext.Multimodal.queries ++
      ext.Curate.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables, from the [[graft.oracle]] reference
    * objects. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    oracle.Ops.sql ++
      oracle.TimeOps.sql ++
      oracle.TextOps.sql ++
      oracle.Dedup.sql ++
      oracle.Similarity.sql ++
      oracle.Geo.sql ++
      oracle.Graph.sql ++
      oracle.Multimodal.sql ++
      oracle.Curate.sql
}
