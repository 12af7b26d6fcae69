package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Set operators — SURVEY §2.7. The reference only concatenates per-state
  * collections (`/root/reference/CensusDataFetch.py:121-139`), the moral
  * UNION ALL; intersect/except are Catalyst built-ins demonstrated here.
  */
object Sets {

  /** UNION ALL by column name over schema-aligned projections. */
  def unionByNameQ(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
      .select(col("c_name").as("name"), col("c_acctbal").as("acctbal"),
              lit("customer").as("src"))
    val s = Tables.supplier(spark, dir)
      .select(lit("supplier").as("src"), col("s_acctbal").as("acctbal"),
              col("s_name").as("name")) // shuffled order: unionByName aligns
    c.unionByName(s)
      .groupBy("src")
      .agg(count(lit(1)).as("n"), Num.rnd(avg("acctbal"), 2).as("avg_bal"))
      .orderBy("src")
  }

  /** INTERSECT (distinct semantics) on key projections. */
  def intersectQ(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select(col("c_nationkey").as("nkey"))
    val s = Tables.supplier(spark, dir).select(col("s_nationkey").as("nkey"))
    c.intersect(s).orderBy("nkey")
  }

  /** EXCEPT (distinct semantics): BUILDING-segment customers who placed no
    * order in 1998 — two key projections that genuinely differ, so the
    * oracle check is non-vacuous (77 rows at sf0.01). */
  def exceptQ(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("k"))
    val o = Tables.orders(spark, dir)
      .filter(year(col("o_orderdate")) === 1998)
      .select(col("o_custkey").as("k"))
    c.except(o).orderBy("k")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "union_by_name" -> unionByNameQ _,
    "set_intersect" -> intersectQ _,
    "set_except"    -> exceptQ _)
}
