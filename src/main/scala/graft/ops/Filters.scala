package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Filter / predicate operators — SURVEY §2.2 (P5–P10).
  *
  * The reference's predicates: IN-list on state
  * (`/root/reference/real_estate_etl_job.py:64-65`), conjunctive NOT NULL
  * (`:79-85`), driver-collected IN-list semi-join (`:41,96`), comparison
  * on a window output (`:115`), sentinel→null (`CensusDataFetch.py:45-50`).
  */
object Filters {

  /** P5: IN-list predicate (the reference's 3-state filter). */
  def isinFilter(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .filter(col("c_mktsegment").isin("BUILDING", "AUTOMOBILE"))
      .select("c_custkey", "c_name", "c_mktsegment")

  /** P6+P10: sentinel→null normalization then conjunctive NOT NULL.
    * `l_discount = 0` plays the census sentinel role; the `when` without
    * `otherwise` yields null exactly like `safe_int` → None. */
  def notNullFilter(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .withColumn("disc_n", when(col("l_discount") > 0, col("l_discount")))
      .filter(col("disc_n").isNotNull && col("l_quantity").isNotNull)
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  /** P8: range comparison predicates (timestamp + numeric between). */
  def rangeFilter(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= to_timestamp(lit("1997-01-01 00:00:00")) &&
              col("l_shipdate") <  to_timestamp(lit("1999-01-01 00:00:00")) &&
              col("l_quantity").between(10, 20))
      .groupBy("l_linestatus").agg(count(lit(1)).as("n"))
      .orderBy("l_linestatus")

  /** P7 literal parity: collect a bounded distinct key list to the driver,
    * filter with `isin` — the reference's manual semi-join
    * (`real_estate_etl_job.py:41,96`). Bounded by design (≤25 nations);
    * the scale-safe idiom is Joins.semiJoin. */
  def semiIsin(spark: SparkSession, dir: String): DataFrame = {
    val keys = Tables.nation(spark, dir)
      .filter(col("n_regionkey").isin(0, 1))
      .select("n_nationkey").distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    Tables.customer(spark, dir)
      .filter(col("c_nationkey").isin(keys: _*))
      .groupBy("c_nationkey").agg(count(lit(1)).as("n"))
      .orderBy("c_nationkey")
  }

  /** P1: projection with renames — the reference's 18-column aliased
    * select (`real_estate_etl_job.py:172-191`) in miniature. */
  def projAlias(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select(col("c_custkey").as("id"),
              col("c_name").as("customer_name"),
              col("c_acctbal").as("balance"),
              col("c_mktsegment").as("segment"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "filter_isin"    -> isinFilter _,
    "filter_notnull" -> notNullFilter _,
    "filter_range"   -> rangeFilter _,
    "semi_isin"      -> semiIsin _,
    "proj_alias"     -> projAlias _)
}
