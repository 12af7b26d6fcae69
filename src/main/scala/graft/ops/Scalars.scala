package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scalar-function operators — SURVEY §2.8 (F1–F10).
  *
  * All row-wise logic is built-in `Column` expressions (codegen'd), never
  * UDFs — the reference's Python lambdas (`CensusDataFetch.py:45-75`)
  * become `when`/`coalesce`/`cast` so Catalyst can optimize through them.
  * Per-row double math is bit-identical across engines (IEEE), so these
  * may round at any precision.
  */
object Scalars {

  /** F1+F2+F3: cast + divide + round — the reference's
    * `price_per_sqft = Num.rnd(price/house_size, 2)`
    * (`/root/reference/real_estate_etl_job.py:158-163`). l_quantity ≥ 1
    * in the testdata; the div-by-zero edge (Spark Double → Infinity,
    * reference-faithful) is pinned in ScalarsSpec, not here (DuckDB
    * yields NULL for double/0 — not oracle-comparable). */
  def derive(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
              Num.rnd(col("l_extendedprice").cast("double") / col("l_quantity"), 2)
                .as("price_per_unit"))

  /** F7+P10: sentinel→null then `or 0`-style coalesce aggregation —
    * value ≤ 10 plays the census sentinel (`CensusDataFetch.py:45-50`). */
  def sentinelNull(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("v", when(col("value") > 10, col("value")))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_total"),
           count(col("v")).as("n_valid"),
           Num.rnd(sum(coalesce(col("v"), lit(0.0))), 2).as("sum_v"))
      .orderBy("event_type")

  /** F5: ratio-to-percent with zero-denominator guard → 0
    * (`CensusDataFetch.py:58-63`). */
  def ratioPct(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n"),
           count(when(col("c_acctbal") > 5000, 1)).as("n_hi"))
      .withColumn("pct_hi",
        when(col("n") > 0, Num.rnd(lit(100.0) * col("n_hi") / col("n"), 1))
          .otherwise(lit(0.0)))
      .orderBy("c_nationkey")

  /** CASE bucketing (multi-branch when). */
  def caseBucket(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .withColumn("bucket",
        when(col("o_totalprice") < 50000, "small")
          .when(col("o_totalprice") < 200000, "medium")
          .otherwise("large"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), Num.rnd(avg("o_totalprice"), 2).as("avg_price"))
      .orderBy("bucket")

  /** F10 analog: JSON field extraction from a string column. */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"),
              get_json_object(col("props"), "$.k").cast("int").as("k"))

  /** Datetime scalar functions (beyond reference — it never parses dates,
    * SURVEY §1.2; ours treats time as first-class). */
  def datetime(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"),
              hour(col("ts")).as("h"),
              dayofmonth(col("ts")).as("dom"),
              date_format(col("ts"), "yyyy-MM-dd").as("day"))

  /** String scalar functions (upper/substring/length/concat_ws). */
  def strings(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select(col("c_custkey"),
              upper(col("c_name")).as("uname"),
              substring(col("c_name"), 1, 8).as("prefix"),
              length(col("c_name")).as("name_len"),
              concat_ws("-", col("c_mktsegment"), col("c_nationkey")).as("seg_key"))

  /** Math scalar suite: abs/ceil/floor/sqrt/exp-of-log/power — per-row
    * IEEE doubles, bit-identical across engines. */
  def mathSuite(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select(col("c_custkey"),
              abs(col("c_acctbal")).as("abs_bal"),
              ceil(col("c_acctbal")).as("ceil_bal"),
              floor(col("c_acctbal")).as("floor_bal"),
              Num.rnd(sqrt(abs(col("c_acctbal"))), 6).as("sqrt_bal"),
              Num.rnd(pow(col("c_acctbal") / 10000.0, 2), 6).as("sq_norm"),
              signum(col("c_acctbal")).as("sign_bal"))

  /** Array + higher-order functions: per-order quantity vector (sorted
    * collect for determinism) → size / element_at / filter / aggregate.
    * Array stays internal; outputs are scalars so the oracle compare is
    * type-robust. */
  def arraySuite(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_orderkey")
      .agg(sort_array(collect_list(col("l_quantity"))).as("qs"))
      .select(col("l_orderkey"),
              size(col("qs")).as("n_items"),
              element_at(col("qs"), 1).as("min_q"),
              element_at(col("qs"), -1).as("max_q"),
              size(filter(col("qs"), q => q >= 25)).as("n_big"),
              Num.rnd(aggregate(col("qs"), lit(0.0), (acc, q) => acc + q), 2)
                .as("sum_q"))
      .orderBy("l_orderkey")

  /** explode_outer null semantics — the one the plain explode
    * (scalar_array) cannot show: rows whose array is NULL survive with a
    * null element instead of vanishing. Losing them silently is the
    * classic flatten bug (short docs dropped from a chunk pipeline).
    * The oracle emulates outer-unnest by substituting [NULL] for the
    * missing array before DuckDB's inner unnest. */
  def explodeOuter(spark: SparkSession, dir: String): DataFrame = {
    val toks = graft.ext.Tokens.wsTokens
    Tables.documents(spark, dir)
      .select(col("doc_id"),
              when(size(toks) >= 50, slice(toks, 1, 3)).as("arr"))
      .select(col("doc_id"),
              explode_outer(col("arr")).as("tok"),
              col("arr").isNotNull.cast("int").as("had_array"))
  }

  /** Date arithmetic (beyond reference — it never parses dates): day
    * difference, offset, year/quarter extraction. Dates emitted as
    * formatted strings for engine-neutral compare. */
  def dateArith(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderkey"),
              datediff(to_timestamp(lit("2002-01-01 00:00:00")), col("o_orderdate"))
                .as("days_to_2002"),
              date_format(date_add(col("o_orderdate"), 30), "yyyy-MM-dd")
                .as("plus_30d"),
              year(col("o_orderdate")).as("yr"),
              quarter(col("o_orderdate")).as("qtr"))

  /** Map-typed column functions — the §2.8 'map' slot: construct
    * (`map`), cardinality (`size`), keyed lookup (`element_at`), and
    * relational flattening (`explode` → key/value rows). The oracle
    * reproduces the exploded rows as a UNION ALL — engine-neutral long
    * form, no MAP type needed on the DuckDB side. */
  def mapSuite(spark: SparkSession, dir: String): DataFrame = {
    val m = map(lit("price"), col("o_totalprice"),
                lit("cust"), col("o_custkey").cast("double"))
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), m.as("m"))
      .select(col("o_orderkey"),
              size(col("m")).as("n_entries"),
              element_at(col("m"), "price").as("price_val"),
              explode(col("m"))) // -> key, value columns
  }

  /** Z-order (Morton) key: interleave the low 8 bits of two dimensions —
    * the multi-dimensional clustering key for data-skipping layouts.
    * `df.repartitionByRange(col("zval")).sortWithinPartitions("zval")`
    * before a parquet write co-locates rows that are near in BOTH dims,
    * so row-group min/max stats prune scans filtered on either column
    * (the Delta/Iceberg OPTIMIZE ZORDER technique, computed in-plan).
    * Pure bit arithmetic: codegen'd, zero shuffle, exact cross-engine. */
  /** 16-bit Morton key from two 8-bit dims (bit-interleave; codegen'd). */
  def mortonKey(zx: Column, zy: Column): Column =
    (0 until 8).map { i =>
      shiftleft(shiftright(zx, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(zy, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)

  def zorder(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
              (col("l_partkey") % 256).cast("long").as("zx"),
              (col("l_suppkey") % 256).cast("long").as("zy"))
      .withColumn("zval", mortonKey(col("zx"), col("zy")))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "scalar_zorder"        -> zorder _,
    "scalar_map"           -> mapSuite _,
    "scalar_date_arith"    -> dateArith _,
    "scalar_array"         -> arraySuite _,
    "scalar_explode_outer" -> explodeOuter _,
    "scalar_math"          -> mathSuite _,
    "scalar_derive"        -> derive _,
    "scalar_sentinel_null" -> sentinelNull _,
    "scalar_ratio_pct"     -> ratioPct _,
    "scalar_case_bucket"   -> caseBucket _,
    "scalar_json"          -> jsonExtract _,
    "scalar_datetime"      -> datetime _,
    "scalar_string"        -> strings _)
}
