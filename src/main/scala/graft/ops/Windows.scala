package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window operators — SURVEY §2.5 (W1) and §2.6 (O1–O2), plus the
  * ranking/analytic extensions (lag, running sum) Spark gives built-in.
  *
  * W1 is the reference's only non-trivial algorithm: stratified sampling
  * via `row_number() OVER (PARTITION BY state ORDER BY rand(42))`
  * (`/root/reference/real_estate_etl_job.py:112-115`). `rand(seed)` is
  * seeded per-partition, so results depend on input partitioning
  * (SURVEY §2.5 determinism caveat) — the oracle-checked variant orders
  * by a multiplicative-hash of the key instead: same shape (shuffle by
  * group, per-group sort, top-k), deterministic everywhere.
  */
object Windows {

  /** W1 oracle-safe: stratified top-100-per-group under a deterministic
    * pseudo-random order (Knuth multiplicative hash of the key —
    * expressible identically in ANSI SQL). */
  def sampleStratified(spark: SparkSession, dir: String): DataFrame = {
    // pre-mod bounds the product < 2^63: Long can't overflow, so this
    // survives huge keys under ANSI (overflow THROWS in Spark 4) and in
    // DuckDB (BIGINT overflow errors); identical values for keys < 2^31
    val ord = pmod(pmod(col("c_custkey"), lit(2147483648L)) * lit(2654435761L),
                   lit(1000003L))
    val w = Window.partitionBy("c_mktsegment").orderBy(ord, col("c_custkey"))
    Tables.customer(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 100)
      .drop("rn")
      .select("c_custkey", "c_mktsegment")
  }

  /** W1 parity demo: the reference's literal seeded-rand sampler. Not
    * oracle-checkable (rand(42) is partitioning-dependent); row COUNT is
    * deterministic: min(100, group size) per group. */
  def sampleRand(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("c_mktsegment").orderBy(rand(42))
    Tables.customer(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 100)
      .drop("rn")
  }

  /** O2 generalized: top-k rows per group by value (k=5 by acctbal). */
  def topkPerGroup(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    Tables.customer(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select("c_mktsegment", "c_custkey", "c_acctbal", "rn")
  }

  /** Analytic functions: lag + row_number per customer order history. */
  def lagRank(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    Tables.orders(spark, dir)
      .withColumn("rn", row_number().over(w))
      .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
      .select("o_orderkey", "o_custkey", "rn", "prev_price")
  }

  /** Frame-spec window: running sum per customer (rows unbounded
    * preceding → current). Deterministic accumulation order → exact. */
  def runningSum(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, dir)
      .withColumn("running_spend", Num.rnd(sum("o_totalprice").over(w), 2))
      .select("o_orderkey", "o_custkey", "running_spend")
  }

  /** RANGE-frame window (value-distance peers, vs the row-count frames
    * above): per priority, how many orders fall within ±1000 of this
    * order's price. Peers are defined by VALUE distance — ties share
    * the frame, which ROWS frames cannot express. Ordering key is
    * floor(price) cast to long on BOTH engines (DuckDB's double→int
    * CAST rounds where Spark's truncates — floor first sidesteps it). */
  def rangeFrame(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("p").asc)
      .rangeBetween(-1000L, 1000L)
    Tables.orders(spark, dir)
      .withColumn("p", floor(col("o_totalprice")).cast("long"))
      .withColumn("n_near", count(lit(1)).over(w))
      .select("o_orderkey", "o_orderpriority", "p", "n_near")
  }

  /** O1+O2: global top-k — orderBy+limit lowers to
    * TakeOrderedAndProjectExec (no full global sort at scale). */
  def sortLimit(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)
      .select("o_orderkey", "o_custkey", "o_totalprice")

  /** Per-group top-k via the typed `TopKAggregator` — map-side-combined
    * bounded buffers instead of a full per-group shuffle+sort (the scale
    * shape for k ≪ group size; see functions/TopKAggregator). Result is
    * provably identical to the window form (same oracle shape). */
  def topkAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ds = Tables.customer(spark, dir)
      .select(col("c_mktsegment"), col("c_acctbal"), col("c_custkey"))
      .as[(String, Double, Long)]
    val top = new graft.functions.TopKAggregator(5).toColumn
    ds.groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(top.name("ids"))
      .toDF("c_mktsegment", "ids")
      .select(col("c_mktsegment"),
              posexplode(col("ids")).as(Seq("pos", "c_custkey")))
      .select(col("c_mktsegment"), col("c_custkey"),
              (col("pos") + 1).cast("int").as("rn"))
  }

  /** Ranking-function suite: rank/dense_rank/ntile/percent_rank/cume_dist
    * in one window pass (all Catalyst built-ins; doubles are ratios of
    * identical ints — bit-stable across engines). */
  def rankingSuite(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    Tables.customer(spark, dir)
      .select(col("c_mktsegment"), col("c_custkey"),
              rank().over(w).as("rnk"),
              dense_rank().over(w).as("drnk"),
              ntile(4).over(w).as("quartile"),
              Num.rnd(percent_rank().over(w), 6).as("pct_rank"),
              Num.rnd(cume_dist().over(w), 6).as("cdist"))
  }

  /** first/last/nth value over a full-partition frame. */
  def firstLast(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"),
              first(col("o_totalprice")).over(w).as("first_price"),
              last(col("o_totalprice")).over(w).as("last_price"),
              nth_value(col("o_totalprice"), 2).over(w).as("second_price"))
  }

  /** Cumulative DISTINCT count over a window — the standard workaround
    * idiom (COUNT(DISTINCT) OVER is unsupported on both engines):
    * flag each (user, event_type)'s FIRST occurrence with one ranking
    * window, then a running sum of the flag under the same per-user
    * order = "distinct event types seen so far" per event. Behavioral
    * breadth as a curve, per event row; two windows on different keys
    * ((user, type) then user) — two exchanges is the honest cost of
    * the idiom, both on bounded per-user slices. */
  def cumDistinct(spark: SparkSession, dir: String): DataFrame = {
    val wFirst = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts").asc, col("event_id").asc)
    val wRun = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    graft.Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("is_first",
        (row_number().over(wFirst) === 1).cast("long"))
      .withColumn("n_types_seen", sum("is_first").over(wRun))
      .select(col("user_id"), col("event_id"),
              col("is_first").cast("int").as("is_first"),
              col("n_types_seen"))
      .orderBy("user_id", "event_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "window_cum_distinct"      -> cumDistinct _,
    "window_first_last"        -> firstLast _,
    "window_ranking_suite"     -> rankingSuite _,
    "window_topk_agg"          -> topkAgg _,
    "window_sample_stratified" -> sampleStratified _,
    "window_sample_rand"       -> sampleRand _,
    "window_topk_per_group"    -> topkPerGroup _,
    "window_lag_rank"          -> lagRank _,
    "window_running_sum"       -> runningSum _,
    "window_range_frame"       -> rangeFrame _,
    "sort_limit"               -> sortLimit _)
}
