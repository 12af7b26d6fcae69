package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Flagship multi-join analytics — the Athena-layer questions the
  * reference implies (`README.md:30` "price vs income/education by
  * state/ZIP") expressed as TPC-H-shaped plans that exercise the
  * optimizer end-to-end: join ordering, broadcast selection, partial
  * aggregation, top-k lowering.
  */
object Analytics {

  /** Q3-shaped: revenue top-10 for a segment in a date window.
    * 3-way join (customer ⋈ orders ⋈ lineitem) + group + ordered limit —
    * Catalyst broadcasts the filtered customer side at this scale; at
    * 100 TB AQE picks shuffle strategy per stats. */
  def q3TopK(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < to_timestamp(lit("1998-01-01 00:00:00")))
    val l = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") > to_timestamp(lit("1997-01-01 00:00:00")))
    c.join(o, c("c_custkey") === o("o_custkey"))
      .join(l, o("o_orderkey") === l("l_orderkey"))
      .groupBy(l("l_orderkey"),
               date_format(o("o_orderdate"), "yyyy-MM-dd").as("odate"),
               o("o_orderpriority"))
      .agg(Num.rnd(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
             .as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)
  }

  /** Q5-shaped: revenue by nation where the supplying and buying nations
    * match, restricted to one region. 6-table join tree. */
  def q5RegionVolume(spark: SparkSession, dir: String): DataFrame = {
    val r = Tables.region(spark, dir).filter(col("r_name") === "ASIA")
    val n = Tables.nation(spark, dir)
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    val l = Tables.lineitem(spark, dir)
    val s = Tables.supplier(spark, dir)
    c.join(o, c("c_custkey") === o("o_custkey"))
      .join(l, o("o_orderkey") === l("l_orderkey"))
      .join(s, l("l_suppkey") === s("s_suppkey") &&
               c("c_nationkey") === s("s_nationkey"))
      .join(n, s("s_nationkey") === n("n_nationkey"))
      .join(r, n("n_regionkey") === r("r_regionkey"))
      .groupBy(n("n_name"))
      .agg(Num.rnd(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
             .as("revenue"))
      .orderBy(col("revenue").desc, col("n_name").asc)
  }

  /** Q18-shaped: large-quantity orders — a HAVING aggregate that SHRINKS
    * the fact table first (rare heavy orders), then enrich joins against
    * orders/customer move almost nothing. The agg-before-join ordering is
    * the 100 TB discipline: the alternative (join first, filter later)
    * shuffles the whole lineitem×orders product. */
  def q18LargeOrders(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(spark, dir)
      .groupBy("l_orderkey")
      .agg(sum("l_quantity").as("total_qty"))
      .filter(col("total_qty") > 300)
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    o.join(big, o("o_orderkey") === big("l_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
              date_format(col("o_orderdate"), "yyyy-MM-dd").as("odate"),
              col("o_totalprice"),
              Num.rnd(col("total_qty"), 2).as("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(20)
  }

  /** Correlation analytic — the literal question the reference's Athena
    * layer exists to answer (`/root/reference/README.md:30` "does price
    * correlate with income, education, unemployment"), expressed over the
    * fact columns: per-group Pearson correlation, sample covariance, and
    * the least-squares slope. All three are one-pass streaming co-moment
    * aggregates (partial+final merge, one shuffle by group key) — the
    * shape that scales to 100 TB, unlike a materialize-and-regress pass.
    *
    * Float discipline: corr/slope are O(1)-conditioned ratios of
    * co-moments (no catastrophic cancellation in either engine's
    * streaming update), so fp disagreement between Spark's and DuckDB's
    * accumulation orders is ~1e-12 absolute — rounding at 6 dp has ≥1e5×
    * margin. covar_samp is a co-moment over n (not a raw big sum), error
    * ~1e-9 at sf scales — 4 dp is safe (the CLAUDE.md big-sum rule
    * applies to un-normalized Σ of money columns, not per-row means). */
  def corrAnalytic(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
           Num.rnd(corr(col("l_quantity"), col("l_extendedprice")), 6)
             .as("corr_qty_price"),
           Num.rnd(corr(col("l_extendedprice"), col("l_discount")), 6)
             .as("corr_price_disc"),
           Num.rnd(covar_samp(col("l_quantity"), col("l_extendedprice")), 4)
             .as("covar_qty_price"),
           Num.rnd(expr("regr_slope(l_extendedprice, l_quantity)"), 6)
             .as("slope_price_qty"))
      .orderBy("l_returnflag")

  /** Referential-integrity audit across the star schema in one result —
    * the data-quality gate a warehouse load runs before publishing:
    * orphan counts for each FK edge (fact rows whose parent is
    * missing). Each edge is a left-anti count — only join KEYS move,
    * dimensions broadcast where small, and the per-edge aggregates are
    * single scalars unioned into one report. The reference hand-rolls
    * the idea as per-table count assertions
    * (`/root/reference/real_estate_etl_job.py:136-150`); this is the
    * join-level generalization. */
  def refIntegrity(spark: SparkSession, dir: String): DataFrame = {
    // one pass per edge (J3's count(col)-skips-nulls idiom): left join
    // onto distinct parent keys, orphans = rows with no hit — total and
    // orphan counts come from the same aggregate, nothing runs eagerly
    def orphans(fact: DataFrame, fk: String, dim: DataFrame, pk: String,
                edge: String): DataFrame =
      fact.select(col(fk).as("k"))
        .join(dim.select(col(pk).as("k"), lit(1).as("hit")).distinct(),
              Seq("k"), "left")
        .agg(count(lit(1)).as("n_rows"),
             (count(lit(1)) - count(col("hit"))).as("n_orphans"))
        .select(lit(edge).as("fk_edge"), col("n_orphans"), col("n_rows"))
    val l = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val s = Tables.supplier(spark, dir)
    orphans(l, "l_orderkey", o, "o_orderkey", "lineitem->orders")
      .unionByName(orphans(l, "l_suppkey", s, "s_suppkey", "lineitem->supplier"))
      .unionByName(orphans(o, "o_custkey", c, "c_custkey", "orders->customer"))
      .unionByName(orphans(c, "c_nationkey", n, "n_nationkey", "customer->nation"))
      .orderBy("fk_edge")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "audit_referential" -> refIntegrity _,
    "q3_topk"          -> q3TopK _,
    "q5_region_volume" -> q5RegionVolume _,
    "q18_large_orders" -> q18LargeOrders _,
    "agg_corr"         -> corrAnalytic _)
}
