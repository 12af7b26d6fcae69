package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Join operators — SURVEY §2.3 (J1–J3) plus the semi/anti joins the
  * reference hand-rolls via collect+isin.
  *
  * J1 is the reference's centerpiece: a broadcast left-outer equi-join of
  * listings onto census rows (`/root/reference/real_estate_etl_job.py:130-134`).
  * At 100 TB only the dimension side may broadcast; the fact side never
  * moves — exactly what `broadcast(dim)` + Catalyst's
  * BroadcastHashJoinExec gives.
  */
object Joins {

  /** J1: broadcast left-outer equi-join, small dimension broadcast. */
  def broadcastLeft(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"), "left")
      .select(c("c_custkey"), c("c_name"), n("n_name"))
  }

  /** J2 (idiomatic): left-semi join — the scale-safe form of the
    * reference's collect+isin coverage filter (`real_estate_etl_job.py:41,96`).
    * No hint: `orders` is a fact table, so a forced broadcast would OOM the
    * driver at scale. Left-semi only moves the join key; AQE picks BHJ vs
    * SMJ from runtime stats. */
  def semiJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir).select(col("o_custkey").as("c_custkey"))
    c.join(o, Seq("c_custkey"), "left_semi")
      .select("c_custkey", "c_mktsegment")
  }

  /** Left-anti join: customers with no high-value order (NOT EXISTS over a
    * filtered fact side — survivors exist at every SF, so the oracle check
    * is non-vacuous). No broadcast hint, same rationale as [[semiJoin]]. */
  def antiJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
      .filter(col("o_totalprice") > 300000)
      .select(col("o_custkey").as("c_custkey"))
    c.join(o, Seq("c_custkey"), "left_anti")
      .select("c_custkey", "c_name")
  }

  /** Right-outer join: all nations kept even when no customer matches the
    * segment filter — the dimension-completeness report shape (the LEFT
    * form from the dimension side; Catalyst plans both identically, but
    * the API/semantics row deserves its own verified entry). Nulls on
    * the unmatched side are the signal. */
  def rightOuter(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"), col("c_nationkey"))
    val n = Tables.nation(spark, dir)
    c.join(n, c("c_nationkey") === n("n_nationkey"), "right_outer")
      .groupBy(col("n_nationkey"), col("n_name"))
      .agg(count(col("c_custkey")).as("n_building"))
      .orderBy("n_nationkey")
  }

  /** Fact-to-fact equi-join + aggregation (revenue per order priority).
    * Shuffle join on the key both sides need anyway; AQE picks the
    * physical strategy at runtime. */
  def innerAgg(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(Num.rnd(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
             .as("revenue"),
           count(lit(1)).as("n_items"))
      .orderBy("o_orderpriority")
  }

  /** J3: join-quality audit in ONE pass (`count(col)` ignores nulls) —
    * the reference runs two separate count() jobs
    * (`real_estate_etl_job.py:136-150`); we fold them into one agg. */
  def matchRate(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"), "left")
      .agg(count(lit(1)).as("total"),
           count(n("n_name")).as("matched"),
           Num.rnd(lit(100.0) * count(n("n_name")) / count(lit(1)), 2)
             .as("match_pct"))
  }

  /** P2: ambiguity-resolving projection — both sides expose `name` and
    * `nkey`; select the LEFT one via parent-DF column reference, the
    * reference's idiom at `real_estate_etl_job.py:181`. */
  def ambiguousProj(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey").as("nkey"),
              col("c_name").as("name"))
    val r = Tables.supplier(spark, dir)
      .select(col("s_suppkey"), col("s_nationkey").as("nkey"),
              col("s_name").as("name"))
    l.join(r, l("nkey") === r("nkey"))
      .select(l("c_custkey"), l("name"), r("s_suppkey"))
  }

  /** Null-safe equi-join (`<=>`): null keys MATCH null keys — the
    * semantics `=` silently drops. Keys are derived with a null-producing
    * bucketing so both sides carry genuine nulls. */
  def nullSafeJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
      .withColumn("k", when(col("c_nationkey") % 5 === 0, lit(null))
        .otherwise(col("c_nationkey") % 5))
    val d = Tables.nation(spark, dir)
      .withColumn("k", when(col("n_nationkey") % 5 === 0, lit(null))
        .otherwise(col("n_nationkey") % 5))
      .select(col("k"), col("n_nationkey"))
    c.join(d, c("k") <=> d("k"))
      .groupBy(c("k").as("k"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("k").asc_nulls_first)
  }

  /** Banded numeric join via bucketing — |a.x − b.x| <= eps as an
    * EQUI-join: a naive theta join is O(n²) (Catalyst can only nested-
    * loop it); bucketing x by floor(x/eps) and exploding one side to its
    * 3 adjacent buckets finds every in-band pair exactly once (the pair's
    * bucket delta ∈ {-1,0,1} matches exactly one explode branch, so no
    * dedup pass), then the exact predicate confirms. Shuffle-by-bucket =
    * the 100 TB shape; fan-out bounded by band occupancy. The oracle is
    * the plain theta join — bucketing only generates a candidate
    * superset, so the result is definitionally identical. */
  def bandJoin(spark: SparkSession, dir: String): DataFrame = {
    val eps = 1.0
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("x"))
    val bkt = floor(col("x") / eps).cast("long")
    val a = o.select(col("k").as("a_k"), col("x").as("a_x"),
                     explode(array(bkt - 1, bkt, bkt + 1)).as("bk"))
    val b = o.select(col("k").as("b_k"), col("x").as("b_x"), bkt.as("bk"))
    a.join(b, Seq("bk"))
      .filter(col("a_k") < col("b_k") && abs(col("a_x") - col("b_x")) <= eps)
      .select(col("a_k"), col("b_k"), col("a_x"), col("b_x"),
              Num.rnd(abs(col("a_x") - col("b_x")), 2).as("diff"))
  }

  /** Runtime Bloom-filter pruned fact-dim join — the shuffle-reduction
    * pattern a 100 TB star join lives on: the filtered dimension side
    * (selective predicate on `orders`) is tree-aggregated into a Bloom
    * filter (`stat.bloomFilter` — one distributed pass, sketch merged at
    * the driver exactly like Spark's own runtime-filter injection), and
    * the fact side (`lineitem`) is pruned by a codegen'd
    * [[graft.functions.BloomMightContain]] probe BEFORE its shuffle, so
    * only ~matching rows ever move. False positives survive the probe
    * but die in the exact equi-join, so the result is definitionally
    * identical to the unfiltered join — the oracle IS the plain join.
    * Construction is deliberately eager (the bloom build is a job), the
    * same documented trade as the memoized dedup frames. */
  def bloomPruneJoin(spark: SparkSession, dir: String): DataFrame = {
    val dim = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT" &&
              col("o_totalprice") > 150000)
      .select(col("o_orderkey"), col("o_orderdate"))
    // capacity sized from the actual filtered-dim cardinality (memoized
    // count — the same cheap scan the bloom build runs): a fixed 1<<17
    // silently degrades toward fpp 1 once the dim outgrows it and the
    // pruning becomes a no-op (round-6 advice item 3). 2x headroom,
    // floor 1<<17 (≈115 KB at 3% — broadcast-trivial either way).
    val nDim = graft.ext.CountMemo.get(spark, dir, "orders_urgent_dim")(dim.count())
    val bloom = dim.stat.bloomFilter("o_orderkey", math.max(1L << 17, 2 * nDim), 0.03)
    val fact = Tables.lineitem(spark, dir)
      .filter(graft.functions.BloomMightContain.col(col("l_orderkey"), bloom))
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    fact.join(dim, fact("l_orderkey") === dim("o_orderkey"))
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(Num.rnd(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
             .as("revenue"),
           count(lit(1)).as("n_items"))
      .orderBy("month")
  }

  /** CDC snapshot apply — the MERGE/upsert a warehouse sync runs, as a
    * pure-plan full-outer join (Spark core has no MERGE statement; this
    * IS the distributed shape Delta/Iceberg MERGE lowers to). The change
    * log is `events`: latest change per key wins (max event_id = log
    * sequence number — deliberately NOT the nanos timestamp, whose
    * micro-truncation could reorder ties cross-engine), value < 50 is
    * the demo's tombstone convention (all four op classes populated at
    * sf0.01: keys shifted +1400 so changes straddle the base key range).
    * Scale shape: one window shuffle compacts the log per key, then one
    * shuffle join on key; both sides stream — no driver materialization,
    * and AQE picks broadcast when the compacted log is small. */
  def cdcUpsert(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Tables.customer(spark, dir)
      .select(col("c_custkey").as("key"),
              col("c_acctbal").cast("double").as("old_val"))
    val w = Window.partitionBy("key").orderBy(col("event_id").desc)
    val upd = Tables.events(spark, dir)
      .select((col("user_id") + 1400).as("key"), col("event_id"), col("value"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("key"), col("value").as("new_val"), lit(1).as("has_upd"))
    base.join(upd, Seq("key"), "full_outer")
      .select(col("key"),
        when(col("has_upd").isNull, lit("keep"))
          .when(col("new_val") < 50.0, lit("delete"))
          .when(col("old_val").isNull, lit("insert"))
          .otherwise(lit("update")).as("op"),
        when(col("has_upd").isNotNull && col("new_val") < 50.0, lit(null))
          .otherwise(Num.rnd(coalesce(col("new_val"), col("old_val")), 2))
          .as("val"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cdc_upsert"          -> cdcUpsert _,
    "join_bloom_prune"    -> bloomPruneJoin _,
    "join_band_bucket"    -> bandJoin _,
    "join_null_safe"      -> nullSafeJoin _,
    "join_broadcast_left" -> broadcastLeft _,
    "semi_join"           -> semiJoin _,
    "anti_join"           -> antiJoin _,
    "join_right_outer"    -> rightOuter _,
    "join_inner_agg"      -> innerAgg _,
    "join_match_rate"     -> matchRate _,
    "join_ambiguous_proj" -> ambiguousProj _)
}
