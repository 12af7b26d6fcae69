package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Aggregation operators — SURVEY §2.4 (A1–A6) plus rollup/count-distinct
  * extensions (SURVEY §2.4 note: Catalyst built-ins, demonstrated here).
  *
  * Float discipline for the DuckDB oracle: sums over 2-dp-grain money
  * columns are rounded to 2 dp — the true decimal sum has 2-dp grain, so
  * accumulated fp error (≪ 0.005) can never flip the rounding even though
  * Spark's partial-agg addition order differs from DuckDB's.
  */
object Aggs {

  /** A1+O1: group-by count, ordered (the reference's per-state
    * distribution report, `/root/reference/real_estate_etl_job.py:70`). */
  def groupbyCount(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      .orderBy("o_orderpriority")

  /** A2/A4/A6 rolled together: global one-row stats in a single pass
    * (vs the reference's 8 separate count() jobs, SURVEY §3.2). */
  def globalStats(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .agg(count(lit(1)).as("n_rows"),
           Num.rnd(sum("l_quantity"), 2).as("sum_qty"),
           Num.rnd(avg("l_extendedprice"), 2).as("avg_price"),
           count(when(col("l_discount") > 0.05, 1)).as("n_highdisc"))

  /** Multi-stat group-by (count/avg/min/max/sum). */
  def groupStats(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n"),
           Num.rnd(avg("c_acctbal"), 2).as("avg_bal"),
           min("c_acctbal").as("min_bal"),
           max("c_acctbal").as("max_bal"),
           Num.rnd(sum("c_acctbal"), 2).as("sum_bal"))
      .orderBy("c_nationkey")

  /** Count-distinct per group (expands to two-phase agg in Catalyst). */
  def countDistinctQ(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_orderkey")).as("n_orders"),
           countDistinct(col("l_partkey")).as("n_parts"))
      .orderBy("l_returnflag")

  /** A3: distinct over a projection. */
  def distinctKeys(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select("o_orderstatus", "o_orderpriority").distinct()

  /** Hierarchical totals via ROLLUP (beyond-reference, Catalyst built-in). */
  def rollupAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .rollup("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"),
           Num.rnd(sum("o_totalprice"), 2).as("sum_price"))

  /** TPC-H Q1-shaped pricing summary — the flagship aggregation. */
  def q1Agg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= to_timestamp(lit("2000-12-01 00:00:00")))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(Num.rnd(sum("l_quantity"), 2).as("sum_qty"),
           Num.rnd(sum("l_extendedprice"), 2).as("sum_base_price"),
           Num.rnd(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
             .as("sum_disc_price"),
           Num.rnd(avg("l_quantity"), 2).as("avg_qty"),
           Num.rnd(avg("l_extendedprice"), 2).as("avg_price"),
           count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** CUBE: all grouping-set combinations (beyond-reference built-in). */
  def cubeAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"))

  /** Arbitrary GROUPING SETS (the general form rollup/cube specialize):
    * per-status totals, per-priority totals, and the grand total in ONE
    * pass — Spark expands the sets into a single Expand + aggregate, one
    * shuffle instead of a UNION ALL of three scans. gid disambiguates
    * which set produced a row (null grouping keys vs null data). */
  def groupingSetsAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupingSets(Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")),
                        Seq()),
                    col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
           (grouping(col("o_orderstatus")) * 2 +
             grouping(col("o_orderpriority"))).cast("int").as("gid"))

  /** PIVOT: status × priority count matrix via conditional aggregation
    * (expressed with explicit pivot columns so the plan is static — the
    * dynamic-pivot variant needs a values scan first). */
  def pivotAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .withColumnsRenamed(Map("F" -> "n_f", "O" -> "n_o", "P" -> "n_p"))
      .orderBy("o_orderpriority")

  /** Null handling: na.fill after sentinel normalization (F7 family). */
  def naFill(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("v", when(col("value") > 10, col("value")))
      .na.fill(Map("v" -> -1.0))
      .groupBy("event_type")
      .agg(count(when(col("v") === -1.0, 1)).as("n_filled"),
           count(lit(1)).as("n_total"))
      .orderBy("event_type")

  /** Approximate aggregates — HLL count-distinct + approximate quantiles.
    * Sketch algorithms differ per engine (HLL vs HLL++, GK vs t-digest),
    * so raw sketch outputs can never hash-match; instead each engine
    * bounds-checks ITS OWN sketch against ITS OWN exact aggregate and
    * emits the boolean — both engines agree on (flag, n_exact, 1, 1)
    * whenever both sketches honor their accuracy contracts, turning the
    * tolerance property itself into the oracle-checked result.
    * cd: |apx − exact| ≤ 10%·exact (rsd 0.02 → 5σ headroom).
    * p50: the approx median's exact RANK must land in the 45–55% band —
    * checked as one conditional count against the broadcast sketch
    * output (20·n_le between 9·n and 11·n, exact integers). NOT exact
    * `percentile`: that buffers every group's value multiset in one
    * aggregation buffer (measured 27 s at sf0.1; an OOM at the 100 TB
    * design point), while the rank recount streams. */
  def approxAgg(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    // The exact distinct count lives in its OWN aggregation (round 20):
    // combined with the sketches in one groupBy, Spark's distinct
    // rewrite keyed the 410-long HLL++ partial buffer by
    // (l_returnflag, l_orderkey) — one ~3.3 KB sketch buffer PER
    // DISTINCT ORDER KEY flowing through the exchange (the round-20
    // plan audit: the partial aggregate's Keys [flag, okey], Results
    // [413]). Split out, the sketch pass partial-aggregates to
    // |flags| rows per map task and the exact pass shuffles 16-byte
    // (flag, okey) rows with map-side partial distinct — identical
    // values (countDistinct ≡ distinct + count; l_orderkey is null-free,
    // gated in TestdataAsciiSpec).
    val sketches = li.groupBy("l_returnflag")
      .agg(approx_count_distinct(col("l_orderkey"), 0.02).as("apx"),
           percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000))
             .as("apx_p50"),
           count(lit(1)).as("n_rows"))
    val exact = li.select("l_returnflag", "l_orderkey").distinct()
      .groupBy("l_returnflag").agg(count(lit(1)).as("n_exact"))
    val ranks = li.select("l_returnflag", "l_extendedprice")
      .join(broadcast(sketches.select("l_returnflag", "apx_p50")),
            Seq("l_returnflag"))
      .groupBy("l_returnflag")
      .agg(sum(when(col("l_extendedprice") <= col("apx_p50"), 1L)
                 .otherwise(0L)).as("n_le"))
    sketches.join(exact, Seq("l_returnflag")).join(ranks, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("n_exact"),
              (abs(col("apx") - col("n_exact")) <= col("n_exact") * 0.1)
                .cast("int").as("cd_ok"),
              (col("n_le") * 20 >= col("n_rows") * 9 &&
               col("n_le") * 20 <= col("n_rows") * 11)
                .cast("int").as("p50_ok"))
      .orderBy("l_returnflag")
  }

  /** HLL sketch RE-aggregation (Datasketches `hll_sketch_agg` +
    * `hll_union_agg`) — the pattern that makes distinct-counting
    * feasible at 100 TB: per-partition/per-group sketches are
    * precomputed once (here per returnflag), then any rollup is a cheap
    * sketch UNION instead of a re-scan of raw data. A naive sum of
    * per-group distinct counts would overcount keys spanning groups
    * (every l_orderkey spans flags); the union dedups in sketch space.
    * Oracle shape follows agg_approx: each engine bounds-checks its own
    * estimate against its own exact global (DuckDB has no mergeable
    * sketch — it computes the global approx directly; the agreed
    * booleans + exact counts hash-match). */
  def sketchReagg(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val per = li.groupBy("l_returnflag")
      .agg(expr("hll_sketch_agg(l_orderkey)").as("sk"))
    val merged = per.agg(
      expr("hll_sketch_estimate(hll_union_agg(sk))").as("apx_global"),
      count(lit(1)).as("n_groups"))
    val exact = li.agg(countDistinct("l_orderkey").as("n_exact_global"))
    merged.crossJoin(exact)
      .select(col("n_groups"), col("n_exact_global"),
              (abs(col("apx_global") - col("n_exact_global")) <=
                col("n_exact_global") * 0.1).cast("int").as("global_ok"))
  }

  /** Winsorized (5th/95th-percentile-clipped) robust aggregation — the
    * outlier-tolerant stats a curation dashboard wants when a handful of
    * extreme rows would otherwise dominate a mean. Percentiles are
    * POSITIONAL (value at row_number (n·p) div 100 — exact selection,
    * no interpolation, so engines can't drift); the value at a rank is
    * well-defined under ties, so no tiebreak column is needed. Shape:
    * one window shuffle by group ranks the column, the bounds frame is
    * |groups| rows broadcast back, then one aggregation of the clipped
    * column. HONEST SKEW NOTE (round-6 advice item 2): the ranking
    * window partitions by `l_returnflag` (3 distinct values), so every
    * row funnels through ≤3 sort tasks — the CLIP pass scales, the
    * exact-bounds pass does not. At real scale derive bounds from
    * `approx_percentile` per group (one map-side-combining agg, no
    * global per-group sort) and accept sketch-grade bounds — the
    * agg_approx query demonstrates exactly that trade; this query keeps
    * EXACT positional bounds because the oracle must reproduce them
    * bit-for-bit. */
  def winsorize(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val l = Tables.lineitem(spark, dir)
      .select(col("l_returnflag").as("flag"), col("l_extendedprice").as("x"))
    val w = Window.partitionBy("flag").orderBy(col("x").asc)
    val bounds = l
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("flag")))
      .filter(col("rn") === expr("(n * 5) div 100 + 1") ||
              col("rn") === expr("(n * 95) div 100"))
      .groupBy("flag").agg(min("x").as("lo"), max("x").as("hi"))
    l.join(broadcast(bounds), Seq("flag"))
      .select(col("flag"), col("lo"), col("hi"),
              greatest(col("lo"), least(col("hi"), col("x"))).as("cx"))
      .groupBy("flag", "lo", "hi")
      .agg(count(lit(1)).as("n"),
           Num.rnd(sum("cx"), 2).as("sum_w"),
           Num.rnd(avg("cx"), 2).as("avg_w"))
      .orderBy("flag")
  }

  /** Mergeable log-histogram quantile sketch — the re-aggregatable
    * quantile shape for 100 TB (the [[sketchReagg]] counterpart for
    * percentiles, where `approx_percentile` state is opaque and
    * DuckDB-unverifiable): values land in deterministic log-spaced
    * buckets (top-4-bits-of-bit-length — ≤12.5% relative width, 8
    * sub-buckets per octave, ALL integer bit arithmetic so both engines
    * agree exactly), bucket COUNTS are the sketch state (exactly
    * mergeable by addition — any shard/rollup sums them), and the
    * quantile estimate is the smallest bucket lower bound whose
    * cumulative count reaches ⌈q·n/100⌉ (`100·cum ≥ q·n`, pure
    * integer). The query proves the merge contract: per-returnflag
    * shard counts re-aggregated to global reproduce the direct global
    * build bucket-for-bucket, so `agree` is 1 by construction — the
    * oracle hash pins both paths. Money µ-units via round(x·100): 2-dp
    * grain makes the product integer-exact on both engines. */
  def histQuantile(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vm = Tables.lineitem(spark, dir)
      .select(expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("vm"),
              col("l_returnflag").as("flag"))
      .withColumn("bl", length(bin(col("vm"))))
      .withColumn("lb", expr(
        "shiftleft(shiftright(vm, greatest(bl - 4, 0)), greatest(bl - 4, 0))"))
    val perShard = vm.groupBy("flag", "lb").agg(count(lit(1)).as("c"))
    val direct = vm.groupBy("lb").agg(count(lit(1)).as("c"))
    val reagg = perShard.groupBy("lb").agg(sum("c").as("c"))
    val qdf = spark.range(1)
      .select(explode(array(lit(50), lit(90), lit(99))).as("q_pct"))
    // |buckets| is a few hundred rows at ANY data scale (log-spaced over
    // the value range), so the unpartitioned cum window is driver-trivial
    def quantiles(buckets: DataFrame, est: String): DataFrame = {
      val w = Window.orderBy("lb")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = buckets.withColumn("cum", sum("c").over(w))
      val n = buckets.agg(sum("c").as("n"))
      cum.crossJoin(n).crossJoin(qdf)
        .filter(col("cum") * 100 >= col("q_pct") * col("n"))
        .groupBy("q_pct", "n").agg(min("lb").as(est))
    }
    quantiles(direct, "est_micro")
      .join(quantiles(reagg, "est_micro_reagg"), Seq("q_pct", "n"))
      .select(col("q_pct"), col("n").as("n_rows"),
              col("est_micro"), col("est_micro_reagg"),
              (col("est_micro") === col("est_micro_reagg")).cast("int")
                .as("agree"))
      .orderBy("q_pct")
  }

  /** Modal value per group (most frequent o_orderpriority per order
    * status, ties broken by value asc — deterministic). Count-then-rank:
    * the heavy agg reduces to a |status|×|priority| model-sized frame
    * FIRST, the ranking window runs over that tiny frame — never a
    * per-row window at corpus scale. */
  def modeAgg(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_orderstatus")
      .orderBy(col("cnt").desc, col("o_orderpriority").asc)
    Tables.orders(spark, dir)
      .groupBy("o_orderstatus", "o_orderpriority").agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_orderstatus"), col("o_orderpriority").as("mode_priority"),
              col("cnt").as("mode_cnt"))
      .orderBy("o_orderstatus")
  }

  /** Exact per-group median — lower median by positional rank
    * ((n+1) div 2 under (value asc, key asc) order): exact SELECTION of
    * a stored double, zero float arithmetic, so the value is
    * bit-identical cross-engine (the corpus_quantile_select rule). The
    * per-group sort is the honest exact-median cost at scale; the
    * sketch path is `agg_hist_quantile`. */
  def medianAgg(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
    Tables.orders(spark, dir)
      .select(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1))
        .over(Window.partitionBy("o_orderpriority")))
      .filter(col("rn") === expr("(n + 1) div 2"))
      .select(col("o_orderpriority"), col("n"),
              col("o_totalprice").as("median_price"))
      .orderBy("o_orderpriority")
  }

  /** Herfindahl–Hirschman concentration index per market segment — the
    * "is this segment's revenue concentrated in few customers" number:
    * HHI = Σ share_i² over customer revenue shares, in exact integer
    * micro. Money enters as exact cents (round(price·100) — the 2-dp
    * grain rule), squares ride DECIMAL(38) ≡ DuckDB HUGEINT (Σ s² and
    * S² overflow BIGINT at ~10¹⁰ cents — the emb_isotropy envelope
    * pattern), one trailing `div` on non-negative decimals (≡ //).
    * Two aggregations; |segments| rows out at any scale. */
  def hhiAgg(spark: SparkSession, dir: String): DataFrame = {
    val cents = round(col("o_totalprice") * lit(100)).cast("long")
    Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir)
              .select(col("c_custkey").as("o_custkey"), col("c_mktsegment")),
            Seq("o_custkey"))
      .groupBy("c_mktsegment", "o_custkey")
      .agg(sum(cents).as("s_cents"))
      .select(col("c_mktsegment"),
              col("s_cents").cast("decimal(38,0)").as("sd"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_cust"), sum("sd").as("stot"),
           sum(expr("sd * sd")).as("ssq"))
      .select(col("c_mktsegment"), col("n_cust"),
        col("stot").cast("long").as("total_cents"),
        expr("CAST((ssq * 1000000) div (stot * stot) AS BIGINT)")
          .as("hhi_micro"))
      .orderBy("c_mktsegment")
  }

  /** Gini coefficient of customer spend per segment — the inequality
    * companion of [[hhiAgg]] (HHI reads top-heaviness, Gini the whole
    * Lorenz curve): G = 2·Σ i·s₍ᵢ₎/(n·S) − (n+1)/n over spend sorted
    * ascending (ties by custkey — deterministic ranks). Exact integer
    * micro: cents in, the rank-weighted sum rides DECIMAL(38) ≡
    * HUGEINT (i·s terms overflow BIGINT at ~10⁸ customers × 10¹⁰
    * cents), two floor divisions subtracted — the result can round a
    * µ negative at perfect equality, which the spec bounds. One
    * per-segment sort (the exact-statistic cost, as agg_median). */
  def giniAgg(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = round(col("o_totalprice") * lit(100)).cast("long")
    val spend = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir)
              .select(col("c_custkey").as("o_custkey"), col("c_mktsegment")),
            Seq("o_custkey"))
      .groupBy("c_mktsegment", "o_custkey")
      .agg(sum(cents).as("s_cents"))
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("s_cents").asc, col("o_custkey").asc)
    spend.withColumn("i", row_number().over(w).cast("long"))
      .select(col("c_mktsegment"),
        expr("CAST(i AS DECIMAL(38,0)) * CAST(s_cents AS DECIMAL(38,0))")
          .as("is_"),
        col("s_cents").cast("decimal(38,0)").as("sd"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_cust"), sum("sd").as("stot"),
           sum("is_").as("wsum"))
      .select(col("c_mktsegment"), col("n_cust"),
        col("stot").cast("long").as("total_cents"),
        (expr("CAST((wsum * 2000000) div (CAST(n_cust AS DECIMAL(38,0)) * stot) " +
              "AS BIGINT)") -
         expr("((n_cust + 1) * CAST(1000000 AS BIGINT)) div n_cust"))
          .as("gini_micro"))
      .orderBy("c_mktsegment")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_gini"           -> giniAgg _,
    "agg_hhi"            -> hhiAgg _,
    "agg_median"         -> medianAgg _,
    "agg_mode"           -> modeAgg _,
    "agg_hist_quantile"  -> histQuantile _,
    "agg_winsorize"      -> winsorize _,
    "agg_sketch_reagg"  -> sketchReagg _,
    "agg_cube"          -> cubeAgg _,
    "agg_grouping_sets" -> groupingSetsAgg _,
    "agg_pivot"         -> pivotAgg _,
    "agg_na_fill"       -> naFill _,
    "agg_approx"        -> approxAgg _,
    "agg_groupby_count" -> groupbyCount _,
    "agg_global"        -> globalStats _,
    "agg_stats"         -> groupStats _,
    "agg_count_distinct" -> countDistinctQ _,
    "distinct_keys"     -> distinctKeys _,
    "agg_rollup"        -> rollupAgg _,
    "q1_agg"            -> q1Agg _)
}
