package graft.oracle

/** DuckDB reference SQL of the flagship and the relational `graft.ops`
  * queries (sources, filters, joins, aggregates, windows, scalars, sets,
  * skew and analytics). */
private[graft] object Ops {

  private val zorderBits: String =
    (0 until 8).map(i =>
      s"(((zx >> $i) & 1) << ${2 * i}) + (((zy >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")

  val sql: Map[String, String] = Map(
    "flagship" ->
      ("SELECT n_name, count(*) AS n_customers, round((avg(c_acctbal)) * 1e2) / 1e2 AS avg_acctbal " +
       "FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey " +
       "WHERE c_mktsegment IN ('BUILDING','AUTOMOBILE','MACHINERY') " +
       "GROUP BY n_name ORDER BY n_name"),
    // ops.Sources
    // plain restatement over the source table — equality proves every
    // arrival file was ingested EXACTLY once across the three runs
    // (a re-processed bookmark would double-count, a skipped late file
    // would under-count)
    "src_bookmark_ingest" ->
      ("SELECT o_orderpriority, count(*) AS n, " +
       "round((sum(o_totalprice)) * 1e2) / 1e2 AS total " +
       "FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    // same restatement — here the equality additionally proves
    // exactly-once through the injected mid-schedule crash (a
    // re-consumed batch would double-count, an unrecovered one would
    // under-count)
    "src_bookmark_atomic" ->
      ("SELECT o_orderpriority, count(*) AS n, " +
       "round((sum(o_totalprice)) * 1e2) / 1e2 AS total " +
       "FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    "src_compaction" ->
      ("SELECT o_orderpriority, count(*) AS n, " +
       "round((sum(o_totalprice)) * 1e2) / 1e2 AS total " +
       "FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    "src_partitioned_roundtrip" ->
      ("SELECT o_orderpriority, count(*) AS n, " +
       "round((sum(o_totalprice)) * 1e2) / 1e2 AS total " +
       "FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY o_orderpriority"),
    // relational restatement of the two write phases — equality proves
    // the non-overwritten partitions survived; 0.9 CAST to DOUBLE
    // (decimal-literal rule), discount rounded at 2 dp BEFORE the sum
    "src_dynamic_overwrite" ->
      ("SELECT o_orderpriority, count(*) AS n, " +
       "round((sum(CASE WHEN o_orderpriority = '1-URGENT' " +
       "THEN round((o_totalprice * CAST(0.9 AS DOUBLE)) * 1e2) / 1e2 " +
       "ELSE o_totalprice END)) * 1e2) / 1e2 AS total " +
       "FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    "src_csv_roundtrip" ->
      "SELECT r_regionkey, r_name FROM region",
    "src_json_roundtrip" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation",
    "src_parquet_pushdown" ->
      "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_quantity >= 45",
    "src_orc_roundtrip" ->
      "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
    // round-trip identity + evolution semantics expressed on the source
    // table: early batch lacks n_regionkey (null-filled), batch label
    // comes from the partition directory
    "src_schema_evolution" ->
      ("SELECT n_nationkey, n_name, " +
       "CASE WHEN n_nationkey >= 12 THEN n_regionkey END AS n_regionkey, " +
       "CASE WHEN n_nationkey < 12 THEN 'old' ELSE 'new' END AS batch " +
       "FROM nation"),
    // clean rows pass through with flag 0; the two injected malformed
    // lines surface with a null key, the parseable column kept, flag 1
    "src_quarantine" ->
      ("SELECT r_regionkey, r_name, 0 AS quarantined FROM region " +
       "UNION ALL SELECT NULL, 'BADLAND', 1 " +
       "UNION ALL SELECT NULL, 'NOWHERE', 1"),
    "sql_view_query" ->
      ("SELECT n_name, count(*) AS n_customers, " +
       "round((avg(c_acctbal)) * 1e2) / 1e2 AS avg_bal " +
       "FROM customer JOIN nation ON c_nationkey = n_nationkey " +
       "GROUP BY n_name ORDER BY n_name"),
    "src_json_array_roundtrip" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation",
    "sql_catalog_table" ->
      ("SELECT n_name, count(*) AS n_customers, " +
       "round((sum(c_acctbal)) * 1e2) / 1e2 AS total_bal " +
       "FROM customer JOIN nation ON c_nationkey = n_nationkey " +
       "GROUP BY n_name ORDER BY n_name"),
    // ops.Filters
    "filter_isin" ->
      ("SELECT c_custkey, c_name, c_mktsegment FROM customer " +
       "WHERE c_mktsegment IN ('BUILDING','AUTOMOBILE')"),
    "filter_notnull" ->
      ("SELECT l_returnflag, count(*) AS n FROM lineitem " +
       "WHERE (CASE WHEN l_discount > 0 THEN l_discount END) IS NOT NULL " +
       "AND l_quantity IS NOT NULL GROUP BY l_returnflag ORDER BY l_returnflag"),
    "filter_range" ->
      ("SELECT l_linestatus, count(*) AS n FROM lineitem " +
       "WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00' " +
       "AND l_shipdate < TIMESTAMP '1999-01-01 00:00:00' " +
       "AND l_quantity BETWEEN 10 AND 20 GROUP BY l_linestatus ORDER BY l_linestatus"),
    "semi_isin" ->
      ("SELECT c_nationkey, count(*) AS n FROM customer " +
       "WHERE c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey IN (0,1)) " +
       "GROUP BY c_nationkey ORDER BY c_nationkey"),
    "proj_alias" ->
      ("SELECT c_custkey AS id, c_name AS customer_name, c_acctbal AS balance, " +
       "c_mktsegment AS segment FROM customer"),
    // ops.Joins
    "cdc_upsert" ->
      ("WITH upd AS (SELECT key, value AS new_val FROM (" +
       "SELECT user_id + 1400 AS key, event_id, value, " +
       "row_number() OVER (PARTITION BY user_id + 1400 ORDER BY event_id DESC) AS rn " +
       "FROM events) u WHERE rn = 1), " +
       "base AS (SELECT c_custkey AS key, CAST(c_acctbal AS DOUBLE) AS old_val " +
       "FROM customer) " +
       "SELECT coalesce(b.key, u.key) AS key, " +
       "CASE WHEN u.key IS NULL THEN 'keep' " +
       "WHEN u.new_val < 50.0 THEN 'delete' " +
       "WHEN b.key IS NULL THEN 'insert' ELSE 'update' END AS op, " +
       "CASE WHEN u.key IS NOT NULL AND u.new_val < 50.0 THEN NULL " +
       "ELSE round((coalesce(u.new_val, b.old_val)) * 1e2) / 1e2 END AS val " +
       "FROM base b FULL OUTER JOIN upd u ON b.key = u.key"),
    "join_bloom_prune" ->
      ("SELECT strftime(o_orderdate, '%Y-%m') AS month, " +
       "round((sum(l_extendedprice * (1 - l_discount))) * 1e2) / 1e2 AS revenue, " +
       "count(*) AS n_items " +
       "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
       "WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000 " +
       "GROUP BY 1 ORDER BY month"),
    "join_band_bucket" ->
      ("SELECT a.o_orderkey AS a_k, b.o_orderkey AS b_k, " +
       "a.o_totalprice AS a_x, b.o_totalprice AS b_x, " +
       "round((abs(a.o_totalprice - b.o_totalprice)) * 1e2) / 1e2 AS diff " +
       "FROM orders a JOIN orders b ON a.o_orderkey < b.o_orderkey " +
       "AND abs(a.o_totalprice - b.o_totalprice) <= 1.0"),
    "join_null_safe" ->
      ("SELECT c.k, count(*) AS n FROM " +
       "(SELECT CASE WHEN c_nationkey % 5 = 0 THEN NULL ELSE c_nationkey % 5 END AS k " +
       "FROM customer) c JOIN " +
       "(SELECT CASE WHEN n_nationkey % 5 = 0 THEN NULL ELSE n_nationkey % 5 END AS k " +
       "FROM nation) d ON c.k IS NOT DISTINCT FROM d.k " +
       "GROUP BY c.k ORDER BY c.k NULLS FIRST"),
    "join_broadcast_left" ->
      ("SELECT c_custkey, c_name, n_name FROM customer " +
       "LEFT JOIN nation ON c_nationkey = n_nationkey"),
    "semi_join" ->
      ("SELECT c_custkey, c_mktsegment FROM customer c " +
       "WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)"),
    "anti_join" ->
      ("SELECT c_custkey, c_name FROM customer c " +
       "WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey " +
       "AND o.o_totalprice > 300000)"),
    "join_right_outer" ->
      ("SELECT n_nationkey, n_name, count(c_custkey) AS n_building " +
       "FROM (SELECT c_custkey, c_nationkey FROM customer " +
       "WHERE c_mktsegment = 'BUILDING') c " +
       "RIGHT JOIN nation ON c.c_nationkey = n_nationkey " +
       "GROUP BY n_nationkey, n_name ORDER BY n_nationkey"),
    "join_inner_agg" ->
      ("SELECT o_orderpriority, round((sum(l_extendedprice * (1 - l_discount))) * 1e2) / 1e2 AS revenue, " +
       "count(*) AS n_items FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
       "GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    "join_match_rate" ->
      ("SELECT count(*) AS total, count(n_name) AS matched, " +
       "round((100.0 * count(n_name) / count(*)) * 1e2) / 1e2 AS match_pct " +
       "FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey"),
    "join_ambiguous_proj" ->
      ("SELECT c_custkey, c_name AS name, s_suppkey FROM customer " +
       "JOIN supplier ON c_nationkey = s_nationkey"),
    // ops.Aggs
    // bucket arithmetic (round·100 µ-units, bin() bit length, top-4-bit
    // shifts, 100·cum ≥ q·n rank rule) mirrors histQuantile literally —
    // lockstep only; bin()/length are BIGINT in DuckDB → cast
    // gn-prefixed; rank-weighted HUGEINT sum, ascending (spend, key)
    // rank order lockstep with giniAgg; both // operands nonneg (the
    // SUBTRACTION is where the sign can appear — no division after it)
    "agg_gini" ->
      ("WITH gnc AS (SELECT c_mktsegment, o_custkey, " +
       "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS s_cents " +
       "FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2), " +
       "gnr AS (SELECT c_mktsegment, s_cents, row_number() OVER (" +
       "PARTITION BY c_mktsegment ORDER BY s_cents ASC, o_custkey ASC) AS i " +
       "FROM gnc), " +
       "gna AS (SELECT c_mktsegment, count(*) AS n_cust, " +
       "CAST(sum(CAST(s_cents AS HUGEINT)) AS HUGEINT) AS stot, " +
       "CAST(sum(CAST(i AS HUGEINT) * CAST(s_cents AS HUGEINT)) AS HUGEINT) " +
       "AS wsum FROM gnr GROUP BY 1) " +
       "SELECT c_mktsegment, n_cust, CAST(stot AS BIGINT) AS total_cents, " +
       "CAST((wsum * 2000000) // (CAST(n_cust AS HUGEINT) * stot) AS BIGINT) - " +
       "((n_cust + 1) * CAST(1000000 AS BIGINT)) // n_cust AS gini_micro " +
       "FROM gna ORDER BY c_mktsegment"),
    // hh-prefixed; exact cents, HUGEINT squares ≡ DECIMAL(38),
    // nonneg // == div
    "agg_hhi" ->
      ("WITH hhc AS (SELECT c_mktsegment, o_custkey, " +
       "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS HUGEINT) AS sd " +
       "FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2), " +
       "hha AS (SELECT c_mktsegment, count(*) AS n_cust, " +
       "CAST(sum(sd) AS HUGEINT) AS stot, CAST(sum(sd * sd) AS HUGEINT) AS ssq " +
       "FROM hhc GROUP BY 1) " +
       "SELECT c_mktsegment, n_cust, CAST(stot AS BIGINT) AS total_cents, " +
       "CAST((ssq * 1000000) // (stot * stot) AS BIGINT) AS hhi_micro " +
       "FROM hha ORDER BY c_mktsegment"),
    // md-prefixed; lower-median positional rank — exact selection,
    // nonneg so // == div
    "agg_median" ->
      ("WITH mdr AS (SELECT o_orderpriority, o_totalprice, " +
       "row_number() OVER (PARTITION BY o_orderpriority " +
       "ORDER BY o_totalprice ASC, o_orderkey ASC) AS rn, " +
       "count(*) OVER (PARTITION BY o_orderpriority) AS n FROM orders) " +
       "SELECT o_orderpriority, CAST(n AS BIGINT) AS n, " +
       "o_totalprice AS median_price FROM mdr WHERE rn = (n + 1) // 2 " +
       "ORDER BY o_orderpriority"),
    // am-prefixed; (cnt desc, value asc) deterministic tie rule
    "agg_mode" ->
      ("WITH amc AS (SELECT o_orderstatus, o_orderpriority, count(*) AS cnt " +
       "FROM orders GROUP BY 1, 2), " +
       "amr AS (SELECT o_orderstatus, o_orderpriority, cnt, row_number() OVER (" +
       "PARTITION BY o_orderstatus ORDER BY cnt DESC, o_orderpriority ASC) AS rn " +
       "FROM amc) " +
       "SELECT o_orderstatus, o_orderpriority AS mode_priority, cnt AS mode_cnt " +
       "FROM amr WHERE rn = 1 ORDER BY o_orderstatus"),
    "agg_hist_quantile" ->
      ("WITH hv AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS vm, " +
       "l_returnflag AS flag FROM lineitem), " +
       "hb AS (SELECT flag, vm, CAST(length(bin(vm)) AS INTEGER) AS bl FROM hv), " +
       "hlb AS (SELECT flag, (vm >> greatest(bl - 4, 0)) << greatest(bl - 4, 0) AS lb FROM hb), " +
       "hshard AS (SELECT flag, lb, count(*) AS c FROM hlb GROUP BY 1, 2), " +
       "hdir AS (SELECT lb, count(*) AS c FROM hlb GROUP BY 1), " +
       "hre AS (SELECT lb, CAST(sum(c) AS BIGINT) AS c FROM hshard GROUP BY 1), " +
       "hn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM hdir), " +
       "hq AS (SELECT unnest([50, 90, 99]) AS q_pct), " +
       "hcd AS (SELECT lb, CAST(sum(c) OVER (ORDER BY lb ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM hdir), " +
       "hcr AS (SELECT lb, CAST(sum(c) OVER (ORDER BY lb ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM hre), " +
       "hed AS (SELECT q_pct, n, min(lb) AS est_micro FROM hcd, hn, hq " +
       "WHERE cum * 100 >= q_pct * n GROUP BY 1, 2), " +
       "her AS (SELECT q_pct, n, min(lb) AS est_micro_reagg FROM hcr, hn, hq " +
       "WHERE cum * 100 >= q_pct * n GROUP BY 1, 2) " +
       "SELECT hed.q_pct, hed.n AS n_rows, hed.est_micro, her.est_micro_reagg, " +
       "CAST(hed.est_micro = her.est_micro_reagg AS INTEGER) AS agree " +
       "FROM hed JOIN her ON hed.q_pct = her.q_pct AND hed.n = her.n"),
    "agg_winsorize" ->
      ("WITH l AS (SELECT l_returnflag AS flag, l_extendedprice AS x FROM lineitem), " +
       "r AS (SELECT flag, x, row_number() OVER (PARTITION BY flag ORDER BY x) AS rn, " +
       "count(*) OVER (PARTITION BY flag) AS n FROM l), " +
       "b AS (SELECT flag, min(x) AS lo, max(x) AS hi FROM r " +
       "WHERE rn = (n * 5) // 100 + 1 OR rn = (n * 95) // 100 GROUP BY flag) " +
       "SELECT l.flag, b.lo, b.hi, count(*) AS n, " +
       "round((sum(greatest(b.lo, least(b.hi, l.x)))) * 1e2) / 1e2 AS sum_w, " +
       "round((avg(greatest(b.lo, least(b.hi, l.x)))) * 1e2) / 1e2 AS avg_w " +
       "FROM l JOIN b USING (flag) GROUP BY l.flag, b.lo, b.hi ORDER BY l.flag"),
    "agg_cube" ->
      ("SELECT o_orderstatus, o_orderpriority, count(*) AS n FROM orders " +
       "GROUP BY CUBE (o_orderstatus, o_orderpriority)"),
    "agg_grouping_sets" ->
      ("SELECT o_orderstatus, o_orderpriority, count(*) AS n, " +
       "CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) " +
       "AS INTEGER) AS gid FROM orders " +
       "GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())"),
    "agg_pivot" ->
      ("SELECT o_orderpriority, " +
       "count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f, " +
       "count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o, " +
       "count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p " +
       "FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    "agg_na_fill" ->
      ("SELECT event_type, " +
       "count(CASE WHEN coalesce(CASE WHEN value > 10 THEN value END, -1.0) = -1.0 " +
       "THEN 1 END) AS n_filled, count(*) AS n_total " +
       "FROM events GROUP BY event_type ORDER BY event_type"),
    "agg_sketch_reagg" ->
      ("SELECT count(DISTINCT l_returnflag) AS n_groups, " +
       "count(DISTINCT l_orderkey) AS n_exact_global, " +
       "CAST(abs(approx_count_distinct(l_orderkey) - count(DISTINCT l_orderkey)) " +
       "<= count(DISTINCT l_orderkey) * 0.1 AS INTEGER) AS global_ok " +
       "FROM lineitem"),
    // agg_approx: sketch algorithms are engine-specific, so each engine
    // bounds-checks its OWN sketch against its OWN exact value and the
    // agreed-on booleans (+ the exact count) are what hash-matches.
    "agg_approx" ->
      ("WITH a AS (SELECT l_returnflag, " +
       "approx_count_distinct(l_orderkey) AS apx, " +
       "count(DISTINCT l_orderkey) AS n_exact, " +
       "approx_quantile(l_extendedprice, 0.5) AS apx_p50, " +
       "count(*) AS n_rows FROM lineitem GROUP BY l_returnflag), " +
       "r AS (SELECT l.l_returnflag, " +
       "sum(CASE WHEN l.l_extendedprice <= a.apx_p50 THEN 1 ELSE 0 END) AS n_le " +
       "FROM lineitem l JOIN a USING (l_returnflag) GROUP BY l.l_returnflag) " +
       "SELECT a.l_returnflag, a.n_exact, " +
       "CAST(abs(a.apx - a.n_exact) <= a.n_exact * 0.1 AS INTEGER) AS cd_ok, " +
       "CAST(r.n_le * 20 >= a.n_rows * 9 AND r.n_le * 20 <= a.n_rows * 11 " +
       "AS INTEGER) AS p50_ok " +
       "FROM a JOIN r USING (l_returnflag) ORDER BY a.l_returnflag"),
    "agg_groupby_count" ->
      ("SELECT o_orderpriority, count(*) AS n FROM orders " +
       "GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    "agg_global" ->
      ("SELECT count(*) AS n_rows, round((sum(l_quantity)) * 1e2) / 1e2 AS sum_qty, " +
       "round((avg(l_extendedprice)) * 1e2) / 1e2 AS avg_price, " +
       "count(CASE WHEN l_discount > 0.05 THEN 1 END) AS n_highdisc FROM lineitem"),
    "agg_stats" ->
      ("SELECT c_nationkey, count(*) AS n, round((avg(c_acctbal)) * 1e2) / 1e2 AS avg_bal, " +
       "min(c_acctbal) AS min_bal, max(c_acctbal) AS max_bal, " +
       "round((sum(c_acctbal)) * 1e2) / 1e2 AS sum_bal FROM customer " +
       "GROUP BY c_nationkey ORDER BY c_nationkey"),
    "agg_count_distinct" ->
      ("SELECT l_returnflag, count(DISTINCT l_orderkey) AS n_orders, " +
       "count(DISTINCT l_partkey) AS n_parts FROM lineitem " +
       "GROUP BY l_returnflag ORDER BY l_returnflag"),
    "distinct_keys" ->
      "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders",
    "agg_rollup" ->
      ("SELECT o_orderstatus, o_orderpriority, count(*) AS n, " +
       "round((sum(o_totalprice)) * 1e2) / 1e2 AS sum_price FROM orders " +
       "GROUP BY ROLLUP (o_orderstatus, o_orderpriority)"),
    "q1_agg" ->
      ("SELECT l_returnflag, l_linestatus, round((sum(l_quantity)) * 1e2) / 1e2 AS sum_qty, " +
       "round((sum(l_extendedprice)) * 1e2) / 1e2 AS sum_base_price, " +
       "round((sum(l_extendedprice * (1 - l_discount))) * 1e2) / 1e2 AS sum_disc_price, " +
       "round((avg(l_quantity)) * 1e2) / 1e2 AS avg_qty, round((avg(l_extendedprice)) * 1e2) / 1e2 AS avg_price, " +
       "count(*) AS count_order FROM lineitem " +
       "WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00' " +
       "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"),
    // ops.Windows
    // wc-prefixed; first-occurrence flag + running sum — the
    // COUNT(DISTINCT) OVER workaround, (ts, event_id) total order
    "window_cum_distinct" ->
      ("WITH wcf AS (SELECT user_id, event_id, ts, " +
       "CASE WHEN row_number() OVER (PARTITION BY user_id, event_type " +
       "ORDER BY ts, event_id) = 1 THEN 1 ELSE 0 END AS is_first " +
       "FROM events) " +
       "SELECT user_id, event_id, CAST(is_first AS INTEGER) AS is_first, " +
       "CAST(sum(is_first) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
       "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_types_seen " +
       "FROM wcf ORDER BY user_id, event_id"),
    "window_first_last" ->
      ("SELECT o_orderkey, o_custkey, first_value(o_totalprice) OVER w AS first_price, " +
       "last_value(o_totalprice) OVER w AS last_price, " +
       "nth_value(o_totalprice, 2) OVER w AS second_price FROM orders " +
       "WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC " +
       "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"),
    "window_ranking_suite" ->
      ("SELECT c_mktsegment, c_custkey, CAST(rank() OVER w AS INTEGER) AS rnk, " +
       "CAST(dense_rank() OVER w AS INTEGER) AS drnk, " +
       "CAST(ntile(4) OVER w AS INTEGER) AS quartile, " +
       "round((percent_rank() OVER w) * 1e6) / 1e6 AS pct_rank, " +
       "round((cume_dist() OVER w) * 1e6) / 1e6 AS cdist FROM customer " +
       "WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC)"),
    "window_sample_stratified" ->
      ("SELECT c_custkey, c_mktsegment FROM (" +
       "SELECT c_custkey, c_mktsegment, row_number() OVER (" +
       "PARTITION BY c_mktsegment ORDER BY ((c_custkey % 2147483648) * 2654435761) % 1000003, c_custkey) AS rn " +
       "FROM customer) t WHERE rn <= 100"),
    // window_sample_rand: intentionally no oracle (rand(42) is
    // partitioning-dependent; rows-only check per the contract).
    "window_topk_agg" ->
      ("SELECT c_mktsegment, c_custkey, rn FROM (" +
       "SELECT c_mktsegment, c_custkey, CAST(row_number() OVER (" +
       "PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC) AS INTEGER) AS rn " +
       "FROM customer) t WHERE rn <= 5"),
    "window_topk_per_group" ->
      ("SELECT c_mktsegment, c_custkey, c_acctbal, rn FROM (" +
       "SELECT c_mktsegment, c_custkey, c_acctbal, CAST(row_number() OVER (" +
       "PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC) AS INTEGER) AS rn " +
       "FROM customer) t WHERE rn <= 5"),
    "window_lag_rank" ->
      ("SELECT o_orderkey, o_custkey, CAST(row_number() OVER w AS INTEGER) AS rn, " +
       "lag(o_totalprice, 1) OVER w AS prev_price FROM orders " +
       "WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)"),
    "window_range_frame" ->
      ("SELECT o_orderkey, o_orderpriority, CAST(floor(o_totalprice) AS BIGINT) AS p, " +
       "count(*) OVER (PARTITION BY o_orderpriority ORDER BY CAST(floor(o_totalprice) AS BIGINT) " +
       "RANGE BETWEEN 1000 PRECEDING AND 1000 FOLLOWING) AS n_near FROM orders"),
    "window_running_sum" ->
      ("SELECT o_orderkey, o_custkey, round((sum(o_totalprice) OVER (" +
       "PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC " +
       "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) * 1e2) / 1e2 AS running_spend " +
       "FROM orders"),
    "sort_limit" ->
      ("SELECT o_orderkey, o_custkey, o_totalprice FROM orders " +
       "ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10"),
    // ops.Scalars
    "scalar_explode_outer" ->
      ("WITH t AS (SELECT doc_id, CASE WHEN len(tk) >= 50 THEN tk[1:3] END AS arr " +
       "FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)) " +
       "SELECT doc_id, unnest(coalesce(arr, [CAST(NULL AS VARCHAR)])) AS tok, " +
       "CAST(arr IS NOT NULL AS INTEGER) AS had_array FROM t"),
    "scalar_zorder" ->
      (s"SELECT l_orderkey, l_linenumber, zx, zy, CAST($zorderBits AS BIGINT) AS zval " +
       "FROM (SELECT l_orderkey, l_linenumber, l_partkey % 256 AS zx, " +
       "l_suppkey % 256 AS zy FROM lineitem) t"),
    "scalar_map" ->
      ("SELECT o_orderkey, CAST(2 AS INTEGER) AS n_entries, " +
       "o_totalprice AS price_val, 'price' AS key, o_totalprice AS value " +
       "FROM orders UNION ALL " +
       "SELECT o_orderkey, CAST(2 AS INTEGER), o_totalprice, 'cust', " +
       "CAST(o_custkey AS DOUBLE) FROM orders"),
    "scalar_date_arith" ->
      ("SELECT o_orderkey, " +
       "CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS INTEGER) " +
       "AS days_to_2002, " +
       "strftime(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY, '%Y-%m-%d') AS plus_30d, " +
       "CAST(year(o_orderdate) AS INTEGER) AS yr, " +
       "CAST(quarter(o_orderdate) AS INTEGER) AS qtr FROM orders"),
    "scalar_array" ->
      ("SELECT l_orderkey, CAST(len(qs) AS INTEGER) AS n_items, " +
       "qs[1] AS min_q, qs[-1] AS max_q, " +
       "CAST(len(list_filter(qs, q -> q >= 25)) AS INTEGER) AS n_big, " +
       "round((list_sum(qs)) * 1e2) / 1e2 AS sum_q FROM (" +
       "SELECT l_orderkey, list_sort(list(l_quantity)) AS qs FROM lineitem " +
       "GROUP BY l_orderkey) t ORDER BY l_orderkey"),
    "scalar_math" ->
      ("SELECT c_custkey, abs(c_acctbal) AS abs_bal, " +
       "CAST(ceil(c_acctbal) AS BIGINT) AS ceil_bal, " +
       "CAST(floor(c_acctbal) AS BIGINT) AS floor_bal, " +
       "round((sqrt(abs(c_acctbal))) * 1e6) / 1e6 AS sqrt_bal, " +
       "round((pow(c_acctbal / 10000.0, 2)) * 1e6) / 1e6 AS sq_norm, " +
       "CAST(sign(c_acctbal) AS DOUBLE) AS sign_bal FROM customer"),
    "scalar_derive" ->
      ("SELECT l_orderkey, l_linenumber, " +
       "round((CAST(l_extendedprice AS DOUBLE) / l_quantity) * 1e2) / 1e2 AS price_per_unit " +
       "FROM lineitem"),
    "scalar_sentinel_null" ->
      ("SELECT event_type, count(*) AS n_total, " +
       "count(CASE WHEN value > 10 THEN value END) AS n_valid, " +
       "round((sum(coalesce(CASE WHEN value > 10 THEN value END, 0.0))) * 1e2) / 1e2 AS sum_v " +
       "FROM events GROUP BY event_type ORDER BY event_type"),
    "scalar_ratio_pct" ->
      ("SELECT c_nationkey, n, n_hi, " +
       "CASE WHEN n > 0 THEN round((100.0 * n_hi / n) * 1e1) / 1e1 ELSE 0.0 END AS pct_hi FROM (" +
       "SELECT c_nationkey, count(*) AS n, " +
       "count(CASE WHEN c_acctbal > 5000 THEN 1 END) AS n_hi " +
       "FROM customer GROUP BY c_nationkey) t ORDER BY c_nationkey"),
    "scalar_case_bucket" ->
      ("SELECT bucket, count(*) AS n, round((avg(o_totalprice)) * 1e2) / 1e2 AS avg_price FROM (" +
       "SELECT CASE WHEN o_totalprice < 50000 THEN 'small' " +
       "WHEN o_totalprice < 200000 THEN 'medium' ELSE 'large' END AS bucket, " +
       "o_totalprice FROM orders) t GROUP BY bucket ORDER BY bucket"),
    "scalar_json" ->
      ("SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k " +
       "FROM events"),
    "scalar_datetime" ->
      ("SELECT event_id, CAST(date_part('hour', ts) AS INTEGER) AS h, " +
       "CAST(date_part('day', ts) AS INTEGER) AS dom, " +
       "strftime(ts, '%Y-%m-%d') AS day FROM events"),
    "scalar_string" ->
      ("SELECT c_custkey, upper(c_name) AS uname, substring(c_name, 1, 8) AS prefix, " +
       "CAST(length(c_name) AS INTEGER) AS name_len, " +
       "concat_ws('-', c_mktsegment, c_nationkey) AS seg_key FROM customer"),
    // ops.Sets
    "union_by_name" ->
      ("SELECT src, count(*) AS n, round((avg(acctbal)) * 1e2) / 1e2 AS avg_bal FROM (" +
       "SELECT c_name AS name, c_acctbal AS acctbal, 'customer' AS src FROM customer " +
       "UNION ALL " +
       "SELECT s_name AS name, s_acctbal AS acctbal, 'supplier' AS src FROM supplier" +
       ") t GROUP BY src ORDER BY src"),
    "set_intersect" ->
      ("SELECT c_nationkey AS nkey FROM customer INTERSECT " +
       "SELECT s_nationkey AS nkey FROM supplier ORDER BY nkey"),
    "set_except" ->
      ("SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING' EXCEPT " +
       "SELECT o_custkey AS k FROM orders WHERE year(o_orderdate) = 1998 ORDER BY k"),
    // ops.Skew
    // the oracle is the UNSALTED query — proving the rewrite is identity
    "skew_salted_agg" ->
      ("SELECT l_returnflag, round((sum(l_quantity)) * 1e2) / 1e2 AS sum_qty, " +
       "count(*) AS n FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "skew_salted_join" ->
      ("SELECT n_name, count(*) AS n_customers FROM customer " +
       "JOIN nation ON c_nationkey = n_nationkey " +
       "GROUP BY n_name ORDER BY n_name"),
    // ops.Analytics
    "audit_referential" ->
      ("WITH e1 AS (SELECT 'lineitem->orders' AS fk_edge, " +
       "CAST(count(*) - count(o.k) AS BIGINT) AS n_orphans, count(*) AS n_rows " +
       "FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey AS k FROM orders) o " +
       "ON l.l_orderkey = o.k), " +
       "e2 AS (SELECT 'lineitem->supplier' AS fk_edge, " +
       "CAST(count(*) - count(s.k) AS BIGINT) AS n_orphans, count(*) AS n_rows " +
       "FROM lineitem l LEFT JOIN (SELECT DISTINCT s_suppkey AS k FROM supplier) s " +
       "ON l.l_suppkey = s.k), " +
       "e3 AS (SELECT 'orders->customer' AS fk_edge, " +
       "CAST(count(*) - count(c.k) AS BIGINT) AS n_orphans, count(*) AS n_rows " +
       "FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey AS k FROM customer) c " +
       "ON o.o_custkey = c.k), " +
       "e4 AS (SELECT 'customer->nation' AS fk_edge, " +
       "CAST(count(*) - count(n.k) AS BIGINT) AS n_orphans, count(*) AS n_rows " +
       "FROM customer c LEFT JOIN (SELECT DISTINCT n_nationkey AS k FROM nation) n " +
       "ON c.c_nationkey = n.k) " +
       "SELECT * FROM e1 UNION ALL SELECT * FROM e2 UNION ALL " +
       "SELECT * FROM e3 UNION ALL SELECT * FROM e4 ORDER BY fk_edge"),
    "agg_corr" ->
      ("SELECT l_returnflag, count(*) AS n, " +
       "round((corr(l_quantity, l_extendedprice)) * 1e6) / 1e6 AS corr_qty_price, " +
       "round((corr(l_extendedprice, l_discount)) * 1e6) / 1e6 AS corr_price_disc, " +
       "round((covar_samp(l_quantity, l_extendedprice)) * 1e4) / 1e4 AS covar_qty_price, " +
       "round((regr_slope(l_extendedprice, l_quantity)) * 1e6) / 1e6 AS slope_price_qty " +
       "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "q3_topk" ->
      ("SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS odate, " +
       "o_orderpriority, " +
       "round((sum(l_extendedprice * (1 - l_discount))) * 1e2) / 1e2 AS revenue " +
       "FROM customer JOIN orders ON c_custkey = o_custkey " +
       "JOIN lineitem ON o_orderkey = l_orderkey " +
       "WHERE c_mktsegment = 'BUILDING' " +
       "AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00' " +
       "AND l_shipdate > TIMESTAMP '1997-01-01 00:00:00' " +
       "GROUP BY l_orderkey, odate, o_orderpriority " +
       "ORDER BY revenue DESC, l_orderkey ASC LIMIT 10"),
    "q5_region_volume" ->
      ("SELECT n_name, " +
       "round((sum(l_extendedprice * (1 - l_discount))) * 1e2) / 1e2 AS revenue " +
       "FROM customer JOIN orders ON c_custkey = o_custkey " +
       "JOIN lineitem ON o_orderkey = l_orderkey " +
       "JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey " +
       "JOIN nation ON s_nationkey = n_nationkey " +
       "JOIN region ON n_regionkey = r_regionkey " +
       "WHERE r_name = 'ASIA' " +
       "GROUP BY n_name ORDER BY revenue DESC, n_name ASC"),
    "q18_large_orders" ->
      ("SELECT c_name, c_custkey, o_orderkey, " +
       "strftime(o_orderdate, '%Y-%m-%d') AS odate, o_totalprice, " +
       "round((total_qty) * 1e2) / 1e2 AS total_qty " +
       "FROM (SELECT l_orderkey, sum(l_quantity) AS total_qty FROM lineitem " +
       "GROUP BY 1 HAVING sum(l_quantity) > 300) b " +
       "JOIN orders ON o_orderkey = b.l_orderkey " +
       "JOIN customer ON o_custkey = c_custkey " +
       "ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20"))
}
