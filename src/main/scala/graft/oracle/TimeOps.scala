package graft.oracle

import graft.ext.TimeOps.{AcfLags, SessionGapMicros}

/** DuckDB reference SQL of the [[graft.ext.TimeOps]] queries. */
private[graft] object TimeOps {

  val sql: Map[String, String] = Map(
    // si-prefixed; the SAME ≥ 5-minute gap rule as time_session
    // (lockstep), (ts, event_id) total order
    "time_session_ids" ->
      ("WITH six AS (SELECT user_id, event_id, ts, lag(ts) OVER (" +
       "PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events), " +
       "siy AS (SELECT user_id, event_id, ts, CASE WHEN prev IS NULL OR " +
       s"epoch_us(ts) - epoch_us(prev) >= $SessionGapMicros THEN 1 ELSE 0 END AS new_s " +
       "FROM six) " +
       "SELECT user_id, event_id, CAST(sum(new_s) OVER (" +
       "PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) " +
       "AS BIGINT) AS session_no, CAST(new_s AS INTEGER) AS is_session_start " +
       "FROM siy ORDER BY user_id, event_id"),
    // qv-prefixed; ceil-rank (q·n+99)//100, exact double selection
    // under the (value, event_id) total order — nonneg so // == div
    "time_value_quantiles" ->
      ("WITH qvr AS (SELECT event_type, value, row_number() OVER (" +
       "PARTITION BY event_type ORDER BY value ASC, event_id ASC) AS rn, " +
       "count(*) OVER (PARTITION BY event_type) AS n FROM events) " +
       "SELECT event_type, CAST(max(n) AS BIGINT) AS n, " +
       "max(CASE WHEN rn = (n * 50 + 99) // 100 THEN value END) AS p50, " +
       "max(CASE WHEN rn = (n * 90 + 99) // 100 THEN value END) AS p90, " +
       "max(CASE WHEN rn = (n * 99 + 99) // 100 THEN value END) AS p99 " +
       "FROM qvr GROUP BY event_type ORDER BY event_type"),
    // tn-prefixed; (ts, event_id) total order shared with the lag
    // family; DuckDB sum(BIGINT) → HUGEINT, cast back; share nonneg
    // so // == div
    "time_transitions" ->
      ("WITH tnp AS (SELECT event_type, lag(event_type) OVER " +
       "(PARTITION BY user_id ORDER BY ts, event_id) AS prev_type FROM events), " +
       "tnc AS (SELECT prev_type, event_type, count(*) AS cnt FROM tnp " +
       "WHERE prev_type IS NOT NULL GROUP BY 1, 2), " +
       "tnt AS (SELECT prev_type, CAST(sum(cnt) AS BIGINT) AS tot " +
       "FROM tnc GROUP BY 1) " +
       "SELECT c.prev_type, c.event_type, c.cnt, t.tot, " +
       "(c.cnt * CAST(1000000 AS BIGINT)) // t.tot AS share_micro " +
       "FROM tnc c JOIN tnt t USING (prev_type) " +
       "ORDER BY prev_type, event_type"),
    // ue-prefixed; micronized-ln discipline (each ln rounded to µ-nats
    // FIRST, then exact BIGINT); Σ c·lnM(c) ≤ n·lnM(n) nonneg
    "time_user_entropy" ->
      ("WITH uec AS (SELECT user_id, event_type, count(*) AS c " +
       "FROM events GROUP BY 1, 2), " +
       "uea AS (SELECT user_id, CAST(sum(c) AS BIGINT) AS n_events, " +
       "CAST(count(*) AS BIGINT) AS n_types, " +
       "CAST(sum(c * CAST(round(ln(c) * 1e6) AS BIGINT)) AS BIGINT) AS sclnc " +
       "FROM uec GROUP BY 1) " +
       "SELECT user_id, n_events, n_types, " +
       "CAST(round(ln(n_events) * 1e6) AS BIGINT) - (sclnc // n_events) AS h_micro " +
       "FROM uea ORDER BY user_id"),
    // two-sided 1h range + |dt_us| min, tie on click id — epoch_us ≡
    // unix_micros under the UTC session; lockstep with asofNearest
    // gp-prefixed; threshold literals mirror gapStats' µs buckets (the
    // 300 s one IS the session gap); epoch_us ≡ unix_micros under UTC;
    // gaps nonneg so // == div
    "time_gap_stats" ->
      ("WITH gpx AS (SELECT user_id, ts, event_id, lag(ts) OVER " +
       "(PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events), " +
       "gpg AS (SELECT epoch_us(ts) - epoch_us(prev) AS gap_us FROM gpx " +
       "WHERE prev IS NOT NULL), " +
       "gpb AS (SELECT CASE WHEN gap_us < 1000000 THEN 0 " +
       "WHEN gap_us < 10000000 THEN 1 WHEN gap_us < 60000000 THEN 2 " +
       s"WHEN gap_us < $SessionGapMicros THEN 3 WHEN gap_us < 3600000000 THEN 4 " +
       "ELSE 5 END AS bucket_id, gap_us FROM gpg) " +
       "SELECT bucket_id, CASE bucket_id WHEN 0 THEN 'lt_1s' WHEN 1 THEN 'lt_10s' " +
       "WHEN 2 THEN 'lt_60s' WHEN 3 THEN 'lt_5m' WHEN 4 THEN 'lt_1h' " +
       "ELSE 'ge_1h' END AS bucket, count(*) AS n_gaps, " +
       "CAST(min(gap_us) AS BIGINT) AS min_us, " +
       "CAST(max(gap_us) AS BIGINT) AS max_us, " +
       "CAST(sum(gap_us) AS BIGINT) // count(*) AS mean_us " +
       "FROM gpb GROUP BY bucket_id ORDER BY bucket_id"),
    // ac-prefixed; BIGINT-exact moments (DuckDB sum → HUGEINT, cast
    // back before the products), final r = num/sqrt(dx)/sqrt(dy)*1e3
    // in the SAME op order as autocorr (every step IEEE-exact);
    // n>=2 / dx>0 / dy>0 gate mirrored (no /0 on either engine)
    "time_autocorr" ->
      ("WITH achc AS (SELECT event_type, date_trunc('hour', ts) AS h, " +
       "count(*) AS c FROM events GROUP BY 1, 2), " +
       "acpr AS (SELECT event_type, c, " +
       "lag(c, 1) OVER (PARTITION BY event_type ORDER BY h) AS p FROM achc), " +
       "acs AS (SELECT event_type, count(*) AS n_pairs, " +
       "CAST(sum(c) AS BIGINT) AS sx, CAST(sum(p) AS BIGINT) AS sy, " +
       "CAST(sum(c * p) AS BIGINT) AS sxy, " +
       "CAST(sum(c * c) AS BIGINT) AS sxx, " +
       "CAST(sum(p * p) AS BIGINT) AS syy " +
       "FROM acpr WHERE p IS NOT NULL GROUP BY 1), " +
       "acd AS (SELECT event_type, n_pairs, " +
       "n_pairs * sxy - sx * sy AS num, " +
       "n_pairs * sxx - sx * sx AS dx, " +
       "n_pairs * syy - sy * sy AS dy FROM acs) " +
       "SELECT event_type, n_pairs, num, dx, dy, " +
       "CAST(round(CAST(num AS DOUBLE) / sqrt(CAST(dx AS DOUBLE)) / " +
       "sqrt(CAST(dy AS DOUBLE)) * 1e3) AS BIGINT) AS r_milli " +
       "FROM acd WHERE n_pairs >= 2 AND dx > 0 AND dy > 0 " +
       "ORDER BY event_type"),
    // af-prefixed; row_number self-join lag form over AcfLags;
    // identical 5-moment/float discipline and gates as
    // time_autocorr (lag-1 rows equal it — AcfSpec pins) — lockstep
    "time_acf" ->
      ("WITH afh AS (SELECT event_type, date_trunc('hour', ts) AS h, " +
       "count(*) AS c FROM events GROUP BY 1, 2), " +
       "afr AS (SELECT event_type, c, CAST(row_number() OVER " +
       "(PARTITION BY event_type ORDER BY h) AS BIGINT) AS rn FROM afh), " +
       s"afl AS (SELECT UNNEST([${AcfLags.mkString(", ")}]) AS lag), " +
       "afp AS (SELECT a.event_type, l.lag, a.c, b.c AS p " +
       "FROM afr a CROSS JOIN afl l " +
       "JOIN afr b ON b.event_type = a.event_type " +
       "AND b.rn = a.rn - l.lag), " +
       "afs AS (SELECT event_type, lag, count(*) AS n_pairs, " +
       "CAST(sum(c) AS BIGINT) AS sx, CAST(sum(p) AS BIGINT) AS sy, " +
       "CAST(sum(c * p) AS BIGINT) AS sxy, " +
       "CAST(sum(c * c) AS BIGINT) AS sxx, " +
       "CAST(sum(p * p) AS BIGINT) AS syy FROM afp GROUP BY 1, 2), " +
       "afd AS (SELECT event_type, lag, n_pairs, " +
       "n_pairs * sxy - sx * sy AS num, " +
       "n_pairs * sxx - sx * sx AS dx, " +
       "n_pairs * syy - sy * sy AS dy FROM afs) " +
       "SELECT event_type, CAST(lag AS INTEGER) AS lag, n_pairs, " +
       "CAST(round(CAST(num AS DOUBLE) / sqrt(CAST(dx AS DOUBLE)) / " +
       "sqrt(CAST(dy AS DOUBLE)) * 1e3) AS BIGINT) AS r_milli " +
       "FROM afd WHERE n_pairs >= 2 AND dx > 0 AND dy > 0 " +
       "ORDER BY event_type, lag"),
    // cu-prefixed; D_k = n·S_k − k·S_n all-BIGINT (DuckDB count/sum →
    // cast back), abs then argmax with the (absdev desc, h asc)
    // tie-break and the (|D|·1000) // (n·S_n) normalized score — every
    // value non-negative so // ≡ div, lockstep with cusum()
    "time_cusum" ->
      ("WITH cuh AS (SELECT event_type, date_trunc('hour', ts) AS h, " +
       "count(*) AS c FROM events GROUP BY 1, 2), " +
       "cuk AS (SELECT event_type, h, " +
       "CAST(row_number() OVER w AS BIGINT) AS k, " +
       "CAST(sum(c) OVER w AS BIGINT) AS sk FROM cuh " +
       "WINDOW w AS (PARTITION BY event_type ORDER BY h " +
       "ROWS UNBOUNDED PRECEDING)), " +
       "cut AS (SELECT event_type, count(*) AS n_hours, " +
       "CAST(sum(c) AS BIGINT) AS total FROM cuh GROUP BY 1), " +
       "cud AS (SELECT k.event_type, k.h, t.n_hours, t.total, " +
       "abs(t.n_hours * k.sk - k.k * t.total) AS absdev " +
       "FROM cuk k JOIN cut t USING (event_type)), " +
       "cur AS (SELECT cud.*, row_number() OVER (PARTITION BY event_type " +
       "ORDER BY absdev DESC, h ASC) AS rn FROM cud) " +
       "SELECT event_type, n_hours, total, " +
       "strftime(h, '%Y-%m-%d %H:%M:%S') AS cp_hour, absdev AS max_absdev, " +
       "(absdev * 1000) // (n_hours * total) AS dev_milli " +
       "FROM cur WHERE rn = 1 ORDER BY event_type"),
    // sp-prefixed; hour() ≡ extract(hour) under the mandatory UTC
    // session; (total·1e6) // n_hours non-negative so // ≡ div; peak =
    // rn 1 under (mean desc, hod asc) — all lockstep with
    // seasonalProfile
    "time_seasonal_profile" ->
      ("WITH sph AS (SELECT event_type, date_trunc('hour', ts) AS h, " +
       "count(*) AS c FROM events GROUP BY 1, 2), " +
       "spb AS (SELECT event_type, CAST(extract(hour FROM h) AS INTEGER) " +
       "AS hod, count(*) AS n_hours, CAST(sum(c) AS BIGINT) AS n_events " +
       "FROM sph GROUP BY 1, 2), " +
       "spm AS (SELECT event_type, hod, n_hours, n_events, " +
       "(n_events * 1000000) // n_hours AS mean_micro FROM spb), " +
       "spr AS (SELECT spm.*, row_number() OVER (PARTITION BY event_type " +
       "ORDER BY mean_micro DESC, hod ASC) AS rn FROM spm) " +
       "SELECT event_type, hod, n_hours, n_events, mean_micro, " +
       "CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS INTEGER) AS is_peak " +
       "FROM spr ORDER BY event_type, hod"),
    // fb-prefixed; strictly-causal expanding frame (UNBOUNDED PRECEDING
    // .. 1 PRECEDING per (type, hod)), forecast = sp // np non-negative,
    // bias numerator signed → sign-split floor form here, plain div in
    // Spark — lockstep with forecastBacktest
    "time_forecast_backtest" ->
      ("WITH fbh AS (SELECT event_type, date_trunc('hour', ts) AS h, " +
       "count(*) AS c FROM events GROUP BY 1, 2), " +
       "fbw AS (SELECT event_type, h, c, count(*) OVER w AS np, " +
       "CAST(sum(c) OVER w AS BIGINT) AS sp FROM (SELECT event_type, h, c, " +
       "CAST(extract(hour FROM h) AS INTEGER) AS hod FROM fbh) fbq " +
       "WINDOW w AS (PARTITION BY event_type, hod ORDER BY h " +
       "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)), " +
       "fbe AS (SELECT event_type, c - (sp // np) AS err " +
       "FROM fbw WHERE np >= 1), " +
       "fba AS (SELECT event_type, count(*) AS n_fc, " +
       "CAST(sum(abs(err)) AS BIGINT) AS sum_abs_err, " +
       "CAST(sum(err) AS BIGINT) AS bias_num FROM fbe GROUP BY 1) " +
       "SELECT event_type, n_fc, sum_abs_err, " +
       "(sum_abs_err * 1000000) // n_fc AS mae_micro, bias_num, " +
       "(CASE WHEN bias_num < 0 THEN -1 ELSE 1 END) * " +
       "((abs(bias_num) * 1000) // n_fc) AS bias_milli " +
       "FROM fba ORDER BY event_type"),
    "time_asof_nearest" ->
      ("WITH ap AS (SELECT user_id, ts AS p_ts, event_id AS p_id " +
       "FROM events WHERE event_type = 'purchase'), " +
       "ac AS (SELECT user_id AS c_user, ts AS c_ts, event_id AS c_id " +
       "FROM events WHERE event_type = 'click'), " +
       "aj AS (SELECT p_id, user_id, p_ts, c_id, " +
       "epoch_us(c_ts) - epoch_us(p_ts) AS dt_us FROM ap JOIN ac " +
       "ON user_id = c_user AND c_ts BETWEEN p_ts - INTERVAL 1 HOUR " +
       "AND p_ts + INTERVAL 1 HOUR), " +
       "ar AS (SELECT aj.*, row_number() OVER (PARTITION BY p_id " +
       "ORDER BY abs(dt_us) ASC, c_id ASC) AS rn FROM aj) " +
       "SELECT p_id AS event_id, user_id, " +
       "strftime(p_ts, '%Y-%m-%d %H:%M:%S') AS ats, c_id AS click_id, " +
       "CAST(dt_us AS BIGINT) AS dt_us FROM ar WHERE rn = 1"),

    // integer cents, ROWS 5 PRECEDING .. 1 PRECEDING frame (5-row
    // baseline excluding current), cross-multiplied 3-sigma test and
    // (ts, event_id) order all lockstep with rollingStats
    "time_rolling_stats" ->
      ("WITH rs AS (SELECT event_type, ts, event_id, " +
       "CAST(round(value * 100) AS BIGINT) AS c FROM events), " +
       "rw AS (SELECT event_type, ts, event_id, c, " +
       "CAST(count(*) OVER w AS BIGINT) AS n_win, " +
       "CAST(coalesce(sum(c) OVER w, 0) AS BIGINT) AS sum_c, " +
       "CAST(coalesce(sum(c*c) OVER w, 0) AS BIGINT) AS sum_c2 FROM rs " +
       "WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id " +
       "ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING)) " +
       "SELECT event_type, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts, " +
       "event_id, c, n_win, sum_c, " +
       "CAST(n_win*sum_c2 - sum_c*sum_c AS BIGINT) AS var_num, " +
       "CAST(CASE WHEN n_win >= 2 AND (c*n_win - sum_c)*(c*n_win - sum_c) > " +
       "9*(n_win*sum_c2 - sum_c*sum_c) THEN 1 ELSE 0 END AS INTEGER) " +
       "AS is_band_break FROM rw"),
    "time_gap_fill" ->
      ("WITH hourly AS (SELECT date_trunc('hour', ts) AS h, event_type, " +
       "count(*) AS n, round((sum(value)) * 1e2) / 1e2 AS sum_v " +
       "FROM events GROUP BY 1, 2), " +
       "b AS (SELECT date_trunc('hour', min(ts)) AS h0, " +
       "date_trunc('hour', max(ts)) AS h1 FROM events), " +
       "spine AS (SELECT t.event_type, u.h FROM " +
       "(SELECT DISTINCT event_type FROM events) t, b, " +
       "UNNEST(generate_series(b.h0, b.h1, INTERVAL 1 HOUR)) AS u(h)) " +
       "SELECT s.event_type, strftime(s.h, '%Y-%m-%d %H:%M:%S') AS hs, " +
       "coalesce(hourly.n, 0) AS n, " +
       "last_value(hourly.sum_v IGNORE NULLS) OVER (PARTITION BY s.event_type " +
       "ORDER BY s.h ROWS UNBOUNDED PRECEDING) AS sum_v_ff, " +
       "CAST(hourly.n IS NULL AS INTEGER) AS filled " +
       "FROM spine s LEFT JOIN hourly ON s.event_type = hourly.event_type " +
       "AND s.h = hourly.h"),
    "time_spike" ->
      ("WITH hourly AS (SELECT date_trunc('hour', ts) AS h, count(*) AS c " +
       "FROM events GROUP BY 1) " +
       "SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS h, c, " +
       "CAST(coalesce(sum(c) OVER w, 0) AS BIGINT) AS s24, " +
       "count(*) OVER w AS k, " +
       "CAST(count(*) OVER w >= 12 AND c * (count(*) OVER w) > " +
       "(coalesce(sum(c) OVER w, 0)) * 2 AS INTEGER) AS is_spike " +
       "FROM hourly " +
       "WINDOW w AS (ORDER BY h ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) " +
       "ORDER BY h"),
    // lower-median positional rank (cnt+1) // 2 mirrors madOutlier's
    // (cnt+1) div 2 (all counts positive — // == div); all-integer
    "time_mad_outlier" ->
      ("WITH mdd AS (SELECT event_type, date_trunc('day', ts) AS d, " +
       "count(*) AS x FROM events GROUP BY 1, 2), " +
       "mdm AS (SELECT event_type, x AS med FROM (SELECT event_type, x, " +
       "row_number() OVER (PARTITION BY event_type ORDER BY x ASC, d ASC) AS rn, " +
       "count(*) OVER (PARTITION BY event_type) AS cnt FROM mdd) t " +
       "WHERE rn = (cnt + 1) // 2), " +
       "mdv AS (SELECT mdd.event_type, mdd.d, mdd.x, mdm.med, " +
       "abs(mdd.x - mdm.med) AS dev FROM mdd JOIN mdm USING (event_type)), " +
       "mda AS (SELECT event_type, dev AS mad FROM (SELECT event_type, dev, d, " +
       "row_number() OVER (PARTITION BY event_type ORDER BY dev ASC, d ASC) AS rn, " +
       "count(*) OVER (PARTITION BY event_type) AS cnt FROM mdv) t " +
       "WHERE rn = (cnt + 1) // 2) " +
       "SELECT v.event_type, strftime(v.d, '%Y-%m-%d %H:%M:%S') AS d, " +
       "v.x, v.med, a.mad, CAST(v.dev > a.mad * 3 AS INTEGER) AS is_outlier " +
       "FROM mdv v JOIN mda a USING (event_type) ORDER BY v.event_type, d"),
    // every weight literal CAST to DOUBLE (DuckDB fractional literals
    // are DECIMAL — exact-decimal products would diverge from Spark's
    // doubles); weights 2^-i and the 255/128 normalizer are binary-
    // exact, term order mirrors the Spark left-assoc reduce
    "time_ewma" ->
      ("WITH ewh AS (SELECT date_trunc('hour', ts) AS h, event_type, " +
       "count(*) AS c FROM events GROUP BY 1, 2), " +
       "ewl AS (SELECT event_type, h, c, CAST(c AS DOUBLE)" +
       (1 until 8).map(i =>
         s" + CAST(coalesce(lag(c, $i) OVER w, 0) AS DOUBLE) * " +
         s"CAST(${1.0 / (1L << i)} AS DOUBLE)").mkString +
       " AS num FROM ewh " +
       "WINDOW w AS (PARTITION BY event_type ORDER BY h)) " +
       "SELECT event_type, strftime(h, '%Y-%m-%d %H:%M:%S') AS h, c, " +
       "round((num / CAST(1.9921875 AS DOUBLE)) * 1e4) / 1e4 AS ewm, " +
       "CAST(CAST(c AS DOUBLE) > " +
       "(round((num / CAST(1.9921875 AS DOUBLE)) * 1e4) / 1e4) * 2 " +
       "AS INTEGER) AS burst FROM ewl"),
    "time_ohlc" ->
      ("WITH oe AS (SELECT event_type, date_trunc('hour', ts) AS h, ts, " +
       "event_id, value FROM events), " +
       "orr AS (SELECT *, row_number() OVER (PARTITION BY event_type, h " +
       "ORDER BY ts ASC, event_id ASC) AS rna, " +
       "row_number() OVER (PARTITION BY event_type, h " +
       "ORDER BY ts DESC, event_id DESC) AS rnd FROM oe) " +
       "SELECT event_type, strftime(h, '%Y-%m-%d %H:%M:%S') AS h, " +
       "count(*) AS n, " +
       "sum(CASE WHEN rna = 1 THEN value END) AS open_v, " +
       "sum(CASE WHEN rnd = 1 THEN value END) AS close_v, " +
       "min(value) AS low_v, max(value) AS high_v, " +
       "round((sum(value)) * 1e2) / 1e2 AS vol_v " +
       "FROM orr GROUP BY event_type, h"),
    "time_tumbling" ->
      ("SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS ws, " +
       "event_type, count(*) AS n, round((sum(value)) * 1e2) / 1e2 AS sum_v " +
       "FROM events GROUP BY 1, 2"),
    // A 2h-window/1h-slide assigns each event to windows starting at
    // trunc_hour(ts) and trunc_hour(ts) - 1h.
    "time_sliding" ->
      ("SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS ws, event_type, count(*) AS n FROM (" +
       "SELECT date_trunc('hour', ts) AS ws, event_type FROM events " +
       "UNION ALL " +
       "SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR AS ws, event_type FROM events" +
       ") t GROUP BY 1, 2"),
    // Gaps-and-islands reconstruction of 5-minute-gap sessions: a new
    // session starts when the previous event is >= 5 minutes away
    // (Spark's session window end = last event + gap, exclusive).
    "time_session" ->
      ("WITH x AS (SELECT user_id, ts, CASE WHEN lag(ts) OVER w IS NULL " +
       "OR ts - lag(ts) OVER w >= INTERVAL 5 MINUTE THEN 1 ELSE 0 END AS new_s " +
       "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)), " +
       "y AS (SELECT user_id, ts, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts " +
       "ROWS UNBOUNDED PRECEDING) AS sid FROM x) " +
       "SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start, " +
       "count(*) AS n FROM y GROUP BY user_id, sid"),
    "time_asof_join" ->
      ("SELECT a.event_id, a.user_id, strftime(a.ts, '%Y-%m-%d %H:%M:%S') AS ats, " +
       "b.event_id AS click_id, b.value AS click_value " +
       "FROM (SELECT * FROM events WHERE event_type = 'purchase') a " +
       "ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') b " +
       "ON a.user_id = b.user_id AND a.ts >= b.ts"),
    "time_interval_join" ->
      ("SELECT c.event_id AS click_id, p.event_id AS p_id, c.user_id " +
       "FROM (SELECT * FROM events WHERE event_type = 'click') c " +
       "JOIN (SELECT * FROM events WHERE event_type = 'purchase') p " +
       "ON c.user_id = p.user_id AND p.ts >= c.ts " +
       "AND p.ts <= c.ts + INTERVAL 1 HOUR"),
    "time_funnel" ->
      ("WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events " +
       "WHERE event_type = 'view' GROUP BY user_id), " +
       "s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e " +
       "JOIN s1 USING (user_id) WHERE e.event_type = 'click' AND e.ts > s1.t1 " +
       "GROUP BY e.user_id), " +
       "s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e " +
       "JOIN s2 USING (user_id) WHERE e.event_type = 'purchase' AND e.ts > s2.t2 " +
       "GROUP BY e.user_id) " +
       "SELECT '0_all' AS stage, count(DISTINCT user_id) AS n_users FROM events " +
       "UNION ALL SELECT '1_view', count(*) FROM s1 " +
       "UNION ALL SELECT '2_click', count(*) FROM s2 " +
       "UNION ALL SELECT '3_purchase', count(*) FROM s3 " +
       "ORDER BY stage"),
    "time_cohort" ->
      ("WITH f AS (SELECT user_id, date_trunc('day', min(ts)) AS w0 " +
       "FROM events GROUP BY user_id), " +
       "act AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS w FROM events) " +
       "SELECT strftime(f.w0, '%Y-%m-%d %H:%M:%S') AS cohort_day, " +
       "CAST(date_diff('day', f.w0, act.w) AS INTEGER) AS day_offset, " +
       "count(DISTINCT f.user_id) AS n_active " +
       "FROM f JOIN act USING (user_id) " +
       "GROUP BY f.w0, date_diff('day', f.w0, act.w) " +
       "ORDER BY cohort_day, day_offset"),
    "time_retention" ->
      ("WITH f AS (SELECT user_id, date_trunc('day', min(ts)) AS w0 " +
       "FROM events GROUP BY user_id), " +
       "act AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS w FROM events), " +
       "c AS (SELECT f.w0, count(DISTINCT f.user_id) AS n_users, " +
       "count(DISTINCT CASE WHEN act.w = f.w0 + INTERVAL 7 DAY " +
       "THEN f.user_id END) AS n_retained_w1 " +
       "FROM f JOIN act USING (user_id) GROUP BY f.w0) " +
       "SELECT strftime(w0, '%Y-%m-%d %H:%M:%S') AS cohort_day, n_users, " +
       "n_retained_w1, round((100.0 * n_retained_w1 / n_users) * 1e2) / 1e2 " +
       "AS retained_pct FROM c ORDER BY cohort_day"),
    "cdc_scd2" ->
      ("SELECT user_id, event_id, " +
       "strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from, " +
       "strftime(vt, '%Y-%m-%d %H:%M:%S') AS valid_to, " +
       "CAST(vt IS NULL AS INTEGER) AS is_current, value FROM (" +
       "SELECT user_id, event_id, ts, value, lead(ts) OVER (" +
       "PARTITION BY user_id ORDER BY ts, event_id) AS vt " +
       "FROM events WHERE event_type = 'signup') t"))
}
