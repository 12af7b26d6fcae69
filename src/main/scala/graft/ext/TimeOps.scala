package graft.ext

import graft.Tables
import graft.ops.Num
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-window operators over the `events` table — SURVEY §2.9.
  *
  * The reference implements no streaming (milestone-doc aspiration only);
  * these are the batch shapes of our Structured Streaming extension:
  * identical `window()`/`session_window()` expressions run under
  * `readStream` in streaming/EventStream.scala, and StreamingSpec proves
  * batch ≡ streaming on the same data. Window starts are emitted as
  * formatted strings so the DuckDB oracle compares text, not
  * engine-specific timestamp encodings.
  */
object TimeOps {

  private val fmt = "yyyy-MM-dd HH:mm:ss"

  /** Tumbling 1-hour windows per event type. */
  def tumbling(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), Num.rnd(sum("value"), 2).as("sum_v"))
      .select(date_format(col("window.start"), fmt).as("ws"),
              col("event_type"), col("n"), col("sum_v"))

  /** Hourly OHLC downsample bars per event type — the canonical
    * time-series compaction (metrics rollup, market bars): open/close
    * are the first/last value under the deterministic (ts, event_id)
    * order, low/high are min/max, volume is the 2-dp-rounded sum (the
    * money-grain rule — open/close/low/high are SINGLE raw values, so
    * they ship unrounded and bit-exact). One window pass + one
    * aggregation, both shuffling on (event_type, hour) — at 100 TB the
    * bar count is O(types × hours), thousands of rows from billions. */
  def ohlc(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(spark, dir)
      .select(col("event_type"), date_trunc("hour", col("ts")).as("h"),
              col("ts"), col("event_id"), col("value"))
    val asc = Window.partitionBy("event_type", "h")
      .orderBy(col("ts").asc, col("event_id").asc)
    val desc = Window.partitionBy("event_type", "h")
      .orderBy(col("ts").desc, col("event_id").desc)
    e.withColumn("rna", row_number().over(asc))
      .withColumn("rnd", row_number().over(desc))
      .groupBy("event_type", "h")
      .agg(count(lit(1)).as("n"),
           // sum over exactly one non-null row = that raw value, exact
           sum(when(col("rna") === 1, col("value"))).as("open_v"),
           sum(when(col("rnd") === 1, col("value"))).as("close_v"),
           min("value").as("low_v"),
           max("value").as("high_v"),
           Num.rnd(sum("value"), 2).as("vol_v"))
      .select(col("event_type"), date_format(col("h"), fmt).as("h"),
              col("n"), col("open_v"), col("close_v"),
              col("low_v"), col("high_v"), col("vol_v"))
  }

  /** 8-lag exponentially-weighted moving average of the hourly event
    * rate (α = 1/2) with a burst flag — the smoothing baseline an
    * alerting pipeline keeps per series. An EWMA recurrence is
    * sequential, but with α = 1/2 the truncated expansion's weights
    * 2^-i are BINARY-EXACT doubles, so the fixed 8-term weighted sum is
    * an exact-arithmetic expression tree both engines evaluate
    * identically (every product exact, +//> IEEE exact-rounded, same
    * left-assoc order) — no float discipline needed beyond the final
    * 4-dp round; the truncation bias is the documented contract (≤2^-8
    * of mass), not an approximation left to chance. One lag window per
    * event_type over the |types|×|hours| hourly frame. */
  def ewma(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hourly = Tables.events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("event_type").orderBy("h")
    val terms = col("c").cast("double") +:
      (1 until 8).map(i =>
        coalesce(lag(col("c"), i).over(w), lit(0L)).cast("double") *
          lit(1.0 / (1L << i)))
    val num = terms.reduce(_ + _)
    hourly
      .withColumn("ewm", Num.rnd(num / lit(255.0 / 128.0), 4))
      .withColumn("burst",
        (col("c").cast("double") > col("ewm") * 2).cast("int"))
      .select(col("event_type"), date_format(col("h"), fmt).as("h"),
              col("c"), col("ewm"), col("burst"))
  }

  /** Lag-1 autocorrelation of the hourly event rate per type — the
    * seasonality/persistence diagnostic behind [[ewma]]'s smoothing
    * choice (r near 1 ⇒ smooth rates, near 0 ⇒ memoryless arrivals):
    * Pearson r between consecutive hourly counts. All five moments
    * (Σx, Σy, Σxy, Σx², Σy²) are EXACT BIGINTs, so num = n·Σxy−Σx·Σy
    * and the two variance terms are integer-exact; the only float step
    * is the final num/√dx/√dy — every op in it (int→double cast under
    * the 2^53 envelope, /, sqrt) is IEEE-exactly-rounded (CLAUDE.md:
    * unlike ln), mirrored in the same order in the oracle, then
    * micronized to milli-units (integer out ⇒ no signed-zero rule
    * needed). Degenerate series (n<2 or zero variance — /0 is a DuckDB
    * NULL vs Spark ANSI error) are gated out identically on both
    * sides. One hourly rollup + one lag window + one 5-moment agg over
    * the |types|×|hours| frame — thousands of rows from billions of
    * events; BIGINT envelope holds to ~3e5 events/hour·type at 1e4
    * hours (beyond: DECIMAL(38), the emb_dim_stats pattern). */
  def autocorr(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hc = Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("event_type").orderBy("h")
    hc.withColumn("p", lag(col("c"), 1).over(w))
      .filter(col("p").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_pairs"),
           sum("c").as("sx"), sum("p").as("sy"),
           sum(col("c") * col("p")).as("sxy"),
           sum(col("c") * col("c")).as("sxx"),
           sum(col("p") * col("p")).as("syy"))
      .withColumn("num", col("n_pairs") * col("sxy") - col("sx") * col("sy"))
      .withColumn("dx", col("n_pairs") * col("sxx") - col("sx") * col("sx"))
      .withColumn("dy", col("n_pairs") * col("syy") - col("sy") * col("sy"))
      .filter(col("n_pairs") >= 2 && col("dx") > 0 && col("dy") > 0)
      .withColumn("r_milli",
        round(col("num").cast("double") / sqrt(col("dx").cast("double")) /
              sqrt(col("dy").cast("double")) * lit(1e3)).cast("long"))
      .select("event_type", "n_pairs", "num", "dx", "dy", "r_milli")
      .orderBy("event_type")
  }

  /** Row lags of [[acf]]. */
  private[graft] val AcfLags = Seq(1, 2, 3, 6, 12, 24)

  /** Multi-lag autocorrelation function (ACF) of the hourly rate — the
    * full seasonality diagnostic generalizing [[autocorr]]'s lag-1 (a
    * daily cycle in an hourly series shows as a lag-24 peak; the lag-1
    * row of this table MUST equal time_autocorr — spec-pinned):
    * Pearson r at ROW lags [[AcfLags]] per type, same
    * exact-BIGINT five-moment discipline, same single IEEE-exact float
    * step, same degenerate-series gates. Lags are expressed as a
    * row_number self-join (rn ↔ rn−L) rather than |lags| window
    * passes — one rank window + one equi-join + one 5-moment agg over
    * the |types|×|hours|×|lags| pair frame, thousands of rows from
    * billions of events. Row-lag (not time-lag) semantics: a missing
    * hour splices the series — the [[autocorr]] contract, kept
    * deliberately so the two stay composable. */
  def acf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val lags = AcfLags.toDF("lag")
    val hc = Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("c"))
      .withColumn("rn",
        row_number().over(Window.partitionBy("event_type").orderBy("h"))
          .cast("long"))
    val lagged = hc.crossJoin(broadcast(lags))
      .select(col("event_type"), col("lag"),
              (col("rn") + col("lag")).as("rn"), col("c").as("p"))
    hc.join(lagged, Seq("event_type", "rn"))
      .groupBy("event_type", "lag")
      .agg(count(lit(1)).as("n_pairs"),
           sum("c").as("sx"), sum("p").as("sy"),
           sum(col("c") * col("p")).as("sxy"),
           sum(col("c") * col("c")).as("sxx"),
           sum(col("p") * col("p")).as("syy"))
      .withColumn("num", col("n_pairs") * col("sxy") - col("sx") * col("sy"))
      .withColumn("dx", col("n_pairs") * col("sxx") - col("sx") * col("sx"))
      .withColumn("dy", col("n_pairs") * col("syy") - col("sy") * col("sy"))
      .filter(col("n_pairs") >= 2 && col("dx") > 0 && col("dy") > 0)
      .withColumn("r_milli",
        round(col("num").cast("double") / sqrt(col("dx").cast("double")) /
              sqrt(col("dy").cast("double")) * lit(1e3)).cast("long"))
      .select("event_type", "lag", "n_pairs", "r_milli")
      .orderBy("event_type", "lag")
  }

  /** CUSUM changepoint statistic on the hourly event rate per type —
    * the drift detector completing the anomaly family ([[spike]] flags
    * a single loud hour, [[madOutlier]] a heavy value, this a SUSTAINED
    * LEVEL SHIFT): for hourly counts c₁..cₙ the classic CUSUM deviation
    * at k is S_k − (k/n)·S_n; scaling by n gives D_k = n·S_k − k·S_n —
    * a PURE INTEGER in BIGINT, so the whole statistic (max |D_k|, the
    * hour attaining it = the estimated changepoint, ties → earliest
    * hour) is exact arithmetic with no float discipline at all; the one
    * division is the normalized score (|D|·1000) div (n·S_n), non-
    * negative so floor division is engine-agnostic. BIGINT envelope:
    * n·S_k ≤ n·S_n needs ≲ 9·10¹⁵ before the ×1000 — holds to ~10⁹
    * events over ~10⁴ hours (beyond: DECIMAL(38), the emb_dim_stats
    * pattern). One hourly rollup, one per-type running-sum window, one
    * argmax window — thousands of rows from billions of events, same
    * per-type parallelism as [[autocorr]]. */
  def cusum(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hc = Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("event_type").orderBy("h")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = hc.groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"), sum("c").as("total"))
    val pick = Window.partitionBy("event_type")
      .orderBy(col("absdev").desc, col("h").asc)
    hc.withColumn("k", row_number().over(
        Window.partitionBy("event_type").orderBy("h")).cast("long"))
      .withColumn("sk", sum("c").over(w))
      .join(tot, Seq("event_type"))
      .withColumn("absdev",
        abs(col("n_hours") * col("sk") - col("k") * col("total")))
      .withColumn("rn", row_number().over(pick))
      .filter(col("rn") === 1)
      .withColumn("dev_milli", expr("(absdev * 1000) div (n_hours * total)"))
      .select(col("event_type"), col("n_hours"), col("total"),
              date_format(col("h"), fmt).as("cp_hour"),
              col("absdev").as("max_absdev"), col("dev_milli"))
      .orderBy("event_type")
  }

  /** Hour-of-day seasonality profile per event type — the diurnal
    * fingerprint behind [[cusum]]/[[spike]] thresholds (a "spike" at
    * the daily peak hour is expected load; the same count at 3am is an
    * incident): collapse the hourly series onto its 24 hour-of-day
    * bins, report per-bin coverage (n_hours — how many distinct hours
    * fed the bin), event total, and the ALL-INTEGER mean rate in
    * micro-events/hour ((total·10⁶) div n_hours, non-negative), plus
    * an is_peak flag on the top bin per type (mean desc, hod asc
    * tie-break — the deterministic-argmax convention). hour() reads
    * the mandatory UTC session, matching DuckDB's naive extract.
    * ≤ 24·|types| output rows at any scale; the per-type ranking
    * window is 24 rows. */
  def seasonalProfile(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val prof = Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("c"))
      .withColumn("hod", hour(col("h")).cast("int"))
      .groupBy("event_type", "hod")
      .agg(count(lit(1)).as("n_hours"), sum("c").as("n_events"))
      .withColumn("mean_micro", expr("(n_events * 1000000) div n_hours"))
    val w = Window.partitionBy("event_type")
      .orderBy(col("mean_micro").desc, col("hod").asc)
    prof.withColumn("is_peak", (row_number().over(w) === 1).cast("int"))
      .select("event_type", "hod", "n_hours", "n_events", "mean_micro",
              "is_peak")
      .orderBy("event_type", "hod")
  }

  /** Seasonal-naive forecast BACKTEST — the eval harness closing the
    * seasonality family (the measure→apply pairing rule:
    * [[seasonalProfile]] measures the diurnal shape, this scores how
    * well that shape actually predicts): forecast each hour's count as
    * the FLOOR-MEAN OF ALL PRIOR SAME-HOUR-OF-DAY counts (an expanding
    * window per (type, hod) — strictly causal, no leakage: the frame
    * excludes the current row, and the first observation of each bin
    * is unscored), then report per type the MAE and the signed mean
    * bias. ALL-INTEGER: forecasts are floor divisions of non-negative
    * running sums (div ≡ `//`); the bias numerator can be negative →
    * sign-split floor form in the oracle, plain div in Spark. Same
    * per-(type, hod) window parallelism as the profile; per-type
    * single-row output at any scale. */
  def forecastBacktest(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hc = Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("c"))
      .withColumn("hod", hour(col("h")).cast("int"))
    val w = Window.partitionBy("event_type", "hod").orderBy("h")
      .rowsBetween(Window.unboundedPreceding, -1)
    hc.withColumn("np", count(lit(1)).over(w))
      .withColumn("sp", sum("c").over(w))
      .filter(col("np") >= 1)
      .withColumn("fc", expr("sp div np"))
      .withColumn("err", col("c") - col("fc"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_fc"),
           sum(abs(col("err"))).as("sum_abs_err"),
           sum("err").as("bias_num"))
      .withColumn("mae_micro", expr("(sum_abs_err * 1000000) div n_fc"))
      .withColumn("bias_milli", expr("(bias_num * 1000) div n_fc"))
      .select("event_type", "n_fc", "sum_abs_err", "mae_micro",
              "bias_num", "bias_milli")
      .orderBy("event_type")
  }

  /** Sliding 2-hour windows every 1 hour (each event in 2 windows). */
  def sliding(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("window.start"), fmt).as("ws"),
              col("event_type"), col("n"))

  /** The session gap: a per-user inactivity of at least 5 minutes, in
    * µs, starts a new session (time_session, time_session_ids, the
    * lt_5m edge of time_gap_stats and EventStream's sessionizer). */
  private[graft] val SessionGapMicros = 300000000L

  /** Session windows: [[SessionGapMicros]] inactivity gap per user. */
  def session(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"),
               session_window(col("ts"), s"$SessionGapMicros microseconds"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"),
              date_format(col("session_window.start"), fmt).as("session_start"),
              col("n"))

  /** Per-EVENT session-id assignment — the gaps-and-islands companion
    * of [[session]] (which aggregates per session; this labels every
    * event row so downstream joins can group by session): new-session
    * flag when the per-user gap ≥ the SAME 5-minute threshold, running
    * sum = the session ordinal. The (ts, event_id) total order makes
    * ties deterministic; one window pass, one user_id exchange. */
  def sessionIds(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"))
      .withColumn("prev", lag(col("ts"), 1).over(w))
      .withColumn("new_s",
        (col("prev").isNull ||
         unix_micros(col("ts")) - unix_micros(col("prev")) >= SessionGapMicros)
          .cast("long"))
      .withColumn("session_no",
        sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("user_id"), col("event_id"), col("session_no"),
              col("new_s").cast("int").as("is_session_start"))
      .orderBy("user_id", "event_id")
  }

  /** Inter-event gap distribution — the EVIDENCE behind [[session]]'s
    * 5-minute threshold (and any watermark choice): per-user
    * consecutive-event gaps in integer microseconds (unix_micros ≡
    * DuckDB epoch_us under the mandatory UTC session, the asofNearest
    * precedent; ties ordered by (ts, event_id), the rolling-stats
    * convention), bucketed at the thresholds an operator actually
    * tunes against — <1 s, <10 s, <60 s, <5 min (THE session gap),
    * <1 h, ≥1 h — with count/min/max/mean per bucket (gaps nonneg ⇒
    * plain integer div). One lag window per user + one 6-row agg;
    * state is |events| rows partitioned by user at any scale. */
  def gapStats(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val gaps = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("prev", lag(col("ts"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select((unix_micros(col("ts")) - unix_micros(col("prev"))).as("gap_us"))
    val bucketId = when(col("gap_us") < 1000000L, 0)
      .when(col("gap_us") < 10000000L, 1)
      .when(col("gap_us") < 60000000L, 2)
      .when(col("gap_us") < SessionGapMicros, 3)
      .when(col("gap_us") < 3600000000L, 4)
      .otherwise(5)
    val bucketName = when(col("bucket_id") === 0, "lt_1s")
      .when(col("bucket_id") === 1, "lt_10s")
      .when(col("bucket_id") === 2, "lt_60s")
      .when(col("bucket_id") === 3, "lt_5m")
      .when(col("bucket_id") === 4, "lt_1h")
      .otherwise("ge_1h")
    gaps.withColumn("bucket_id", bucketId)
      .withColumn("bucket", bucketName)
      .groupBy("bucket_id", "bucket")
      .agg(count(lit(1)).as("n_gaps"),
           min("gap_us").as("min_us"),
           max("gap_us").as("max_us"),
           sum("gap_us").as("sum_us"))
      .withColumn("mean_us", expr("sum_us div n_gaps"))
      .select("bucket_id", "bucket", "n_gaps", "min_us", "max_us", "mean_us")
      .orderBy("bucket_id")
  }

  /** As-of join, composed Spark-first (SURVEY preference (a): built-in
    * composition before custom operators): each purchase event picks up
    * the most recent prior-or-simultaneous click by the same user.
    * Union both sides tagged, one window pass per user ordered by
    * (ts, side) with `last(..., ignoreNulls)` carrying the b-side
    * forward — a single shuffle on user_id, no range cross-product.
    * DuckDB's native ASOF LEFT JOIN is the oracle. */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(spark, dir)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"),
              lit(1).as("is_a"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"),
              lit(0).as("is_a"))
    // b-side sorts before a-side at equal ts → `>=` (inclusive) semantics
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("is_a").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    purchases.unionByName(clicks)
      .withColumn("click_id",
        last(when(col("is_a") === 0, col("event_id")), ignoreNulls = true).over(w))
      .withColumn("click_value",
        last(when(col("is_a") === 0, col("value")), ignoreNulls = true).over(w))
      .filter(col("is_a") === 1)
      .select(col("event_id"), col("user_id"),
              date_format(col("ts"), fmt).as("ats"),
              col("click_id"), col("click_value"))
  }

  /** NEAREST-event as-of join — the sensor-alignment variant of
    * [[asofJoin]] (which is backward-only): each purchase picks the
    * click with the SMALLEST absolute time distance within ±1 hour,
    * ties broken by click event_id. Same bounded shape as
    * [[intervalJoin]] (equi-key on user + two-sided range), then one
    * window min per purchase — never an unbounded time cross-product.
    * Δt is emitted as signed integer MICROSECONDS (unix_micros /
    * epoch_us on the two engines — identical under the mandatory UTC
    * session), so the ranking key |Δt| is pure integer. */
  def asofNearest(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(spark, dir)
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("p_id"))
    val c = e.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
              col("event_id").as("c_id"))
    val w = Window.partitionBy("p_id")
      .orderBy(abs(col("dt_us")).asc, col("c_id").asc)
    p.join(c, col("user_id") === col("c_user") &&
             col("c_ts").between(col("p_ts") - expr("INTERVAL 1 HOUR"),
                                 col("p_ts") + expr("INTERVAL 1 HOUR")))
      .select(col("p_id"), col("user_id"), col("p_ts"), col("c_id"),
              (unix_micros(col("c_ts")) - unix_micros(col("p_ts"))).as("dt_us"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("p_id").as("event_id"), col("user_id"),
              date_format(col("p_ts"), fmt).as("ats"),
              col("c_id").as("click_id"), col("dt_us"))
  }

  /** Interval (range) join: purchases within 1 hour after a click by the
    * same user — the batch shape of EventStream.clickPurchaseJoin
    * (StreamingSpec proves stream ≡ batch). Equi-key on user bounds the
    * range explosion: shuffle by user, per-user interval scan. */
  def intervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"),
              col("event_id").as("click_id"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
              col("event_id").as("p_id"))
    clicks.join(purchases,
      expr("user_id = p_user AND p_ts >= click_ts " +
           "AND p_ts <= click_ts + INTERVAL 1 HOUR"))
      .select(col("click_id"), col("p_id"), col("user_id"))
  }

  /** Ordered funnel (view → click → purchase): stage k's entry time is
    * the user's earliest stage-k event STRICTLY AFTER their stage-(k-1)
    * entry — the product-analytics sequence query (not mere membership:
    * a purchase before the first view does not convert). Each stage is
    * one filtered aggregate + an equi-join on user_id (shuffle by user,
    * stage frames shrink monotonically); no window over the full event
    * stream, no self-join explosion. Output: one row per stage with the
    * surviving-user count. */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val s1 = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t1"))
    val s2 = e.filter(col("event_type") === "click").join(s1, Seq("user_id"))
      .filter(col("ts") > col("t1"))
      .groupBy("user_id").agg(min("ts").as("t2"))
    val s3 = e.filter(col("event_type") === "purchase").join(s2, Seq("user_id"))
      .filter(col("ts") > col("t2"))
      .groupBy("user_id").agg(min("ts").as("t3"))
    e.agg(countDistinct("user_id").as("n_users"))
      .select(lit("0_all").as("stage"), col("n_users"))
      .unionByName(s1.agg(count(lit(1)).as("n_users"))
        .select(lit("1_view").as("stage"), col("n_users")))
      .unionByName(s2.agg(count(lit(1)).as("n_users"))
        .select(lit("2_click").as("stage"), col("n_users")))
      .unionByName(s3.agg(count(lit(1)).as("n_users"))
        .select(lit("3_purchase").as("stage"), col("n_users")))
      .orderBy("stage")
  }

  /** Day-7 retention cohorts: users grouped by first-activity day;
    * per cohort, how many were active again exactly 7 days later. One
    * first-seen aggregate + one distinct (user, day) frame, joined on
    * user_id — the cohort matrix at any scale is |users| rows into a
    * |cohorts|-row result, never events². (Day, not week: the 30-day
    * synthetic stream has one week-1 cohort, which would make the
    * check near-vacuous; day granularity yields multiple cohorts.) */
  def retention(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val firstSeen = e.groupBy("user_id").agg(min("ts").as("first_ts"))
      .select(col("user_id"), date_trunc("day", col("first_ts")).as("w0"))
    val active = e.select(col("user_id"),
                          date_trunc("day", col("ts")).as("w")).distinct()
    firstSeen.join(active, Seq("user_id"))
      .groupBy("w0")
      .agg(countDistinct("user_id").as("n_users"),
           countDistinct(when(col("w") === col("w0") + expr("INTERVAL 7 DAYS"),
                              col("user_id"))).as("n_retained_w1"))
      .select(date_format(col("w0"), fmt).as("cohort_day"),
              col("n_users"), col("n_retained_w1"),
              Num.rnd(lit(100.0) * col("n_retained_w1") / col("n_users"), 2)
                .as("retained_pct"))
      .orderBy("cohort_day")
  }

  /** SCD2 (type-2 slowly-changing dimension) history from a change log:
    * per user, each signup event's attribute value is valid from its
    * own timestamp until the NEXT change (lead), open-ended (null +
    * is_current) for the latest — the warehouse dimension-history build,
    * one window over the change log partitioned by the dimension key.
    * event_id breaks timestamp ties deterministically on both engines. */
  def scd2(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(spark, dir)
      .filter(col("event_type") === "signup")
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .withColumn("vt", lead("ts", 1).over(w))
      .select(col("user_id"), col("event_id"),
              date_format(col("ts"), fmt).as("valid_from"),
              date_format(col("vt"), fmt).as("valid_to"),
              col("vt").isNull.cast("int").as("is_current"),
              col("value"))
  }

  /** Gap fill / resample: hourly spine per event type with forward-filled
    * aggregates — the step that turns an irregular event stream into the
    * regular series downstream models need. The spine is generated
    * IN-PLAN (sequence over the global [min, max] hour range — two tiny
    * rows broadcast, exploded per type), outer-joined to the hourly
    * aggregate, and empty hours forward-fill the last observed sum via
    * `last(..., ignoreNulls)` — one window per type. Output marks filled
    * rows so downstream can distinguish observation from carry. */
  def gapFill(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(spark, dir)
    val hourly = e.groupBy(date_trunc("hour", col("ts")).as("h"),
                           col("event_type"))
      .agg(count(lit(1)).as("n"), Num.rnd(sum("value"), 2).as("sum_v"))
    val bounds = e.agg(date_trunc("hour", min("ts")).as("h0"),
                       date_trunc("hour", max("ts")).as("h1"))
    val types = e.select("event_type").distinct()
    val spine = types.crossJoin(broadcast(bounds))
      .select(col("event_type"),
              explode(expr("sequence(h0, h1, interval 1 hour)")).as("h"))
    val w = Window.partitionBy("event_type").orderBy(col("h").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(hourly, Seq("event_type", "h"), "left")
      .withColumn("filled", col("n").isNull.cast("int"))
      .select(col("event_type"), date_format(col("h"), fmt).as("hs"),
              coalesce(col("n"), lit(0L)).as("n"),
              last(col("sum_v"), ignoreNulls = true).over(w).as("sum_v_ff"),
              col("filled"))
  }

  /** Trailing-window spike detection on the hourly event-rate series —
    * the ops-side anomaly monitor over the same stream the windowed
    * aggregations feed. A spike = an hour whose count more than doubles
    * the trailing-24h mean (with ≥ 12 trailing hours of warm-up). The
    * test is ALL-INTEGER — `c·k > 2·s24` instead of a float mean — so
    * flags are exactly reproducible. One aggregation to |hours| rows,
    * then a window over the tiny series: at 100 TB the raw-to-hourly
    * reduction happens map-side and the anomaly pass is O(hours). */
  def spike(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hourly = Tables.events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("c"))
    val w = Window.orderBy("h").rowsBetween(-24, -1)
    hourly
      .withColumn("s24", coalesce(sum("c").over(w), lit(0L)))
      .withColumn("k", count(lit(1)).over(w))
      .select(date_format(col("h"), fmt).as("h"),
              col("c"), col("s24"), col("k"),
              (col("k") >= 12 && col("c") * col("k") > col("s24") * 2)
                .cast("int").as("is_spike"))
      .orderBy("h")
  }

  /** Robust (median/MAD) outlier detection on the daily event-count
    * series — the heavy-tail-safe complement of [[spike]]'s trailing-
    * mean test: a traffic burst can't drag the center the way it drags
    * a mean, so sustained-anomaly days still flag. ALL-INTEGER: the
    * center is the LOWER MEDIAN at positional rank `(cnt+1) div 2`
    * (same rule as corpus_quantile_select — keep in lockstep), MAD is
    * the lower median of the integer deviations, and the flag is
    * `|x − med| > 3·mad` — exactly reproducible, no float quantiles.
    * Shape: one map-side-combined aggregation to \|types·days\| rows,
    * then per-type windows over that model-sized series; at 100 TB the
    * raw-to-daily reduction is the only corpus-sized pass. Classic MAD
    * caveat applies (mad = 0 when over half the days tie — then any
    * deviation flags), which is the standard behavior. */
  def madOutlier(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("d"))
      .agg(count(lit(1)).as("x"))
    val wAll = Window.partitionBy("event_type")
    def lowerMedian(df: DataFrame, value: String, as: String): DataFrame = {
      val ord = Window.partitionBy("event_type")
        .orderBy(col(value).asc, col("d").asc)
      df.withColumn("rn", row_number().over(ord))
        .withColumn("cnt", count(lit(1)).over(wAll))
        .filter(col("rn") === expr("(cnt + 1) div 2"))
        .select(col("event_type"), col(value).as(as))
    }
    val med = lowerMedian(daily, "x", "med")
    val dev = daily.join(med, Seq("event_type"))
      .withColumn("dev", abs(col("x") - col("med")))
    val mad = lowerMedian(dev, "dev", "mad")
    dev.join(mad, Seq("event_type"))
      .select(col("event_type"), date_format(col("d"), fmt).as("d"),
              col("x"), col("med"), col("mad"),
              (col("dev") > col("mad") * 3).cast("int").as("is_outlier"))
      .orderBy("event_type", "d")
  }

  /** Rolling-baseline stats + Bollinger-style band break per event
    * type — the online anomaly screen a metrics pipeline runs (current
    * value vs the mean ± 3σ of its 5 PRECEDING events, under the
    * deterministic (ts, event_id) order — [[ohlc]]'s total order,
    * lockstep). EXACT
    * integer algebra throughout: values micronized to BIGINT cents
    * (round(v·100), the agg_hist_quantile precedent — the 2-dp-grain
    * double is always within fp-noise of an integer, so both engines
    * round identically), variance as the numerator n·Σc² − (Σc)²
    * (≥ 0, no division), and the 3σ test cross-multiplied to
    * (c·n − Σc)² > 9·(n·Σc² − (Σc)²) — no sqrt, no division, no
    * doubles, bit-identical across engines and partitionings (values
    * are nonneg and ≤ ~56k cents, so every product is far inside
    * int64). One window pass, shuffling once on event_type. */
  def rollingStats(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // baseline = the PRECEDING 5 rows only: a point inside its own
    // window can deviate at most √(n−1)·σ ≈ 2σ, so a 3σ test against a
    // self-inclusive window is structurally dead — the online shape
    // compares the current value to its recent PAST
    val w = Window.partitionBy("event_type")
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(-5, -1)
    Tables.events(spark, dir)
      .select(col("event_type"), col("ts"), col("event_id"),
              round(col("value") * 100).cast("long").as("c"))
      .withColumn("n_win", count(lit(1)).over(w))
      .withColumn("sum_c", coalesce(sum("c").over(w), lit(0L)))
      .withColumn("sum_c2", coalesce(sum(col("c") * col("c")).over(w), lit(0L)))
      .select(col("event_type"), date_format(col("ts"), fmt).as("ts"),
              col("event_id"), col("c"), col("n_win"), col("sum_c"),
              (col("n_win") * col("sum_c2") - col("sum_c") * col("sum_c"))
                .as("var_num"),
              (col("n_win") >= 2 &&
               (col("c") * col("n_win") - col("sum_c")) *
               (col("c") * col("n_win") - col("sum_c")) >
                 lit(9L) * (col("n_win") * col("sum_c2") -
                            col("sum_c") * col("sum_c")))
                .cast("int").as("is_band_break"))
  }

  /** Full cohort-retention matrix — [[retention]]'s day-7 column
    * generalized to every (cohort_day, day_offset) cell: distinct
    * active users per cohort per day-since-first-seen, the curve a
    * product dashboard plots. Two shuffles (first-seen per user,
    * cohort-cell aggregate); the matrix is |days|² cells regardless of
    * event volume. */
  def cohortMatrix(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val firstSeen = e.groupBy("user_id")
      .agg(date_trunc("day", min("ts")).as("w0"))
    val active = e.select(col("user_id"),
                          date_trunc("day", col("ts")).as("w")).distinct()
    firstSeen.join(active, Seq("user_id"))
      .groupBy(col("w0"), datediff(col("w"), col("w0")).as("day_offset"))
      .agg(countDistinct("user_id").as("n_active"))
      .select(date_format(col("w0"), fmt).as("cohort_day"),
              col("day_offset"), col("n_active"))
      .orderBy("cohort_day", "day_offset")
  }

  /** Event-type TRANSITION matrix — the first-order Markov view of user
    * behavior (which action follows which): per user, order events by
    * (ts, event_id) (the family's total order), pair each event with its
    * predecessor via lag, then count (prev_type → event_type) globally
    * and report each transition's share of its source row. Probability
    * is exact integer micro (cnt·1e6 div tot — non-negative, so Spark
    * `div` ≡ DuckDB `//`). Scale: one window shuffle on user_id (the
    * same exchange every per-user query pays) + one |types|²-row agg —
    * the matrix is model-sized at any event volume. */
  def transitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    val cnt = Tables.events(spark, dir)
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy("prev_type", "event_type")
      .agg(count(lit(1)).as("cnt"))
    val tot = cnt.groupBy("prev_type").agg(sum("cnt").as("tot"))
    cnt.join(broadcast(tot), Seq("prev_type"))
      .withColumn("share_micro",
        expr("(cnt * CAST(1000000 AS BIGINT)) div tot"))
      .select("prev_type", "event_type", "cnt", "tot", "share_micro")
      .orderBy("prev_type", "event_type")
  }

  /** Per-user Shannon entropy of the event-type mix — the behavioral
    * diversity score (bots hammer one endpoint → H ≈ 0; organic users
    * spread → H ≈ ln |types|). Exact-integer micro-nat discipline (the
    * ln rule): H = ln n − (Σ c·ln c)/n with each ln micronized FIRST,
    * then all arithmetic BIGINT (Σ c·lnM(c) ≤ n·lnM(n) — non-negative,
    * div ≡ //). One groupBy on (user, type) then a per-user fold —
    * two map-side-combined aggregations, no window. */
  def userEntropy(spark: SparkSession, dir: String): DataFrame = {
    import Num.lnMicro
    Tables.events(spark, dir)
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("c"))
      .groupBy("user_id")
      .agg(sum("c").as("n_events"), count(lit(1)).as("n_types"),
           sum(col("c") * lnMicro(col("c"))).as("sclnc"))
      .withColumn("h_micro",
        lnMicro(col("n_events")) - expr("sclnc div n_events"))
      .select("user_id", "n_events", "n_types", "h_micro")
      .orderBy("user_id")
  }

  /** Exact per-type value quantiles (p50/p90/p99) by positional rank —
    * the latency-report shape: rank rn = ceil(q·n/100) = (q·n+99) div
    * 100 under the (value, event_id) total order, exact SELECTION of a
    * stored double (zero float arithmetic — the agg_median rule; the
    * sketch path is agg_hist_quantile). One window pass + one
    * conditional agg per type. */
  def valueQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type")
      .orderBy(col("value").asc, col("event_id").asc)
    Tables.events(spark, dir)
      .select(col("event_type"), col("value"), col("event_id"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
      .groupBy("event_type")
      .agg(max("n").as("n"),
        max(when(col("rn") === expr("(n * 50 + 99) div 100"), col("value")))
          .as("p50"),
        max(when(col("rn") === expr("(n * 90 + 99) div 100"), col("value")))
          .as("p90"),
        max(when(col("rn") === expr("(n * 99 + 99) div 100"), col("value")))
          .as("p99"))
      .orderBy("event_type")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "time_session_ids" -> sessionIds _,
    "time_value_quantiles" -> valueQuantiles _,
    "time_transitions" -> transitions _,
    "time_user_entropy" -> userEntropy _,
    "time_gap_stats" -> gapStats _,
    "time_cohort"   -> cohortMatrix _,
    "time_spike"    -> spike _,
    "time_mad_outlier" -> madOutlier _,
    "time_rolling_stats" -> rollingStats _,
    "time_gap_fill"      -> gapFill _,
    "time_tumbling"      -> tumbling _,
    "time_ohlc"          -> ohlc _,
    "time_ewma"          -> ewma _,
    "time_autocorr"      -> autocorr _,
    "time_acf"           -> acf _,
    "time_cusum"         -> cusum _,
    "time_seasonal_profile" -> seasonalProfile _,
    "time_forecast_backtest" -> forecastBacktest _,
    "time_sliding"       -> sliding _,
    "time_session"       -> session _,
    "time_asof_join"     -> asofJoin _,
    "time_asof_nearest"  -> asofNearest _,
    "time_interval_join" -> intervalJoin _,
    "time_funnel"        -> funnel _,
    "time_retention"     -> retention _,
    "cdc_scd2"           -> scd2 _)
}
