package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types._

/** Structured Streaming over the `events` table — the streaming extension
  * the reference only aspires to (SURVEY §2.9; milestone doc "Streaming
  * ingestion"). The transforms are the SAME expressions as the batch
  * `graft.ext.TimeOps` queries, applied to `readStream` — StreamingSpec
  * proves batch ≡ streaming on identical data.
  *
  * Scale notes: watermark bounds state; windowed aggregation state is
  * per (window × event_type) — O(active windows), not O(events).
  */
/** Open-session accumulator for sessionizeStream (epoch millis). */
case class SessionAcc(startMs: Long, lastMs: Long, n: Long)

/** A completed session emitted by sessionizeStream (epoch millis). */
case class SessionOut(user_id: Long, session_start_ms: Long, n: Long)

object EventStream {

  /** File-based stream source over a directory of events parquet (the
    * deterministic replay harness; in production: Kafka etc.).
    *
    * `readStream` needs an explicit schema, so probe the at-rest schema
    * with a one-time batch read of the directory, then apply the same
    * `ts` normalization as the batch loader (`Tables.normalizeTs`) —
    * long-nanos, TIMESTAMP_NTZ(µs), and adjusted-TIMESTAMP inputs all
    * surface as session-TZ TimestampType, so stream ≡ batch holds
    * whatever the driver's testdata encoding. */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val atRest =
      try spark.read.parquet(dir).schema
      catch {
        // Stream-first deployment: the directory may be empty (no parquet
        // yet) when the stream starts. Fall back to the documented events
        // shape with session-TZ ts — the encoding every normalizeTs branch
        // converges to — so the stream can start before the first file.
        case _: org.apache.spark.sql.AnalysisException => defaultEventsSchema
      }
    graft.Tables.normalizeTs(spark.readStream.schema(atRest).parquet(dir))
  }

  /** At-rest fallback schema for an empty stream directory (TESTDATA.md
    * events shape; ts as session-TZ TimestampType = normalizeTs's fixed
    * point, so files later arriving in that encoding bind directly). */
  private[streaming] val defaultEventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Tumbling 1-hour windowed aggregation with a 10-minute watermark:
    * late data beyond the watermark is dropped; state is evicted once
    * the watermark passes a window's end. */
  def tumblingAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_v"))
      .select(col("window.start").as("ws"), col("event_type"),
              col("n"), col("sum_v"))

  /** Streaming OHLC bars — the continuous form of the batch
    * [[graft.ext.TimeOps.ohlc]] downsampler. The batch side's
    * row_number windows aren't available under streaming; `min_by`/
    * `max_by` keyed on the (ts, event_id) struct pick the identical
    * first/last rows declaratively (lexicographic struct order ≡ the
    * batch ORDER BY ts, event_id), so StreamingSpec can assert
    * stream ≡ batch bar-for-bar. State is one row per
    * (window × event_type), evicted at the watermark. */
  def ohlcBars(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
           min_by(col("value"), struct(col("ts"), col("event_id"))).as("open_v"),
           max_by(col("value"), struct(col("ts"), col("event_id"))).as("close_v"),
           min("value").as("low_v"),
           max("value").as("high_v"),
           sum("value").as("vol_v"))
      .select(col("event_type"),
              date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("h"),
              col("n"), col("open_v"), col("close_v"),
              col("low_v"), col("high_v"), col("vol_v"))

  /** Streaming dedup on event_id within the watermark horizon —
    * exactly-once per key under bounded state. */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Per-user running aggregate via mapGroupsWithState: custom state
    * machine (count + running sum) — the KeyValueGroupedDataset stateful
    * path for logic windows can't express. */
  def userTotals(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    case class Ev(user_id: Long, value: Double)
    val typed = events.select(col("user_id"), col("value")).as[(Long, Double)]
    typed
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (user: Long, evs: Iterator[(Long, Double)],
         state: GroupState[(Long, Double)]) =>
          val (n0, s0) = state.getOption.getOrElse((0L, 0.0))
          var n = n0; var s = s0
          evs.foreach { e => n += 1; s += e._2 }
          state.update((n, s))
          (user, n, s)
      }
      .toDF("user_id", "n_events", "sum_value")
  }

  /** Sessionization via flatMapGroupsWithState: per-user sessions closed
    * by a 5-minute event-time gap, EMITTED only when the watermark proves
    * no earlier event can arrive (event-time timeout) — the canonical
    * custom-state streaming operator the built-in session_window can't
    * generalize (e.g. per-session payloads, early triggers). */
  def sessionizeStream(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    val gapMs = graft.ext.TimeOps.SessionGapMicros / 1000
    val typed = events
      .withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("ts"))
      .as[(Long, java.sql.Timestamp)]
    typed
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionAcc, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, evs: Iterator[(Long, java.sql.Timestamp)],
         state: GroupState[SessionAcc]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(user, s.startMs, s.n))
          } else {
            // batch-sorted fold: events within a micro-batch arrive unsorted
            val sorted = evs.map(_._2.getTime).toSeq.sorted
            var acc = state.getOption.getOrElse(
              SessionAcc(sorted.head, sorted.head, 0L))
            val closed = Seq.newBuilder[SessionOut]
            sorted.foreach { tMs =>
              if (tMs - acc.lastMs >= gapMs) {
                closed += SessionOut(user, acc.startMs, acc.n)
                acc = SessionAcc(tMs, tMs, 1L)
              } else {
                acc = acc.copy(lastMs = tMs, n = acc.n + 1)
              }
            }
            state.update(acc)
            state.setTimeoutTimestamp(acc.lastMs + gapMs)
            closed.result().iterator
          }
      }
      .toDF("user_id", "session_start_ms", "n")
  }

  /** Streaming ordered funnel via mapGroupsWithState: per-user stage
    * machine mirroring the batch `TimeOps.funnel` semantics (stage k
    * advances on the first stage-k event STRICTLY AFTER stage k-1's
    * entry). Processing a user's events in timestamp order makes the
    * greedy online transition equal the batch min-ts definition: the
    * first qualifying event in order IS the minimum. State is two
    * numbers per user — O(users), never O(events); timestamps compare
    * at micros, exactly like the batch TimestampType comparison (millis
    * would erase sub-ms "strictly after" gaps). Events are sorted
    * within each micro-batch; cross-batch regressions are bounded by
    * the source's ordering guarantee (the deterministic-replay harness
    * delivers one batch). Update-mode output: (user_id, stage). */
  def funnelStream(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    val typed = events
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), unix_micros(col("ts")).as("tsu"),
              col("event_type"))
      .as[(Long, Long, String)]
    typed
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (user: Long, evs: Iterator[(Long, Long, String)],
         state: GroupState[(Int, Long)]) =>
          var (stage, stageTs) = state.getOption.getOrElse((0, Long.MinValue))
          evs.toSeq.sortBy(e => (e._2, e._3)).foreach { case (_, ts, t) =>
            (stage, t) match {
              case (0, "view")                      => stage = 1; stageTs = ts
              case (1, "click") if ts > stageTs     => stage = 2; stageTs = ts
              case (2, "purchase") if ts > stageTs  => stage = 3; stageTs = ts
              case _                                => ()
            }
          }
          state.update((stage, stageTs))
          (user, stage)
      }
      .toDF("user_id", "stage")
  }

  /** Streaming event-type transitions via flatMapGroupsWithState — the
    * online face of `time_transitions`: per-user state is ONE tuple
    * (last ts, event_id, type); each micro-batch sorts its slice by the
    * family's (ts, event_id) total order and emits one (prev_type,
    * event_type) pair per consecutive step, carrying the boundary event
    * across batches in state. Equal to the batch lag when the source
    * delivers each user's events time-ordered across batches (the
    * funnelStream contract — the checkpoint-resume spec drives a
    * time-split two-batch arrival to prove the carry). State O(users);
    * output Append. */
  def transitionsStream(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    val typed = events
      .select(col("user_id"), unix_micros(col("ts")).as("tsu"),
              col("event_id"), col("event_type"))
      .as[(Long, Long, Long, String)]
    typed
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, String), (String, String)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: Long, evs: Iterator[(Long, Long, Long, String)],
         state: GroupState[(Long, Long, String)]) =>
          var last = state.getOption.orNull
          val out = Seq.newBuilder[(String, String)]
          evs.toSeq.sortBy(e => (e._2, e._3)).foreach { case (_, ts, id, t) =>
            if (last != null) out += ((last._3, t))
            last = (ts, id, t)
          }
          if (last != null) state.update(last)
          out.result().iterator
      }
      .toDF("prev_type", "event_type")
  }

  /** Stream-stream interval join: purchases within 1 hour AFTER a click
    * by the same user. Both sides carry watermarks so join state is
    * evicted once the interval can no longer match — bounded state, the
    * only way a stream-stream join survives at scale. */
  def clickPurchaseJoin(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("ts").as("click_ts"),
              col("event_id").as("click_id"))
    val purchases = events.filter(col("event_type") === "purchase")
      .withWatermark("ts", "10 minutes")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
              col("event_id").as("p_id"))
    clicks.join(purchases,
      expr("user_id = p_user AND p_ts >= click_ts " +
           "AND p_ts <= click_ts + INTERVAL 1 HOUR"))
      .select(col("click_id"), col("p_id"), col("user_id"))
  }

  /** foreachBatch parquet sink: each micro-batch lands in its own
    * `batch_id=N` directory with overwrite — re-processing a batch after
    * a failure rewrites the same path instead of duplicating rows
    * (idempotent, the standard exactly-once file-sink recipe when the
    * built-in file sink's log can't be used). */
  def runToParquet(streamed: DataFrame, outDir: String,
                   checkpointDir: String,
                   mode: OutputMode = OutputMode.Update()): Unit = {
    val q = streamed.writeStream
      .outputMode(mode)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** Run a streaming frame to completion against a memory sink and
    * return the materialized result (deterministic replay for tests). */
  def runToMemory(spark: SparkSession, streamed: DataFrame, name: String,
                  mode: OutputMode = OutputMode.Complete()): DataFrame = {
    val q: StreamingQuery = streamed.writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(name)
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }
}
