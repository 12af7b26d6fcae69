package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.streaming.EventStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Structured Streaming ≡ batch on deterministic replay: the same
  * window expressions produce identical results whether the events
  * parquet is read as a stream or a table (SURVEY §5 streaming note). */
class StreamingSpec extends SparkSpec {

  /** Stream sources need a directory containing ONLY the stream's files. */
  private lazy val streamDir: String = {
    val dir = Files.createTempDirectory("graft-events-stream").toString
    Files.copy(Paths.get(s"$sf0001/events.parquet"),
      Paths.get(s"$dir/events-000.parquet"), StandardCopyOption.REPLACE_EXISTING)
    dir
  }

  test("streaming tumbling agg equals batch tumbling agg") {
    val streamed = EventStream.runToMemory(
      spark,
      EventStream.tumblingAgg(EventStream.readEvents(spark, streamDir)),
      "tumbling_out", OutputMode.Append())
      // double sums accumulate in partition order, which differs between
      // the streaming and batch plans — values have 2-dp grain, so
      // rounding at 2 dp is exact and order-insensitive
      .withColumn("sum_v", round(col("sum_v"), 2))
    val batch = Tables.events(spark, sf0001)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_v"))
      .select(col("window.start").as("ws"), col("event_type"),
              col("n"), col("sum_v"))
    assert(streamed.count() > 0)
    // every emitted window matches batch exactly
    assert(streamed.exceptAll(batch).count() === 0)
    // append mode withholds windows not yet past the watermark: batch-only
    // rows must all sit in the unfinalized tail (>= max_ts - 10min - 1h)
    val maxTs = Tables.events(spark, sf0001).agg(max("ts")).head().getTimestamp(0)
    val cutoff = new java.sql.Timestamp(
      maxTs.getTime - (10 * 60 + 60 * 60) * 1000L)
    val batchOnly = batch.exceptAll(streamed)
    assert(batchOnly.filter(col("ws") < cutoff).count() === 0)
  }

  test("streaming OHLC bars equal the batch downsampler") {
    val streamed = EventStream.runToMemory(
      spark,
      EventStream.ohlcBars(EventStream.readEvents(spark, streamDir)),
      "ohlc_out", OutputMode.Append())
      // volume sums accumulate in partition order (2-dp grain rule);
      // open/close/low/high are single raw values — bit-exact. Num.rnd
      // to match the batch side's rounding exactly
      .withColumn("vol_v", graft.ops.Num.rnd(col("vol_v"), 2))
    val batch = ext.TimeOps.ohlc(spark, sf0001)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() === 0,
           "streamed bar absent from batch")
    // append mode withholds bars not yet past the watermark: batch-only
    // bars must all sit in the unfinalized tail
    val maxTs = Tables.events(spark, sf0001).agg(max("ts")).head().getTimestamp(0)
    val cutoffStr = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss") {
      setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    }.format(new java.util.Date(maxTs.getTime - (10 * 60 + 60 * 60) * 1000L))
    assert(batch.exceptAll(streamed).filter(col("h") < cutoffStr).count() === 0)
  }

  test("stream-static screen drops exactly the corpus-fingerprinted docs") {
    import graft.streaming.DocStream
    val dir = Files.createTempDirectory("graft-docs-screen").toString
    Files.copy(Paths.get(s"$sf0001/documents.parquet"),
      Paths.get(s"$dir/docs-000.parquet"), StandardCopyOption.REPLACE_EXISTING)
    // static corpus = first half of doc_ids; streamed ingest = everything
    val corpus = Tables.documents(spark, sf0001).filter(col("doc_id") < 25)
    val streamed = EventStream.runToMemory(
      spark, DocStream.screenNew(DocStream.readDocs(spark, dir), corpus),
      "doc_screen_out", OutputMode.Append())
    val batch = Tables.documents(spark, sf0001)
      .withColumn("fp", md5(col("text")))
      .join(corpus.select(md5(col("text")).as("fp")).distinct(),
            Seq("fp"), "left_anti")
    assert(streamed.count() > 0)
    assert(streamed.count() === batch.count())
    assert(streamed.select("doc_id").exceptAll(batch.select("doc_id")).count() === 0)
  }

  test("bloom-screened stream equals the plain screen, and the bloom diverts rows") {
    import graft.streaming.DocStream
    val dir = Files.createTempDirectory("graft-docs-bloomscreen").toString
    Files.copy(Paths.get(s"$sf0001/documents.parquet"),
      Paths.get(s"$dir/docs-000.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val corpus = Tables.documents(spark, sf0001).filter(col("doc_id") < 25)
    val streamed = EventStream.runToMemory(
      spark, DocStream.screenNewBloom(DocStream.readDocs(spark, dir), corpus),
      "doc_bloomscreen_out", OutputMode.Append())
    val plain = Tables.documents(spark, sf0001)
      .withColumn("fp", md5(col("text")))
      .join(corpus.select(md5(col("text")).as("fp")).distinct(),
            Seq("fp"), "left_anti")
    assert(streamed.count() > 0)
    assert(streamed.count() === plain.count())
    assert(streamed.select("doc_id").exceptAll(plain.select("doc_id")).count() === 0)
    assert(plain.select("doc_id").exceptAll(streamed.select("doc_id")).count() === 0)
    // the fast path must actually fire: some ingested docs are
    // bloom-negative (definitely-new) and bypass the join
    val bloom = corpus.select(xxhash64(col("text")).as("h"))
      .stat.bloomFilter("h", 1 << 17, 0.03)
    val negatives = Tables.documents(spark, sf0001)
      .filter(!functions.BloomMightContain.col(xxhash64(col("text")), bloom))
      .count()
    assert(negatives > 0, "bloom rejected nothing — fast path untested")
  }

  test("streaming PII redaction equals the batch redaction on replay") {
    import graft.streaming.DocStream
    val dir = Files.createTempDirectory("graft-docs-redact").toString
    Files.copy(Paths.get(s"$sf0001/documents.parquet"),
      Paths.get(s"$dir/docs-000.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val streamed = EventStream.runToMemory(
      spark, DocStream.redact(DocStream.readDocs(spark, dir)),
      "doc_redact_out", OutputMode.Append())
    val batch = graft.ext.TextOps.piiRedactOf(
      spark.read.parquet(s"$sf0001/documents.parquet"))
    assert(streamed.count() > 0)
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
    // redaction actually fired on the stream (not a pass-through run)
    assert(streamed.filter(col("redacted").contains("<EMAIL>")).count() > 0)
  }

  test("streaming document curation equals the batch curation on replay") {
    import graft.streaming.DocStream
    // duplicate the whole corpus: same file twice → dedup must collapse it
    val dir = Files.createTempDirectory("graft-docs-stream").toString
    val src = Paths.get(s"$sf0001/documents.parquet")
    Files.copy(src, Paths.get(s"$dir/docs-000.parquet"), StandardCopyOption.REPLACE_EXISTING)
    Files.copy(src, Paths.get(s"$dir/docs-001.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val streamed = EventStream.runToMemory(
      spark, DocStream.curate(DocStream.readDocs(spark, dir)),
      "doc_curate_out", OutputMode.Append())
    // batch reference: distinct texts passing the same repetition gate
    val toks = split(col("text"), " ")
    val batch = Tables.documents(spark, sf0001)
      .withColumn("rep_ratio",
        graft.ops.Num.rnd(lit(1.0) -
          size(array_distinct(toks)).cast("double") / size(toks), 6))
      .filter(col("rep_ratio") <= 0.5)
      .select("text").distinct()
    assert(streamed.count() > 0)
    assert(streamed.count() === batch.count())               // one per content
    assert(streamed.select("text").distinct().count() === streamed.count())
    assert(streamed.select("text").exceptAll(batch).count() === 0) // same set
    assert(batch.exceptAll(streamed.select("text")).count() === 0)
  }

  test("foreachBatch minhash screen over micro-batches equals the one-shot batch screen") {
    import graft.streaming.DocStream
    import graft.ext.Dedup
    val docs = Tables.documents(spark, sf0001)
    val split = 25L
    val corpus = docs.filter(col("doc_id") < split)
    // batch side: second half PLUS a planted exact duplicate of a corpus
    // doc under a fresh id — guarantees the screen fires (jaccard 1)
    val planted = corpus.filter(col("doc_id") === 0)
      .withColumn("doc_id", lit(1000L))
    val batchDocs = docs.filter(col("doc_id") >= split).unionByName(planted)
    val (hs, bands) = Dedup.minhashIndex(corpus, keep = true)(identity)

    // two stream files + maxFilesPerTrigger=1 → at least two micro-batches
    val dir = Files.createTempDirectory("graft-docs-mh-stream").toString
    def writeOne(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft-mh-one")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(s"$dir/$name"))
    }
    writeOne(batchDocs.filter(col("doc_id") % 2 === 0), "docs-000.parquet")
    writeOne(batchDocs.filter(col("doc_id") % 2 =!= 0), "docs-001.parquet")

    val out = Files.createTempDirectory("graft-mh-out").toString
    val ckpt = Files.createTempDirectory("graft-mh-ckpt").toString
    val stream = spark.readStream.schema(DocStream.docSchema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    DocStream.screenNewMinhashToParquet(stream, hs, bands, out, ckpt)

    // micro-batching actually happened (one batch_id dir per file)
    val batchDirs = new java.io.File(out).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch_id="))
    assert(batchDirs.length >= 2)

    val streamed = spark.read.parquet(s"$out/batch_id=*")
      .select("doc_id", "n_corpus_matches", "keep")
    val batch = Dedup.minhashIndex(batchDocs)(
        Dedup.minhashScreen((hs, bands), batchDocs, _))
      .select("doc_id", "n_corpus_matches", "keep")
    // every batch doc screened exactly once; stream ≡ one-shot batch in
    // the no-cap-firing regime this corpus is in (no batch shingle's DF
    // approaches MaxShingleDf — the invariance caveat in the scaladoc)
    assert(streamed.count() === batchDocs.count())
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
    // the planted duplicate is caught and dropped
    val dup = streamed.filter(col("doc_id") === 1000L).head()
    assert(dup.getLong(1) >= 1L) // n_corpus_matches
    assert(dup.getInt(2) === 0)  // keep = 0
  }

  test("streaming dedup keeps one row per event_id") {
    // duplicate the whole stream: same file twice
    val dir = Files.createTempDirectory("graft-events-dup").toString
    Files.copy(Paths.get(s"$sf0001/events.parquet"),
      Paths.get(s"$dir/a.parquet"), StandardCopyOption.REPLACE_EXISTING)
    Files.copy(Paths.get(s"$sf0001/events.parquet"),
      Paths.get(s"$dir/b.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val deduped = EventStream.runToMemory(
      spark,
      EventStream.dedupStream(EventStream.readEvents(spark, dir)),
      "dedup_out", OutputMode.Append())
    val distinctIds = Tables.events(spark, sf0001)
      .select("event_id").distinct().count()
    assert(deduped.select("event_id").distinct().count() === distinctIds)
    assert(deduped.count() === distinctIds)
  }

  test("flatMapGroupsWithState sessionization matches a batch fold for completed sessions") {
    val streamed = EventStream.runToMemory(
      spark,
      EventStream.sessionizeStream(spark, EventStream.readEvents(spark, streamDir)),
      "sess_out", OutputMode.Append())
    // batch reference: gaps-and-islands at the same ms precision
    val e = Tables.events(spark, sf0001)
      .select(col("user_id"), unix_millis(col("ts")).as("tms"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("tms")
    val batch = e
      .withColumn("new_s",
        when(lag(col("tms"), 1).over(w).isNull ||
             col("tms") - lag(col("tms"), 1).over(w) >= 300000L, 1).otherwise(0))
      .withColumn("sid", sum("new_s").over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy("user_id", "sid")
      .agg(min("tms").as("session_start_ms"), count(lit(1)).as("n"),
           max("tms").as("last_ms"))
    val batchKeyed = batch.select("user_id", "session_start_ms", "n")
    assert(streamed.count() > 0)
    // every emitted session exists identically in the batch fold
    assert(streamed.exceptAll(batchKeyed).count() === 0)
    // sessions the stream withheld must be tail sessions the watermark
    // never closed: lastMs + gap > watermark (maxTs - 10 min)
    val maxMs = Tables.events(spark, sf0001)
      .agg(max(unix_millis(col("ts")))).head().getLong(0)
    val wm = maxMs - 600000L
    val withheld = batch.join(streamed,
      Seq("user_id", "session_start_ms", "n"), "left_anti")
    assert(withheld.filter(col("last_ms") + 300000L <= wm).count() === 0)
  }

  test("stream-stream interval join equals the batch interval join") {
    val streamEvents = EventStream.readEvents(spark, streamDir)
    val streamed = EventStream.runToMemory(
      spark, EventStream.clickPurchaseJoin(streamEvents),
      "ssjoin_out", OutputMode.Append())
    val e = Tables.events(spark, sf0001)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("event_id").as("p_id"))
    val batch = clicks.join(purchases,
      expr("user_id = p_user AND p_ts >= click_ts AND p_ts <= click_ts + INTERVAL 1 HOUR"))
      .select(col("click_id"), col("p_id"), col("user_id"))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
  }

  test("foreachBatch sink writes idempotent per-batch parquet") {
    val out = Files.createTempDirectory("graft-fb-out").toString
    val ckpt = Files.createTempDirectory("graft-fb-ckpt").toString
    EventStream.runToParquet(
      EventStream.userTotals(spark, EventStream.readEvents(spark, streamDir)),
      out, ckpt)
    // materialize before the re-run overwrites the files underneath
    val firstCount = spark.read.parquet(out).count()
    val users = Tables.events(spark, sf0001).select("user_id").distinct().count()
    assert(spark.read.parquet(out).select("user_id").distinct().count() === users)
    // a re-run over the same checkpoint replays nothing; a fresh
    // checkpoint re-processes and OVERWRITES the same batch path — either
    // way the sink holds exactly one row set, no duplicates
    val ckpt2 = Files.createTempDirectory("graft-fb-ckpt2").toString
    EventStream.runToParquet(
      EventStream.userTotals(spark, EventStream.readEvents(spark, streamDir)),
      out, ckpt2)
    assert(spark.read.parquet(out).count() === firstCount)
  }

  test("stateful stream resumes from checkpoint: new files extend prior state") {
    // the production restart contract: a continuously-ingesting stateful
    // query is stopped, new files arrive, and the restarted query must
    // (a) NOT reprocess already-committed files and (b) resume its
    // per-key state, so cumulative totals keep counting from where the
    // first run left off — not from zero
    import org.apache.spark.sql.expressions.Window
    val inDir = Files.createTempDirectory("graft-resume-in").toString
    val out = Files.createTempDirectory("graft-resume-out").toString
    val ckpt = Files.createTempDirectory("graft-resume-ckpt").toString
    val ev = Tables.events(spark, sf0001)
    def addFile(cond: org.apache.spark.sql.Column, name: String): Unit = {
      val tmp = Files.createTempDirectory(s"graft-resume-$name")
      ev.filter(cond).coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(s"$inDir/$name.parquet"),
                 StandardCopyOption.REPLACE_EXISTING)
    }
    addFile(col("event_id") % 2 === 0, "half-a")
    EventStream.runToParquet(
      EventStream.userTotals(spark, EventStream.readEvents(spark, inDir)),
      out, ckpt)
    val batches1 = new java.io.File(out).listFiles()
      .count(_.getName.startsWith("batch_id="))
    addFile(col("event_id") % 2 =!= 0, "half-b")
    EventStream.runToParquet(
      EventStream.userTotals(spark, EventStream.readEvents(spark, inDir)),
      out, ckpt)
    val batches2 = new java.io.File(out).listFiles()
      .count(_.getName.startsWith("batch_id="))
    assert(batches2 > batches1, "restart emitted no new batch")
    // latest emission per user across all batches == batch ground truth
    // over the FULL event set: only possible if the restart resumed
    // half-a's state instead of recounting from zero
    val latest = spark.read.parquet(out)
      .withColumn("rn", row_number().over(
        Window.partitionBy("user_id").orderBy(col("batch_id").desc)))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("n_events"),
              round(col("sum_value"), 2).as("s"))
    val expected = ev.groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("s"))
    assert(latest.count() === expected.count())
    assert(latest.exceptAll(expected).count() === 0,
           "resumed totals diverge from batch ground truth")
  }

  test("streaming funnel stage counts equal the batch funnel") {
    val streamed = EventStream.runToMemory(
      spark,
      EventStream.funnelStream(spark, EventStream.readEvents(spark, streamDir)),
      "funnel_out", OutputMode.Update())
    // per-user final stage -> surviving-user count per funnel stage
    val stageCounts = (1 to 3).map { k =>
      k -> streamed.filter(col("stage") >= k).count()
    }.toMap
    val batch = ext.TimeOps.funnel(spark, sf0001)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stageCounts(1) === batch("1_view"))
    assert(stageCounts(2) === batch("2_click"))
    assert(stageCounts(3) === batch("3_purchase"))
    assert(stageCounts(3) > 0, "no full conversions — comparison vacuous")
    // at sf0.001 every viewer happens to fully convert, so the strict
    // ordering rule needs a crafted fixture: user 2's purchase PRECEDES
    // any view and must not count (stage 2, not 3)
    val spk = spark
    import spk.implicits._
    val hour = 3600L * 1000000000L // nanos
    val fixture = Seq(
      (1L, 1L * hour, 1L, "view", 1.0, "{}"),
      (2L, 2L * hour, 1L, "click", 1.0, "{}"),
      (3L, 3L * hour, 1L, "purchase", 1.0, "{}"),
      (4L, 1L * hour, 2L, "purchase", 1.0, "{}"),
      (5L, 2L * hour, 2L, "view", 1.0, "{}"),
      (6L, 3L * hour, 2L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val fixDir = Files.createTempDirectory("graft-funnel-fixture").toString
    fixture.write.mode("overwrite").parquet(fixDir)
    val fixed = EventStream.runToMemory(
      spark,
      EventStream.funnelStream(spark, EventStream.readEvents(spark, fixDir)),
      "funnel_fixture_out", OutputMode.Update())
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(fixed(1L) === 3, s"ordered user must fully convert: $fixed")
    assert(fixed(2L) === 2,
      s"purchase before first view must not convert: $fixed")
  }

  test("stateful per-user totals match batch groupBy") {
    val streamed = EventStream.runToMemory(
      spark,
      EventStream.userTotals(spark, EventStream.readEvents(spark, streamDir)),
      "totals_out", OutputMode.Update())
    val batch = Tables.events(spark, sf0001)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
    // Update mode emits one row per key per batch; single batch → direct compare
    assert(streamed.count() === batch.count())
    val joined = streamed.as("s").join(batch.as("b"), Seq("user_id"))
      .filter(col("s.n_events") =!= col("b.n_events"))
    assert(joined.count() === 0)
  }

  test("continuous per-source signatures equal the batch min-merge") {
    import graft.streaming.DocStream
    import graft.ext.Dedup
    val docs = Tables.documents(spark, sf0001)
    val dir = Files.createTempDirectory("graft-docs-sig-stream").toString
    def writeOne(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft-sig-one")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(s"$dir/$name"))
    }
    writeOne(docs.filter(col("doc_id") % 2 === 0), "docs-000.parquet")
    writeOne(docs.filter(col("doc_id") % 2 =!= 0), "docs-001.parquet")

    val stream = spark.readStream.schema(DocStream.docSchema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = DocStream.sourceSignatures(stream).writeStream
      .outputMode(OutputMode.Complete()).format("memory")
      .queryName("srcsigs").start()
    q.processAllAvailable()
    val nBatches = q.recentProgress.count(_.numInputRows > 0)
    val streamed = spark.table("srcsigs").collect()
      .map(r => r.getString(0) -> (1 until r.length).map(r.getLong).toVector)
      .toMap
    q.stop()
    assert(nBatches >= 2, "docs arrived in one micro-batch — replay vacuous")

    // twin 1: the uncapped stateless fold run as a batch
    val direct = Dedup.sigsOf(Dedup.sourceShingleHashes(docs, 3), "source")
      .collect()
      .map(r => r.getString(0) -> (1 until r.length).map(r.getLong).toVector)
      .toMap
    // twin 2: sketchMerge's capped per-doc path min-merged per source —
    // equal here because no sf0.001 shingle's DF approaches MaxShingleDf
    // (the regime contract in the scaladoc)
    val perDoc = Dedup.sigsOf(Dedup.hsOf(Dedup.shingleGroups(docs, 3)))
      .join(docs.select("doc_id", "source"), Seq("doc_id"))
    val mergedCols = (0 until 32).map(j => min(col(s"h$j")).as(s"h$j"))
    val capped = perDoc.groupBy("source").agg(mergedCols.head, mergedCols.tail: _*)
      .collect()
      .map(r => r.getString(0) -> (1 until r.length).map(r.getLong).toVector)
      .toMap
    assert(streamed == direct, "stream state != uncapped batch fold")
    assert(streamed == capped, "stream state != capped per-doc min-merge")
  }

  test("continuous CMS counters equal the batch sketch counter-for-counter") {
    import graft.streaming.DocStream
    val docs = Tables.documents(spark, sf0001)
    val dir = Files.createTempDirectory("graft-docs-cms-stream").toString
    def writeOne(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft-cms-one")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(s"$dir/$name"))
    }
    writeOne(docs.filter(col("doc_id") % 2 === 0), "docs-000.parquet")
    writeOne(docs.filter(col("doc_id") % 2 =!= 0), "docs-001.parquet")

    val stream = spark.readStream.schema(DocStream.docSchema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = DocStream.cmsSketch(stream).writeStream
      .outputMode(OutputMode.Complete()).format("memory")
      .queryName("cmssketch").start()
    q.processAllAvailable()
    val nBatches = q.recentProgress.count(_.numInputRows > 0)
    val streamed = spark.table("cmssketch").collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    q.stop()
    assert(nBatches >= 2, "docs arrived in one micro-batch — replay vacuous")

    val batch = graft.ext.TextOps.cmsSketchOf(docs).collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(streamed == batch, "live CMS state != batch sketch")
    // fixed-size state: at most 4 rows x 64 buckets ever
    assert(streamed.size <= 4 * 64)
    // total mass per hash row = total token count (each token hits
    // every row exactly once)
    val nTok = docs.select(explode(split(col("text"), " "))).count()
    (0 until 4).foreach { j =>
      val mass = streamed.collect { case ((r, _), c) if r == j => c }.sum
      assert(mass === nTok, s"row $j mass $mass != $nTok")
    }
  }

  test("streaming per-source reservoir sample equals the batch quota sample") {
    import graft.streaming.DocStream
    val docs = Tables.documents(spark, sf0001)
    val dir = Files.createTempDirectory("graft-docs-sample-stream").toString
    def writeOne(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft-sample-one")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(s"$dir/$name"))
    }
    // adversarial split: the SECOND batch carries the low doc_ids, so a
    // correct reservoir must EVICT first-batch picks — arrival order is
    // exercised, not just accumulation
    writeOne(docs.filter(col("doc_id") % 3 =!= 0), "docs-000.parquet")
    writeOne(docs.filter(col("doc_id") % 3 === 0), "docs-001.parquet")

    val stream = spark.readStream.schema(DocStream.docSchema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = DocStream.samplePerSource(spark, stream).writeStream
      .outputMode(OutputMode.Update()).format("memory")
      .queryName("srcsample").start()
    q.processAllAvailable()
    val nBatches = q.recentProgress.count(_.numInputRows > 0)
    q.stop()
    assert(nBatches >= 2, "docs arrived in one micro-batch — replay vacuous")

    // Update mode re-emits per generation; the final sample per source
    // is its max-ver emission
    val all = spark.table("srcsample").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getInt(3)))
    val maxVer = all.groupBy(_._1).map { case (s, xs) => s -> xs.map(_._4).max }
    val streamed = all
      .filter(t => t._4 == maxVer(t._1))
      .map(t => (t._1, t._2, t._3)).toSet
    // every source saw both batches (sf0.001 sources span the id space)
    assert(maxVer.values.forall(_ == 2), s"stale generations: $maxVer")

    val batch = ext.TextOps.samplePerSource(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    assert(streamed === batch, "final reservoir state != batch quota sample")
    // eviction actually happened: some first-generation pick is absent
    // from the final sample
    val gen1 = all.filter(_._4 == 1).map(t => (t._1, t._2)).toSet
    val fin = streamed.map(t => (t._1, t._2))
    assert((gen1 -- fin).nonEmpty, "second batch evicted nothing — vacuous")
  }

  test("streaming transitions equal batch lag pairs across a two-batch " +
       "time-split arrival (state carries the boundary event)") {
    val inDir = Files.createTempDirectory("graft-trans-in").toString
    val out = Files.createTempDirectory("graft-trans-out").toString
    val ckpt = Files.createTempDirectory("graft-trans-ckpt").toString
    val ev = Tables.events(spark, sf0001)
    val cut = ev.selectExpr("percentile_approx(unix_micros(ts), 0.5)")
      .collect().head.getLong(0)
    def addFile(cond: org.apache.spark.sql.Column, name: String): Unit = {
      val tmp = Files.createTempDirectory(s"graft-trans-$name")
      ev.filter(cond).coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(s"$inDir/$name.parquet"),
                 StandardCopyOption.REPLACE_EXISTING)
    }
    // global time split: every user's early events arrive in batch 1,
    // late in batch 2 — the per-user order the operator's contract needs
    addFile(unix_micros(col("ts")) <= cut, "early")
    EventStream.runToParquet(
      EventStream.transitionsStream(spark, EventStream.readEvents(spark, inDir)),
      out, ckpt, OutputMode.Append())
    addFile(unix_micros(col("ts")) > cut, "late")
    EventStream.runToParquet(
      EventStream.transitionsStream(spark, EventStream.readEvents(spark, inDir)),
      out, ckpt, OutputMode.Append())
    val streamed = spark.read.parquet(out)
      .groupBy("prev_type", "event_type").count()
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
      .toMap
    val batch = ext.TimeOps.queries("time_transitions")(spark, sf0001)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
      .toMap
    assert(streamed === batch, "stream pair counts != batch lag counts")
    // the carry actually fired: every late event of a user WITH early
    // history pairs against carried state, so batch 2 emits one pair
    // per late event except the first event of all-late users
    val late = spark.read.parquet(s"$out/batch_id=1").count()
    val lateEvents = ev.filter(unix_micros(col("ts")) > cut).count()
    val allLateUsers = ev.groupBy("user_id")
      .agg(min(unix_micros(col("ts"))).as("mn"))
      .filter(col("mn") > cut).count()
    assert(late === lateEvents - allLateUsers,
      s"batch 2 emitted $late pairs for $lateEvents late events " +
      s"($allLateUsers all-late users) — boundary state did not carry")
    assert(late > 0L, "no cross-boundary pairs — vacuous split")
  }

  test("streaming filtered search equals the batch filtered top-k on a " +
       "two-batch probe split") {
    import graft.streaming.VecStream
    val emb = Tables.embeddings(spark, sf0001)
      .select("vec_id", "embedding", "label")
    // two stream files + maxFilesPerTrigger=1 → the probe set arrives
    // across (at least) two micro-batches; per-probe ranking is
    // batch-local by construction, so the split point is arbitrary
    val dir = Files.createTempDirectory("graft-vec-stream").toString
    def writeOne(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft-vec-one")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.toFile.listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(s"$dir/$name"))
    }
    writeOne(emb.filter(col("vec_id") % 2 === 0), "vecs-000.parquet")
    writeOne(emb.filter(col("vec_id") % 2 =!= 0), "vecs-001.parquet")

    val out = Files.createTempDirectory("graft-vec-out").toString
    val ckpt = Files.createTempDirectory("graft-vec-ckpt").toString
    val probeStream = spark.readStream.schema(VecStream.vecSchema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
      .filter(col("vec_id") < 100)
    VecStream.filteredSearchToParquet(spark, sf0001, probeStream, out, ckpt)

    // micro-batching actually happened (one batch_id dir per file)
    val batchDirs = new java.io.File(out).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch_id="))
    assert(batchDirs.length >= 2)

    val streamed = spark.read.parquet(s"$out/batch_id=*")
      .select("a_id", "b_id", "sim", "rn")
    val batch = ext.Similarity.queries("sim_filtered_topk")(spark, sf0001)
      .select("a_id", "b_id", "sim", "rn")
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
  }

  test("streaming split-index search equals the batch split serve on a " +
       "two-batch probe split") {
    import graft.streaming.VecStream
    val emb = Tables.embeddings(spark, sf0001)
      .select("vec_id", "embedding", "label")
    val dir = Files.createTempDirectory("graft-split-stream").toString
    def writeOne(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft-split-one")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.toFile.listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(s"$dir/$name"))
    }
    // the split serve probes EVERY vector — stream the whole corpus in
    // as probes across two micro-batches (arbitrary split point:
    // per-probe descent + ranking is batch-local)
    writeOne(emb.filter(col("vec_id") % 2 === 0), "vecs-000.parquet")
    writeOne(emb.filter(col("vec_id") % 2 =!= 0), "vecs-001.parquet")

    val out = Files.createTempDirectory("graft-split-out").toString
    val ckpt = Files.createTempDirectory("graft-split-ckpt").toString
    val probeStream = spark.readStream.schema(VecStream.vecSchema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    VecStream.splitSearchToParquet(spark, sf0001, probeStream, out, ckpt)

    val batchDirs = new java.io.File(out).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch_id="))
    assert(batchDirs.length >= 2, "the probe stream never micro-batched")

    val streamed = spark.read.parquet(s"$out/batch_id=*")
      .select("a_id", "b_id", "sim", "rn")
    val batch = ext.Similarity.queries("sim_split_topk")(spark, sf0001)
      .select("a_id", "b_id", "sim", "rn")
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
  }

  test("streaming upsert lifecycle (arrivals + tombstones) serves the " +
       "batch upsert search on a two-batch arrival split") {
    import graft.streaming.VecStream
    val split = Tables.embeddings(spark, sf0001).count() / 2
    val arrivals = Tables.embeddings(spark, sf0001)
      .filter(col("vec_id") >= split)
      .select("vec_id", "embedding", "label")
    val dir = Files.createTempDirectory("graft-ups-stream").toString
    def writeOne(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft-ups-one")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.toFile.listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(s"$dir/$name"))
    }
    writeOne(arrivals.filter(col("vec_id") % 2 === 0), "vecs-000.parquet")
    writeOne(arrivals.filter(col("vec_id") % 2 =!= 0), "vecs-001.parquet")
    val assignOut = Files.createTempDirectory("graft-ups-assign").toString
    val ckpt = Files.createTempDirectory("graft-ups-ckpt").toString
    val searchOut = Files.createTempDirectory("graft-ups-search").toString
    val stream = spark.readStream.schema(VecStream.vecSchema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    // the tombstone feed: the %10 takedown rule on the base half —
    // sim_ivf_upsert_search's lockstep literal
    val tombstones = Tables.embeddings(spark, sf0001)
      .filter(col("vec_id") < split && col("vec_id") % 10 === 0)
      .select("vec_id")
    VecStream.upsertServeToParquet(spark, sf0001, stream, tombstones,
                                   assignOut, ckpt, searchOut)
    // micro-batching actually happened on the maintenance half
    assert(new java.io.File(assignOut).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("batch_id=")) >= 2)
    val streamed = spark.read.parquet(searchOut)
      .select("a_id", "b_id", "sim", "rn")
    val batch = ext.Similarity.queries("sim_ivf_upsert_search")(spark, sf0001)
      .select("a_id", "b_id", "sim", "rn")
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
    // no tombstoned member survives into the served neighbors
    val servedB = spark.read.parquet(searchOut).select("b_id").distinct()
      .collect().map(_.getLong(0)).toSet
    val dead = tombstones.collect().map(_.getLong(0)).toSet
    assert(servedB.intersect(dead).isEmpty,
      "a taken-down base member was served as a neighbor")
  }

  test("streaming incremental IVF assignment equals the batch assign " +
       "on a two-batch arrival split") {
    import graft.streaming.VecStream
    val split = Tables.embeddings(spark, sf0001).count() / 2
    val arrivals = Tables.embeddings(spark, sf0001)
      .filter(col("vec_id") >= split)
      .select("vec_id", "embedding", "label")
    val dir = Files.createTempDirectory("graft-iva-stream").toString
    def writeOne(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft-iva-one")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.toFile.listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(s"$dir/$name"))
    }
    writeOne(arrivals.filter(col("vec_id") % 2 === 0), "vecs-000.parquet")
    writeOne(arrivals.filter(col("vec_id") % 2 =!= 0), "vecs-001.parquet")
    val out = Files.createTempDirectory("graft-iva-out").toString
    val ckpt = Files.createTempDirectory("graft-iva-ckpt").toString
    val stream = spark.readStream.schema(VecStream.vecSchema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    VecStream.incrementalAssignToParquet(spark, sf0001, stream, out, ckpt)
    assert(new java.io.File(out).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("batch_id=")) >= 2)
    val streamed = spark.read.parquet(s"$out/batch_id=*")
      .select("vec_id", "cell", "csim")
    val batch = ext.Similarity.queries("sim_ivf_incremental_assign")(
      spark, sf0001).select("vec_id", "cell", "csim")
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
  }

  test("stream-side hot-cell signal: occupancy equals the batch occ frame " +
       "on a two-batch arrival split, crossings attributed to the right batch") {
    import graft.streaming.VecStream
    val split = Tables.embeddings(spark, sf0001).count() / 2
    val arrivals = Tables.embeddings(spark, sf0001)
      .filter(col("vec_id") >= split)
      .select("vec_id", "embedding", "label")
    val dir = Files.createTempDirectory("graft-hot-stream").toString
    def writeOne(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft-hot-one")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.toFile.listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(s"$dir/$name"))
    }
    writeOne(arrivals.filter(col("vec_id") % 2 === 0), "vecs-000.parquet")
    writeOne(arrivals.filter(col("vec_id") % 2 =!= 0), "vecs-001.parquet")
    val assignOut = Files.createTempDirectory("graft-hot-assign").toString
    val ckpt = Files.createTempDirectory("graft-hot-ckpt").toString
    val signalOut = Files.createTempDirectory("graft-hot-signal").toString
    val stream = spark.readStream.schema(VecStream.vecSchema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    VecStream.hotCellSignalToParquet(spark, sf0001, stream, assignOut,
                                     ckpt, signalOut)
    val signal = spark.read.parquet(signalOut).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
                                 r.getInt(4), r.getLong(5))).toMap
    // the batch occ frame: base home cells + incremental assignment,
    // both through the SAME frozen model
    val inc = ext.Similarity.queries("sim_ivf_incremental_assign")(
      spark, sf0001).select("vec_id", "cell")
    val baseCells = ext.Similarity.assignToCentroids(
      Tables.embeddings(spark, sf0001).filter(col("vec_id") < split),
      ext.Similarity.frozenBaseCentroids(spark, sf0001))
    val occ = baseCells.select("cell")
      .unionByName(inc.select("cell"))
      .groupBy("cell").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(signal.view.mapValues(_._3).toMap === occ,
      "stream-folded occupancy diverges from the batch occ frame")
    val thr = 32L // SplitOccupancy — the oracle-mirrored literal
    signal.foreach { case (cell, (nb, na, no, sn, fh)) =>
      assert(no === nb + na)
      assert(sn === (if (no > thr) 1 else 0), s"cell $cell signal wrong")
      if (sn === 0) assert(fh === -2L, s"cell $cell: never-hot sentinel")
      else assert(fh >= -1L, s"cell $cell: crossing batch missing")
      if (nb > thr) assert(fh === -1L, s"cell $cell: base-preload crossing")
    }
    // crossing attribution: re-fold per-batch counts driver-side
    val perBatch = spark.read.parquet(assignOut)
      .select(col("cell"), col("batch_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val batchIds = perBatch.keys.map(_._2).toSeq.distinct.sorted
    assert(batchIds.size >= 2, "micro-batching did not happen")
    signal.foreach { case (cell, (nb, _, _, sn, fh)) =>
      if (sn === 1 && nb <= thr) {
        var cum = nb
        val expect = batchIds.find { b =>
          cum += perBatch.getOrElse((cell, b), 0L); cum > thr
        }.get
        assert(fh === expect, s"cell $cell crossed at $expect, signal says $fh")
      }
    }
  }
}
