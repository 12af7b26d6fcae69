package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Streaming FILTERED vector search — `sim_filtered_topk` served
  * against ARRIVING probe vectors, the online half of the
  * filtered-index contract (a production vector store builds the
  * (cell, label)-sliced index offline and answers queries as they
  * arrive). The index side is STATIC — the memoized corpus assignment
  * plus the per-(cell, label) cap — and each micro-batch of probes is
  * ranked against it through the SHARED
  * [[graft.ext.Similarity.filteredTopKFor]] seam, so the online and
  * offline serve paths are one code path.
  *
  * Stream ≡ batch at ANY arrival split — stronger than the minhash
  * screen's under-the-DF-cap regime contract — because per-probe top-3
  * ranking is batch-LOCAL by construction: a probe's entire candidate
  * set exists in the micro-batch it arrives in (the static side is the
  * complete index), so no ranking state ever crosses a batch boundary.
  * StreamingSpec pins equality on a two-batch split.
  *
  * foreachBatch + per-batch_id overwrite is the idempotent file-sink
  * recipe shared with [[DocStream.screenNewMinhashToParquet]]. At
  * 100 TB: per-micro-batch cost is O(|batch| × probed-cell slice),
  * independent of corpus size; the memoized index is built once per
  * session (in production: the persisted index, `sim_index_persist`).
  */
object VecStream {

  /** Schema of the probe stream — the embeddings table's own columns
    * (the deterministic replay harness reads split parquet files; in
    * production: Kafka etc.). */
  val vecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** File-based probe stream over a directory of embeddings parquet. */
  def readVecs(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(vecSchema).parquet(dir)

  /** CONTINUOUS incremental IVF assignment — the streaming face of
    * `sim_ivf_incremental_assign` (and the online half of the upsert
    * lifecycle): the frozen base-trained centroid table is built ONCE
    * and localCheckpointed, then every arriving vector micro-batch is
    * assigned to its nearest frozen cell through the SHARED
    * Similarity.assignToCentroids seam. Assignment is per-vector
    * against a frozen model, so stream ≡ batch at ANY arrival split —
    * no state, no watermark; per-micro-batch cost is
    * O(|batch| × cells) with the corpus never rescanned (the dedup
    * signature screen's contract on the vector side). */
  def incrementalAssignToParquet(spark: SparkSession, dir: String,
                                 stream: DataFrame, outDir: String,
                                 checkpointDir: String): Unit = {
    val cents = graft.ext.Similarity.frozenBaseCentroids(spark, dir)
      .localCheckpoint() // one build; micro-batches re-read the frame
    val q = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       batchId: Long) =>
        if (!batch.isEmpty) {
          graft.ext.Similarity.assignToCentroids(batch, cents)
            .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
        }
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    // free the centroid checkpoint once the stream is done — the
    // screenNewMinhashToParquet lifecycle rule
    org.apache.spark.sql.GraftSql.checkpointRdd(cents)
      .foreach(_.unpersist(false))
  }

  /** STREAMING upsert lifecycle — the two index-maintenance halves
    * composed in the stream path, then served combined: (1) arriving
    * vectors are assigned to their frozen home cell per micro-batch
    * (the [[incrementalAssignToParquet]] seam — one `batch_id=N` dir
    * each), (2) a tombstone feed of taken-down base members is applied
    * as a filter on the base index, and (3) at stream end the search
    * serves over the COMBINED live index (tombstone-filtered base ∪
    * streamed arrivals) through the SHARED
    * `Similarity.upsertServeFrom` tail. Stream ≡ batch
    * `sim_ivf_upsert_search` at ANY arrival split, because every piece
    * is either a per-vector frozen-model computation (assignment, probe
    * ranking) or a filter (tombstones) — no ranking state crosses a
    * micro-batch boundary; StreamingSpec pins equality on a two-batch
    * split. At 100 TB: maintenance cost is O(|batch| × cells) per drop
    * plus a metadata-sized tombstone set; the serve is the batch search
    * over the maintained index, never a corpus re-rank. */
  def upsertServeToParquet(spark: SparkSession, dir: String,
                           arrivalStream: DataFrame,
                           tombstoneIds: DataFrame,
                           assignOut: String, checkpointDir: String,
                           searchOut: String,
                           probeN: Long = graft.ext.Similarity.ProbeN): Unit = {
    import org.apache.spark.sql.functions.col
    val cents = graft.ext.Similarity.frozenBaseCentroids(spark, dir)
      .localCheckpoint() // one build; micro-batches re-read the frame
    val q = arrivalStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       batchId: Long) =>
        if (!batch.isEmpty) {
          graft.ext.Similarity.assignToCentroids(batch, cents)
            .write.mode("overwrite").parquet(s"$assignOut/batch_id=$batchId")
        }
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    val split = graft.ext.CountMemo.get(spark, dir, "embeddings")(
      graft.Tables.embeddings(spark, dir).count()) / 2
    val emb = graft.ext.Similarity.embWithNrm(spark, dir)
    val baseLive = emb.filter(col("vec_id") < split)
      .join(tombstoneIds.select(col("vec_id")), Seq("vec_id"), "left_anti")
    // the base index's home cells: in production these already sit in
    // the persisted index; the harness re-derives them through the same
    // frozen-model seam the stream used for arrivals
    val baseHome = graft.ext.Similarity.assignToCentroids(baseLive, cents)
      .select("vec_id", "cell")
    // a stream that delivered zero non-empty micro-batches wrote no
    // batch_id dirs — degrade like the batch path's empty arrival half
    // instead of throwing on an unmatched glob (ADVICE r15)
    val batchDirs = Option(new java.io.File(assignOut).listFiles())
      .getOrElse(Array.empty).exists(f =>
        f.isDirectory && f.getName.startsWith("batch_id="))
    val arrHome =
      if (batchDirs) spark.read.parquet(s"$assignOut/batch_id=*")
        .select("vec_id", "cell")
      else spark.range(0)
        .select(col("id").as("vec_id"), col("id").as("cell"))
    val live = baseLive.unionByName(emb.filter(col("vec_id") >= split))
    graft.ext.Similarity
      .upsertServeFrom(live, baseHome.unionByName(arrHome), cents, probeN)
      .write.mode("overwrite").parquet(searchOut)
    org.apache.spark.sql.GraftSql.checkpointRdd(cents)
      .foreach(_.unpersist(false))
  }

  /** STREAM-SIDE hot-cell detection — the streaming half of the
    * round-15 split-maintenance loop: arrivals are assigned to their
    * frozen home cell per micro-batch (the [[incrementalAssignToParquet]]
    * seam, reused verbatim), and the per-cell occupancy is folded
    * ACROSS batches into the signal `sim_cell_split` acts on — which
    * cells crossed [[graft.ext.Similarity.SplitOccupancy]], and at
    * which micro-batch they first crossed (the moment a maintenance
    * scheduler would enqueue the split). The fold is relational over
    * the per-batch assignment dirs (a |cells|×|batches| frame — the
    * one window is model-sized, never per-vector), seeded with the
    * base index occupancy through the SAME frozen model, so the final
    * occupancy is stream ≡ batch at ANY arrival split (occupancy is an
    * order-invariant sum; StreamingSpec pins equality against the
    * batch occ frame). Output per cell: n_base, n_arrived, n_occ,
    * split_needed, first_hot_batch (−1 = the base index alone was
    * already past the threshold, −2 = never crossed). */
  def hotCellSignalToParquet(spark: SparkSession, dir: String,
                             stream: DataFrame, assignOut: String,
                             checkpointDir: String,
                             signalOut: String): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    incrementalAssignToParquet(spark, dir, stream, assignOut, checkpointDir)
    val cents = graft.ext.Similarity.frozenBaseCentroids(spark, dir)
      .localCheckpoint()
    val split = graft.ext.CountMemo.get(spark, dir, "embeddings")(
      graft.Tables.embeddings(spark, dir).count()) / 2
    val base = graft.Tables.embeddings(spark, dir)
      .filter(col("vec_id") < split)
    val baseOcc = graft.ext.Similarity.assignToCentroids(base, cents)
      .groupBy("cell").agg(count(lit(1)).as("n_base"))
    val thr = graft.ext.Similarity.SplitOccupancy
    val hasBatches = Option(new java.io.File(assignOut).listFiles())
      .getOrElse(Array.empty).exists(f =>
        f.isDirectory && f.getName.startsWith("batch_id="))
    val signal =
      if (!hasBatches)
        baseOcc.select(col("cell"), col("n_base"),
          lit(0L).as("n_arrived"), col("n_base").as("n_occ"),
          (col("n_base") > thr).cast("int").as("split_needed"),
          when(col("n_base") > thr, lit(-1L)).otherwise(lit(-2L))
            .as("first_hot_batch"))
      else {
        // partition-dir inference types batch_id as INT — cast back
        // (the postings-reload rule)
        val arr = spark.read.parquet(assignOut)
          .select(col("cell"), col("batch_id").cast("long").as("batch_id"))
        val pb = arr.groupBy("cell", "batch_id").agg(count(lit(1)).as("n_b"))
        val wc = Window.partitionBy("cell").orderBy("batch_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val firstHot = pb
          .withColumn("cum_arr", sum("n_b").over(wc))
          .join(baseOcc, Seq("cell"), "left")
          .filter(coalesce(col("n_base"), lit(0L)) + col("cum_arr") > thr)
          .groupBy("cell").agg(min("batch_id").as("fh"))
        baseOcc
          .join(arr.groupBy("cell").agg(count(lit(1)).as("n_arrived")),
                Seq("cell"), "full_outer")
          .join(firstHot, Seq("cell"), "left")
          .withColumn("n_base", coalesce(col("n_base"), lit(0L)))
          .withColumn("n_arrived", coalesce(col("n_arrived"), lit(0L)))
          .withColumn("n_occ", col("n_base") + col("n_arrived"))
          .select(col("cell"), col("n_base"), col("n_arrived"), col("n_occ"),
            (col("n_occ") > thr).cast("int").as("split_needed"),
            when(col("n_base") > thr, lit(-1L))
              .otherwise(coalesce(col("fh"), lit(-2L))).as("first_hot_batch"))
      }
    signal.write.mode("overwrite").parquet(signalOut)
    org.apache.spark.sql.GraftSql.checkpointRdd(cents)
      .foreach(_.unpersist(false))
  }

  /** STREAM-TRIGGERED split maintenance — closes the detect → REPAIR
    * loop [[hotCellSignalToParquet]] left open (its "a maintenance
    * scheduler would enqueue the split" seam): detect hot cells from
    * the arrival stream, collect the signal's split_needed cells as
    * the work list (driver-side, model-sized — the bookmark-ledger
    * precedent), run the incremental split round over the
    * STREAM-ASSIGNED arrivals restricted to those cells through the
    * SHARED `Similarity.splitIncrementalMaintain` seam, persist the
    * maintained index back (ncell-partitioned postings + models — the
    * sim_split_incremental_serve layout), and write the maintenance
    * report. Stream-detected ≡ batch-detected: the restriction is a
    * provable no-op (a hot child's parent is always flagged — coarse
    * occupancy is the sum of its children's) and every stage is the
    * batch seam, so the report equals `sim_split_incremental` at ANY
    * arrival split (StreamingSpec pins it on a two-batch split). */
  def maintainFromSignalToParquet(spark: SparkSession, dir: String,
                                  stream: DataFrame, assignOut: String,
                                  checkpointDir: String, signalOut: String,
                                  postingsOut: String, modelsOut: String,
                                  reportOut: String): Unit = {
    import org.apache.spark.sql.functions.col
    hotCellSignalToParquet(spark, dir, stream, assignOut, checkpointDir,
      signalOut)
    val flagged = spark.read.parquet(signalOut)
      .filter(col("split_needed") === 1).select("cell")
      .collect().map(_.getLong(0)).toSeq
    val hasBatches = Option(new java.io.File(assignOut).listFiles())
      .getOrElse(Array.empty).exists(f =>
        f.isDirectory && f.getName.startsWith("batch_id="))
    val arrHome =
      if (hasBatches) spark.read.parquet(s"$assignOut/batch_id=*")
        .select("vec_id", "cell")
      else spark.range(0)
        .select(col("id").as("vec_id"), col("id").as("cell"))
    graft.ext.Similarity
      .splitIncrementalMaintain(spark, dir, arrHome, flagged,
        postingsOut, modelsOut)
      .write.mode("overwrite").parquet(reportOut)
  }

  /** Serve each arriving probe micro-batch against the static filtered
    * index; one `batch_id=N` parquet dir per micro-batch. */
  def filteredSearchToParquet(spark: SparkSession, dir: String,
                              stream: DataFrame, outDir: String,
                              checkpointDir: String): Unit = {
    val q = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       batchId: Long) =>
        if (!batch.isEmpty) {
          graft.ext.Similarity.filteredTopKFor(spark, dir, batch)
            .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
        }
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** Streaming face of the SPLIT-index serve (round-16 verdict item
    * 4): arriving probes answered against the static occupancy-split
    * index through the SHARED
    * [[graft.ext.Similarity.splitTopKForProbes]] seam — the
    * [[filteredSearchToParquet]] pattern. Stream ≡ batch at ANY
    * arrival split because per-probe descent + top-3 ranking is
    * batch-local (the split postings and model are the complete static
    * index side); StreamingSpec pins the two-batch union row-for-row
    * against sim_split_topk. Per-micro-batch cost is
    * O(|batch| × probed-child slice) — the split's candidate halving
    * applies to the online path for free. */
  def splitSearchToParquet(spark: SparkSession, dir: String,
                           stream: DataFrame, outDir: String,
                           checkpointDir: String): Unit = {
    val q = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       batchId: Long) =>
        if (!batch.isEmpty) {
          graft.ext.Similarity.splitTopKForProbes(spark, dir, batch)
            .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
        }
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
  }
}
