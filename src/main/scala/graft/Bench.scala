package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local()
    // noop sink: full distributed evaluation of EVERY output column —
    // unlike count(), which lets Catalyst skip projected expressions for
    // some plans and understates real work non-uniformly
    def exhaust(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // untimed warmup: JVM/JIT + whole-stage-codegen compiler + FS metadata
    // are one-time session costs that would otherwise land on whichever
    // query happens to run first; touch every table so no timed query
    // pays the first file-index scan for its inputs
    // per-table fault isolation: one bad table must not un-warm the rest
    // (round 7: an events schema break silently skipped documents/
    // embeddings warmup, dumping first-touch cost on the first timed
    // dedup owners)
    try { exhaust(SparkEntry.flagship(spark, sfDir)) }
    catch { case _: Throwable => () }
    Seq[(SparkSession, String) => org.apache.spark.sql.DataFrame](
      Tables.region, Tables.nation, Tables.customer, Tables.supplier,
      Tables.part, Tables.orders, Tables.lineitem, Tables.events,
      Tables.documents, Tables.embeddings)
      .foreach(t => try { t(spark, sfDir).count() }
                    catch { case _: Throwable => () })
    // Deterministic order, memo OWNERS first: the dedup pair frame, the
    // cluster loop, and the IVF assignment/training are materialized once
    // per (session, dir) and shared across their families — under Map
    // iteration order whichever family member ran first paid the build,
    // so per-query numbers migrated between runs (r2: minhash 44 s,
    // r3: keep 91 s — same pipeline). Pinning the owners keeps every
    // build cost on the same timed query each run; the family totals
    // still include all real work (nothing hides in untimed warmup).
    val owners = Seq("dedup_ngram_jaccard", "dedup_clusters", "dedup_keep",
      // minhash memo owner; also mh3hs/mh3sigs (round 20: the full-corpus
      // shingle index + signature table dedup_sketch_merge shares)
      "dedup_minhash_lsh",
      // simhashfp memo owner (dedup_simhash_pairs band-joins the same
      // fingerprint frame, round 20)
      "dedup_simhash",
      "dedup_incremental_minhash",
      // idxdelete's memo gained a second consumer (dedup_index_compact,
      // which sorts BEFORE it) — pin the owner so the tombstone screen's
      // build cost stays on the delete query
      "dedup_index_delete",
      // mhevhs/mhevtruth memo owner (the probe-sample shingles + exact
      // truth the two banding eval harnesses share, round 19)
      "dedup_band_sweep",
      // substrstarts memo owner (substr_cross + substr_excise share the
      // duplicated-start frame) and winnowsel memo owner (text_winnow +
      // dedup_winnow_pairs share the fingerprint selection), round 19
      "dedup_substr_cross", "dedup_winnow_pairs", "sim_ivf_assign",
      // frozencents memo owner (the frozen base-half quantizer every
      // incremental/upsert/stream assignment path serves against)
      "sim_ivf_incremental_assign",
      // incbasehome/incarrhome/incsplit0s/incsplit0a/incarrdesc/incbaseidx
      // memo owner (the shared frozen-base stage and its persisted index
      // the report/serve/deep trio used to rebuild three times — VERDICT
      // r18 item 2)
      "sim_split_incremental",
      "sim_ivf_train", "sim_ivf_train_iter", "sim_ivf_assign_trained",
      "sim_ivf_topk", "sim_knn_mutual", "sim_pq_codes", "sim_ivfpq_topk",
      // fltopk memo owner (round 20): sim_filtered_recall sorts before
      // sim_filtered_topk alphabetically and would steal the serve build
      "sim_filtered_topk",
      // sempairs memo owner (round 20): the un-thresholded in-cell pair
      // frame dedup_semantic / _curve / _eval all cut
      "dedup_semantic",
      // splitseeds/splitasg memo owner (report, serve, recall eval,
      // persist and the deep chain's round 1 all consume them)
      "sim_cell_split",
      // splitserve memo owner (its recall eval and the mutual edge
      // build re-rank from the one materialized serve)
      "sim_split_topk",
      // splitband memo owner (the band recall leg re-ranks from it)
      "sim_split_band_topk",
      // bandsweepfrm memo owner (the margin planner re-reads the sweep;
      // planned sorts BEFORE sweep alphabetically, so pin the owner)
      "sim_split_band_sweep",
      // tsplitseeds/tsplitasg memo owner (the trained split report and
      // the trained split serve both consume them)
      "sim_cell_split_trained",
      // tsplitserve memo owner (the trainedsplit frontier leg re-ranks
      // from the one materialized trained-split serve)
      "sim_split_topk_trained",
      // splitdeep memo owner (the deepsplit frontier leg and the deep
      // recall eval read it)
      "sim_split_deep_topk",
      // knnmutualsplit memo owner
      "sim_knn_mutual_split",
      // serve-frame memo owners (round 19): nndserve / gssearch /
      // rrfserve — each serve is re-read by its eval and a frontier leg
      "sim_nn_descent", "sim_graph_search", "sim_rrf_fusion",
      // sim_eval_frontier additionally owns the round-20 memoized 1-row
      // leg results (jlrecall / int8recall / signrecall / matrecall):
      // it runs before the alphabetical tail and its legs ARE those
      // evals, so the build lands where it always did — the standalone
      // eval queries now read the cached rows instead of rebuilding
      "graph_pagerank", "graph_components", "emb_pca_power",
      "text_contamination", "sim_eval_frontier", "dedup_para_neardup",
      // qscored memo owner (roc/calibration/calibrated-gate/keep_best/
      // curriculum/train_schedule all re-read the one scored frame)
      "text_quality_score_trained")
    val allOrdered = owners.filter(SparkEntry.queries.contains) ++
      SparkEntry.queries.keys.toSeq.filterNot(owners.contains).sorted
    // optional filters (local scaling runs, e.g. the sf1 heavy-family
    // measurement); unset = all queries (the driver contract).
    // SPARK_GRAFT_ONLY_EXACT takes exact names — prefix selection can't
    // exclude extensions (sim_ivf_topk drags sim_ivf_topk_trained's
    // Lloyd training into a serve-arm measurement, round-16 knee runs)
    val ordered = (sys.env.get("SPARK_GRAFT_ONLY_EXACT"),
                   sys.env.get("SPARK_GRAFT_ONLY")) match {
      case (Some(xs), _) =>
        val names = xs.split(',').toSet
        // a typo'd exact name would silently yield a zero-query "bench"
        // that looks plausible in bench.json — the --add-opens trap
        // class (ADVICE r16); make the miss loud
        val unknown = names.diff(allOrdered.toSet)
        if (unknown.nonEmpty)
          System.err.println("BENCH WARNING: SPARK_GRAFT_ONLY_EXACT names " +
            s"match no registered query: ${unknown.toSeq.sorted.mkString(",")}")
        allOrdered.filter(names.contains)
      case (None, Some(ps)) =>
        val pfx = ps.split(',').toSeq
        allOrdered.filter(n => pfx.exists(n.startsWith))
      case _ => allOrdered
    }
    // per-query executor task metrics (shuffle bytes / spill / peak mem /
    // GC): wall time alone cannot decompose a cross-harness gap — round 4
    // closed with minhash 13× slower under the driver at EQUAL anchors,
    // unexplainable without these numbers in the durable record
    val metrics = new BenchMetrics
    spark.sparkContext.addSparkListener(metrics)
    val results = ordered.map { name =>
      val fn = SparkEntry.queries(name)
      val before = metrics.snapshot(spark.sparkContext)
      val t0 = System.nanoTime()
      // a failed query must be VISIBLE in bench.json (round-5 verdict
      // item 4: silently-swallowed throws recorded ~0 s and looked fast);
      // on failure, cancel any straggler stages before taking the metric
      // delta so their tasks can't bleed into the next query's window
      val err = try { exhaust(fn(spark, sfDir)); None } catch {
        case t: Throwable =>
          spark.sparkContext.cancelAllJobs()
          Some(t.getClass.getName)
      }
      val sec = (System.nanoTime() - t0) / 1e9
      (name, sec, metrics.delta(spark.sparkContext, before), err)
    }
    val qs = results.map { case (k, v, _, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val tm = results.map { case (k, _, m, _) =>
      val fields = (BenchMetrics.Keys :+ "peak_exec_mem")
        .map(f => s"\"" + f + "\":" + m(f)).mkString("{", ",", "}")
      s"\"" + k + "\":" + fields
    }.mkString("{", ",", "}")
    val errs = results.collect { case (k, _, _, Some(e)) =>
      s"\"" + k + "\":\"" + e + "\"" }
    val total = results.map(_._2).sum
    if (errs.nonEmpty)
      System.err.println(s"BENCH FAILURES: ${errs.length} " +
        results.collect { case (k, _, _, Some(e)) => s"$k($e)" }.mkString(", "))
    // memo evictions go in the durable record only: a session that
    // outgrows CkptMemo's cap rebuilds evicted entries, and that cost
    // would otherwise show only as WARN lines in a log
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""task_metrics":$tm,"n_errors":${errs.length},""" +
      s""""memo_evictions":${ext.CkptMemo.evictions},""" +
      s""""errors":${errs.mkString("{", ",", "}")},"sf":"$sfDir"}"""
    // stdout gets the COMPACT record only (the driver-contract shape —
    // totals + per-query seconds, no task_metrics): the full line grew
    // past what driver logs keep and BENCH_r06.json arrived with
    // parsed: null from a truncated tail. bench.json stays the full
    // durable record with task metrics.
    val compact =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""n_errors":${errs.length},""" +
      s""""errors":${errs.mkString("{", ",", "}")},"sf":"$sfDir"}"""
    println(compact)
    // durable-record path is overridable so local scaling runs (e.g. the
    // sf1 measurement -> bench_sf1.json) can't clobber the driver record
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line)
    // the compact driver-contract line ALSO goes to a fixed well-known
    // path: BENCH_r17/r18 both came back "parsed": null from sbt
    // noise/truncation around the stdout line (VERDICT r18 item 3) —
    // a driver (or a human) can always recover the parseable record here
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_line.json"), compact)
    spark.stop()
    // re-print as the ABSOLUTE last stdout line: Spark shutdown can log
    // after the first print, and a tail-truncated capture then loses the
    // JSON — two identical lines parse the same either way
    println(compact)
  }
}
