package graft

import org.apache.spark.sql.functions._

/** Occupancy-triggered cell split (Similarity.cellSplit): the report
  * must partition hot cells exactly (children sum to the parent), leave
  * cool cells untouched, and actually shrink the largest shard — the
  * property that keeps in-cell pair candidates out of the occupancy²
  * regime. sf0.01 is the natural fixture: 500 vectors / 16 cells put
  * the mean occupancy AT the 32 threshold, so both branches occur. */
class CellSplitSpec extends SparkSpec {

  private val sf001 = "/root/testdata/sf0.01"

  private lazy val rows =
    ext.Similarity.queries("sim_cell_split")(spark, sf001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
                 r.getLong(3), r.getLong(4), r.getLong(5)))

  test("split cells partition exactly; cool cells pass through") {
    assert(rows.nonEmpty)
    // totals tie to the home assignment
    val n = ext.Similarity.queries("sim_ivf_assign")(spark, sf001).count()
    assert(rows.map(_._2).sum === n, "occupancies do not partition the corpus")
    // both branches occur on the natural corpus (threshold = the mean)
    assert(rows.exists(_._3 === 1), "no cell split — threshold vacuous")
    assert(rows.exists(_._3 === 0), "every cell split — threshold vacuous")
    rows.foreach { case (cell, before, split, c0, c1, maxAfter) =>
      if (split === 1) {
        assert(before > ext.Similarity.SplitOccupancy)
        assert(c0 + c1 === before, s"cell $cell: children $c0+$c1 != $before")
        assert(c0 >= 1L && c1 >= 1L,
          s"cell $cell: a sub-seed lost its own membership")
        assert(maxAfter === math.max(c0, c1))
        assert(maxAfter < before, s"cell $cell: split bought nothing")
      } else {
        assert(before <= ext.Similarity.SplitOccupancy)
        assert((c0, c1, maxAfter) === ((0L, 0L, before)))
      }
    }
  }

  test("split assignment is the median-threshold rule, recomputed") {
    // driver recompute of one split cell: seed = the lowest member
    // id's embedding, τ = the lower-median 6-dp cosine to it (rank
    // (n+1) div 2 under (s0sim desc, vec_id asc)); sub 0 iff s0sim ≥ τ
    val hot = rows.filter(_._3 === 1).map(_._1).min
    val home = ext.Similarity.queries("sim_ivf_assign")(spark, sf001)
      .filter(col("cell") === hot).select("vec_id")
      .collect().map(_.getLong(0)).sorted
    val emb = Tables.embeddings(spark, sf001)
      .filter(col("vec_id").isin(home: _*))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray)
      .toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val raw = dot / (math.sqrt(a.map(x => x * x).sum) *
                       math.sqrt(b.map(x => x * x).sum))
      // Num.rnd mirror: Spark round() is BigDecimal HALF_UP
      BigDecimal(raw * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble / 1e6
    }
    val s0 = home.head
    val sims = home.map(v => (v, cos(emb(v), emb(s0))))
    val ranked = sims.sortBy { case (v, s) => (-s, v) }
    val tau = ranked((home.length + 1) / 2 - 1)._2
    val expect0 = sims.count(_._2 >= tau)
    val got = rows.find(_._1 === hot).get
    assert(got._4 === expect0.toLong,
      s"cell $hot child-0 size ${got._4} != recomputed $expect0")
  }

  test("split serve: probes touching only cool cells get the identical " +
       "top-3 as the unsplit serve") {
    // the ncell mapping is bijective and cool cells keep their members,
    // so a probe whose NProbe probed cells are ALL cool sees the exact
    // same candidate set in both indexes (caps never bind at sf0.01
    // occupancy) — its served top-3 must be bit-identical
    val hotCells = rows.filter(_._3 === 1).map(_._1).toSet
    // driver brute of each probe's NProbe=2 probed cells (500×16 at
    // sf0.01) — the ranking the serve starts from
    val emb = Tables.embeddings(spark, sf001)
      .collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray)
      .toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val raw = dot / (math.sqrt(a.map(x => x * x).sum) *
                       math.sqrt(b.map(x => x * x).sum))
      BigDecimal(raw * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble / 1e6
    }
    val cells = (0L until 16L).toSeq
    val probedCells = emb.keys.map { v =>
      v -> cells.map(c => (c, cos(emb(v), emb(c))))
        .sortBy { case (c, s) => (-s, c) }.take(2).map(_._1).toSet
    }.toMap
    val coolProbes = probedCells.collect {
      case (v, pc) if pc.intersect(hotCells).isEmpty => v
    }.toSet
    assert(coolProbes.nonEmpty, "no all-cool probe — vacuous fixture")
    assert(probedCells.exists(_._2.intersect(hotCells).nonEmpty),
      "no probe touches a hot cell — vacuous fixture")
    def served(q: String) =
      ext.Similarity.queries(q)(spark, sf001)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
        .filter(t => coolProbes.contains(t._1)).toSet
    assert(served("sim_split_topk") === served("sim_ivf_topk"),
      "an all-cool probe's top-3 drifted between the split and unsplit serves")
    // the band is hot-cell-only work: an all-cool probe can never be
    // in any band, so the band serve is untouched there too
    assert(served("sim_split_band_topk") === served("sim_ivf_topk"),
      "an all-cool probe's top-3 drifted under the band serve")
  }

  test("band serve: margin 0 ≡ the split serve; the default margin is " +
       "a candidate superset that never degrades a served rank") {
    val split = servedRows(ext.Similarity.queries("sim_split_topk")(spark, sf001))
    assert(servedRows(ext.Similarity.splitBandTopKAt(spark, sf001, 0L)) ===
           split, "an empty band must serve exactly the split index")
    val band = servedRows(
      ext.Similarity.queries("sim_split_band_topk")(spark, sf001))
    assert(band !== split,
      "the default band never fired at sf0.01 — margin vacuous")
    // dual-probing only ADDS candidates per probe, so at every (a, rn)
    // the band serve's similarity is ≥ the split serve's (the
    // NnDescentSpec superset-monotonicity argument)
    val splitAt = split.map(t => (t._1, t._3) -> t._4).toMap
    band.foreach { case (a, _, rn, sim) =>
      splitAt.get((a, rn)).foreach { s =>
        assert(sim >= s, s"band serve degraded probe $a rank $rn: $sim < $s")
      }
    }
    // and a probe can never LOSE candidates: per-probe served depth is
    // monotone too
    val splitN = split.groupBy(_._1).view.mapValues(_.size).toMap
    val bandN = band.groupBy(_._1).view.mapValues(_.size).toMap
    splitN.foreach { case (a, n) =>
      assert(bandN.getOrElse(a, 0) >= n, s"probe $a lost served rows")
    }
  }

  test("band sweep: margin-0 row ≡ the split recall leg, default-margin " +
       "row ≡ the band recall leg, and both axes are monotone") {
    val sweep = ext.Similarity.queries("sim_split_band_sweep")(spark, sf001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
                 r.getLong(4), r.getLong(5)))
      .sortBy(_._1)
    assert(sweep.map(_._1) ===
           ext.Similarity.SplitBandSweepMargins.sorted.toArray)
    def evalRow(q: String) = {
      val r = ext.Similarity.queries(q)(spark, sf001).collect().head
      (r.getLong(r.fieldIndex("n_truth")), r.getLong(r.fieldIndex("n_screen")),
       r.getLong(r.fieldIndex("n_hit")), r.getLong(r.fieldIndex("recall_micro")))
    }
    val zero = sweep.find(_._1 === 0L).get
    assert((zero._3, zero._4, zero._5, zero._6) ===
           evalRow("sim_split_recall_eval"),
      "sweep margin-0 row drifted from the split recall leg")
    val dflt = sweep.find(_._1 === ext.Similarity.SplitBandMargin).get
    assert((dflt._3, dflt._4, dflt._5, dflt._6) ===
           evalRow("sim_split_band_recall_eval"),
      "sweep default-margin row drifted from the band recall leg")
    // widening the band only adds candidates → cost and recall are
    // both monotone non-decreasing in the margin
    sweep.sliding(2).foreach { case Array(lo, hi) =>
      assert(hi._2 >= lo._2, s"n_cand fell: $lo -> $hi")
      assert(hi._6 >= lo._6, s"recall fell: $lo -> $hi")
    }
    assert(sweep.last._6 > sweep.head._6,
      "the widest band recovered nothing — sweep vacuous at sf0.01")
  }

  private def servedRows(df: org.apache.spark.sql.DataFrame) =
    df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .toSet

  test("round generator: the (cs, home) instance reproduces the audited " +
       "depth-1 chain byte-for-byte") {
    // the frozen round-16 literal (median-threshold bisection) — the
    // deep chain's round 1 and the audited sim_cell_split oracle must
    // stay THIS string exactly
    val frozen =
      "cso AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_before " +
      "FROM home GROUP BY cell), " +
      "csh AS (SELECT cell FROM cso WHERE n_before > 32), " +
      "csm AS (SELECT h.cell, h.vec_id, e.embedding FROM home h " +
      "JOIN csh USING (cell) JOIN embeddings e ON e.vec_id = h.vec_id), " +
      "csg AS (SELECT cell, min(vec_id) AS v0 FROM csm GROUP BY cell), " +
      "csd AS (SELECT m.cell, m.vec_id, " +
      "round((list_cosine_similarity(m.embedding::DOUBLE[], " +
      "e.embedding::DOUBLE[])) * 1e6) / 1e6 AS s0sim " +
      "FROM csm m JOIN csg g ON g.cell = m.cell " +
      "JOIN embeddings e ON e.vec_id = g.v0), " +
      "cst AS (SELECT cell, s0sim AS tau FROM (SELECT cell, s0sim, " +
      "row_number() OVER (PARTITION BY cell " +
      "ORDER BY s0sim DESC, vec_id ASC) AS srn, " +
      "count(*) OVER (PARTITION BY cell) AS n FROM csd) q " +
      "WHERE srn = (n + 1) // 2), " +
      "css AS (SELECT g.cell, e.embedding, t.tau FROM csg g " +
      "JOIN embeddings e ON e.vec_id = g.v0 " +
      "JOIN cst t ON t.cell = g.cell), " +
      "csp AS (SELECT d.cell, d.vec_id, " +
      "CAST(CASE WHEN d.s0sim >= t.tau THEN 0 ELSE 1 END AS INTEGER) AS sub " +
      "FROM csd d JOIN cst t ON t.cell = d.cell)"
    assert(ext.Similarity.cellSplitRoundCtesFor("cs", "home") === frozen)
  }

  test("serve-tail generator: the (st, cs) instance reproduces the " +
       "audited split-serve tail byte-for-byte") {
    // the frozen round-17 literal — sim_split_topk's oracle tail (and
    // through it sim_split_persist / sim_knn_mutual_split /
    // sim_split_recall_eval and the band chains) must stay THIS string
    // exactly; the ("tst", "tcs") trained instance is the same
    // generator, so pinning one pins the rule
    val frozen =
      "sti AS (SELECT vec_id, CAST(cell * 2 + sub AS BIGINT) AS ncell " +
      "FROM csp UNION ALL SELECT h.vec_id, CAST(h.cell * 2 AS BIGINT) " +
      "AS ncell FROM home h LEFT JOIN csh ON csh.cell = h.cell WHERE " +
      "csh.cell IS NULL), stph AS (SELECT pb.vec_id, pb.cell, s.tau, " +
      "round((list_cosine_similarity(e.embedding::DOUBLE[], " +
      "s.embedding::DOUBLE[])) * 1e6) / 1e6 AS s0sim FROM probes pb " +
      "JOIN css s ON s.cell = pb.cell JOIN embeddings e ON e.vec_id = " +
      "pb.vec_id), stp AS (SELECT vec_id, CAST(cell * 2 + CASE WHEN " +
      "s0sim >= tau THEN 0 ELSE 1 END AS BIGINT) AS ncell FROM stph " +
      "UNION ALL SELECT pb.vec_id, CAST(pb.cell * 2 AS BIGINT) AS " +
      "ncell FROM probes pb LEFT JOIN csh ON csh.cell = pb.cell WHERE " +
      "csh.cell IS NULL), stb AS (SELECT e.vec_id, e.embedding, " +
      "i.ncell FROM embeddings e JOIN sti i ON e.vec_id = i.vec_id " +
      "QUALIFY row_number() OVER (PARTITION BY i.ncell ORDER BY " +
      "((((e.vec_id) % 2147483648) * 2654435761) % 2147483648), " +
      "e.vec_id) <= 1024), stm AS (SELECT e.vec_id, e.embedding, " +
      "p.ncell FROM embeddings e JOIN stp p ON e.vec_id = p.vec_id), " +
      "stq AS (SELECT x.vec_id AS a_id, y.vec_id AS b_id, " +
      "round((list_cosine_similarity(x.embedding::DOUBLE[], " +
      "y.embedding::DOUBLE[])) * 1e6) / 1e6 AS sim FROM stm x JOIN " +
      "stb y ON x.ncell = y.ncell AND x.vec_id <> y.vec_id), str AS " +
      "(SELECT a_id, b_id, sim, row_number() OVER (PARTITION BY a_id " +
      "ORDER BY sim DESC, b_id ASC) AS rn FROM stq)"
    assert(ext.Similarity.splitServeTailFor("st", "cs") === frozen)
  }

  test("trained split serve: all-cool trained probes ≡ the trained " +
       "unsplit serve; hot probes actually move") {
    val trained = ext.Similarity
      .queries("sim_cell_split_trained")(spark, sf001)
      .collect()
      .map(r => (r.getLong(0), r.getInt(2)))
    val hotCells = trained.filter(_._2 === 1).map(_._1).toSet
    assert(hotCells.nonEmpty, "no trained cell split — vacuous")
    val probedCells = ext.Similarity.ivfTrainedRanked(spark, sf001)
      .select("vec_id", "cell").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val coolProbes = probedCells.collect {
      case (v, pc) if pc.intersect(hotCells).isEmpty => v
    }.toSet
    assert(coolProbes.nonEmpty, "no all-cool trained probe — vacuous")
    assert(probedCells.exists(_._2.intersect(hotCells).nonEmpty),
      "no probe touches a hot trained cell — vacuous")
    val splitServe = servedRows(
      ext.Similarity.queries("sim_split_topk_trained")(spark, sf001))
    val unsplit = servedRows(
      ext.Similarity.queries("sim_ivf_topk_trained")(spark, sf001))
    assert(splitServe.filter(t => coolProbes.contains(t._1)) ===
           unsplit.filter(t => coolProbes.contains(t._1)),
      "an all-cool probe's top-3 drifted between the trained serves")
    assert(splitServe !== unsplit,
      "the trained split changed nothing — hot cells vacuous")
    // the split shrinks a probed hot cell's candidates to one child,
    // and a global top-3 item survives any candidate subset containing
    // it — so hits vs the shared truth are monotone in the candidate
    // set: trainedsplit recall ≤ trained recall, cell-for-cell truth
    def recallRow(q: String) = {
      val r = ext.Similarity.queries(q)(spark, sf001).collect().head
      (r.getLong(r.fieldIndex("n_truth")), r.getLong(r.fieldIndex("n_hit")))
    }
    val (tTruth, tHit) = recallRow("sim_trained_recall_eval")
    val (sTruth, sHit) = recallRow("sim_split_trained_recall_eval")
    assert(tTruth === sTruth, "the two trained legs read different truths")
    assert(sHit <= tHit,
      s"trained-split hits $sHit exceed trained hits $tHit — " +
      "candidate-subset monotonicity broken")
  }

  test("deep serve at depth 1 ≡ the hand-written split serve") {
    assert(servedRows(ext.Similarity.splitDeepTopK(spark, sf001, 1)) ===
           servedRows(ext.Similarity.queries("sim_split_topk")(spark, sf001)))
  }

  test("sf0.01 deep report: snapshot 0 ties to the depth-1 report, " +
       "the median cut converges in one round, round 2 is a no-op") {
    val rep = ext.Similarity.queries("sim_cell_split_deep")(spark, sf001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(rep.length === 3)
    // snapshot 0 ties to the depth-1 report
    assert(rep(0)._2 === rows.length.toLong)
    assert(rep(0)._3 === rows.count(_._3 === 1).toLong)
    assert(rep(0)._4 === rows.map(_._2).max)
    // the median-τ cut halves every sf0.01 hot cell under the
    // threshold in ONE round (occupancies ≤ 2·SplitOccupancy there) —
    // round 2 is a provable no-op...
    assert(rep(1)._3 === 0L,
      "sf0.01 round-1 children crossed SplitOccupancy — re-derive")
    assert(rep(1)._4 < rep(0)._4)
    // ...that relabels ncells bijectively: occupancies carry over and
    // the deep serve returns the depth-1 serve's rows EXACTLY
    assert(rep(2)._2 === rep(1)._2 && rep(2)._4 === rep(1)._4)
    assert(servedRows(ext.Similarity.queries("sim_split_deep_topk")(spark, sf001)) ===
           servedRows(ext.Similarity.queries("sim_split_topk")(spark, sf001)))
  }

  test("split plan: the chooser row derives from the deep report exactly") {
    val rep = ext.Similarity.queries("sim_cell_split_deep")(spark, sf001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    val plan = ext.Similarity.queries("sim_split_plan")(spark, sf001)
      .collect()
    assert(plan.length === 1)
    val p = plan.head
    val conv = rep.filter(_._3 === 0L).map(_._1).sorted.headOption
    assert(p.getLong(0) === conv.getOrElse(1000000000L),
      "chosen_depth is not the smallest all-cool round")
    assert((p.getInt(1) === 1) === conv.nonEmpty)
    val fin = rep.find(_._1 === ext.Similarity.SplitDepth.toLong).get
    assert(p.getLong(2) === fin._3 && p.getLong(3) === fin._4,
      "final-snapshot context drifted from the report")
  }

  test("incremental split: the round's member scan is partition-pruned " +
       "to the new-hot ncells; combined occupancy partitions the corpus") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val rep = ext.Similarity.queries("sim_split_incremental")(spark, sf001)
    val rows = rep.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
                 r.getLong(3), r.getLong(4), r.getLong(5)))
    // the combined ncell occupancies partition the whole corpus
    assert(rows.map(_._2).sum ===
           Tables.embeddings(spark, sf001).count())
    // non-vacuous: arrivals pushed cells past the threshold, and some
    // cells stayed cool
    assert(rows.exists(_._3 === 1), "no new-hot cell — incremental vacuous")
    assert(rows.exists(_._3 === 0), "every cell hot — threshold vacuous")
    rows.filter(_._3 === 1).foreach { case (c, before, _, c0, c1, mx) =>
      assert(c0 + c1 === before, s"cell $c: children $c0+$c1 != $before")
      assert(mx === math.max(c0, c1) && mx < before,
        s"cell $c: incremental split bought nothing")
    }
    // sf0.01's 250-vector base has NO hot cell — the persisted model is
    // legitimately EMPTY and the descent served through it
    import org.apache.spark.sql.types._
    val mSchema = StructType(Seq(
      StructField("cell", LongType), StructField("sv", ArrayType(FloatType)),
      StructField("snrm", DoubleType), StructField("tau", DoubleType)))
    assert(spark.read.schema(mSchema)
      .parquet(ext.Similarity.incBasePaths(spark, sf001)._2).count() === 0L)
    // the member scan reads the persisted postings PRUNED at the file
    // listing: among the postings scans in the executed plan, one
    // carries a partition filter and reads strictly fewer partitions
    // than the unpruned occupancy scan
    def postingsScans(p: SparkPlan): Seq[FileSourceScanExec] = {
      val self = p match {
        case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(
            _.toString.contains(new java.io.File(
              ext.Similarity.incBasePaths(spark, sf001)._1).getName)) => Seq(f)
        case _ => Seq.empty
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      self ++ kids.flatMap(postingsScans)
    }
    val scans = postingsScans(rep.queryExecution.executedPlan)
    assert(scans.nonEmpty, "no postings scan found in the plan")
    val counts = scans.map(f =>
      (f.partitionFilters.nonEmpty, f.selectedPartitions.partitionCount))
    val unprunedParts = counts.collect { case (false, n) => n }.max
    val prunedParts = counts.collect { case (true, n) => n }
    assert(prunedParts.nonEmpty, s"no partition-filtered postings scan: $counts")
    assert(prunedParts.head === rows.count(_._3 === 1),
      s"pruned scan reads ${prunedParts.head} partitions, " +
      s"expected the ${rows.count(_._3 === 1)} new-hot ncells")
    assert(prunedParts.head < unprunedParts,
      s"pruning bought nothing: $counts")
    // the maintained index persists BACK and serves: the updated
    // postings lay out by ncell, and the model table's round-1 slice
    // is EMPTY here (no hot base cell) while round 2 carries one row
    // per new-hot cell — the flip of the deep-persist converged case
    val served = ext.Similarity
      .queries("sim_split_incremental_serve")(spark, sf001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(served.nonEmpty)
    served.groupBy(_._1).foreach { case (a, rs) =>
      assert(rs.map(_._3).sorted.toSeq === (1 to rs.size),
        s"probe $a has non-contiguous ranks")
      assert(rs.size <= 3)
    }
    val post2 = new java.io.File(Tables.scratch("split_inc2_postings"))
    assert(post2.listFiles().exists(_.getName.startsWith("ncell=")),
      "maintained postings are not partitioned by ncell")
    val m2 = spark.read.parquet(Tables.scratch("split_inc2_models"))
    assert(m2.filter(col("round") === 1).count() === 0L)
    assert(m2.filter(col("round") === 2).count() ===
           rows.count(_._3 === 1).toLong)
  }

  test("planned serve: sf0.01 chooses depth 1 and serves exactly the " +
       "split index, depth stamped in every row") {
    val planned = ext.Similarity
      .queries("sim_split_serve_planned")(spark, sf001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3),
                 r.getLong(4)))
    assert(planned.map(_._5).toSet === Set(1L),
      "sf0.01 planned serve did not stamp the chosen depth 1")
    assert(planned.map(t => (t._1, t._2, t._3, t._4)).toSet ===
           servedRows(ext.Similarity.queries("sim_split_topk")(spark, sf001)),
      "planned serve at chosen depth 1 drifted from the split serve")
  }

  test("deep recall eval: the deepsplit leg reads the shared truth and " +
       "its screen is the deep serve's probe slice") {
    val r = ext.Similarity.queries("sim_split_deep_recall_eval")(spark, sf001)
      .collect().head
    val truthN = ext.Similarity
      .queries("sim_ivf_recall_eval")(spark, sf001).collect().head.getLong(0)
    assert(r.getLong(0) === truthN, "deepsplit leg is not on the shared truth")
    val screen = ext.Similarity.queries("sim_split_deep_topk")(spark, sf001)
      .filter(col("a_id") < 100).count()
    assert(r.getLong(1) === screen)
    assert(r.getLong(3) === r.getLong(2) * 1000000L / r.getLong(0))
  }

  test("persisted deep index: reloaded serve ≡ in-session deep serve " +
       "through an empty converged-round model slice") {
    assert(servedRows(
        ext.Similarity.queries("sim_split_deep_persist")(spark, sf001)) ===
      servedRows(
        ext.Similarity.queries("sim_split_deep_topk")(spark, sf001)))
    val models = spark.read.parquet(Tables.scratch("split_deep_models"))
    // sf0.01 converges in one round — round 2's model slice is EMPTY
    // and the reload path must serve through it unchanged
    assert(models.filter(col("round") === 2).count() === 0L)
    assert(models.filter(col("round") === 1).count() ===
           rows.count(_._3 === 1).toLong)
    val parts = new java.io.File(Tables.scratch("split_deep_postings"))
      .listFiles().filter(_.getName.startsWith("ncell="))
    assert(parts.nonEmpty, "deep postings are not partitioned by ncell")
  }

  test("trained-cell split: same report contract over the Lloyd-trained " +
       "home assignment") {
    val trained = ext.Similarity
      .queries("sim_cell_split_trained")(spark, sf001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
                 r.getLong(3), r.getLong(4), r.getLong(5)))
    // totals tie to the TRAINED home assignment
    val n = ext.Similarity.queries("sim_ivf_assign_trained")(spark, sf001)
      .count()
    assert(trained.map(_._2).sum === n,
      "trained occupancies do not partition the corpus")
    assert(trained.exists(_._3 === 1) && trained.exists(_._3 === 0),
      "both branches must occur on the trained cells at sf0.01")
    trained.foreach { case (cell, before, split, c0, c1, maxAfter) =>
      if (split === 1) {
        assert(before > ext.Similarity.SplitOccupancy)
        assert(c0 + c1 === before)
        assert(maxAfter === math.max(c0, c1) && maxAfter < before)
      } else {
        assert(before <= ext.Similarity.SplitOccupancy)
        assert((c0, c1, maxAfter) === ((0L, 0L, before)))
      }
    }
  }

  test("split mutual graph ≡ the mutual rule over the split serve") {
    val served = servedRows(
      ext.Similarity.queries("sim_split_topk")(spark, sf001))
    val pairs = served.map(t => (t._1, t._2))
    val expected = served
      .filter(t => pairs.contains((t._2, t._1)) && t._1 < t._2)
      .map(t => (t._1, t._2, t._4))
    val got = ext.Similarity.queries("sim_knn_mutual_split")(spark, sf001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(got === expected, "split mutual edges drifted from the serve")
    assert(got.nonEmpty, "no mutual edge — vacuous")
  }

  test("persisted split index: reloaded serve ≡ in-session serve, " +
       "postings laid out by ncell") {
    assert(servedRows(ext.Similarity.queries("sim_split_persist")(spark, sf001)) ===
           servedRows(ext.Similarity.queries("sim_split_topk")(spark, sf001)))
    val postings = new java.io.File(Tables.scratch("split_index_postings"))
    val parts = postings.listFiles().filter(_.getName.startsWith("ncell="))
    assert(parts.nonEmpty, "postings are not partitioned by ncell")
    val seeds = spark.read.parquet(Tables.scratch("split_index_seeds"))
    assert(seeds.columns.toSet === Set("cell", "sv", "snrm", "tau"))
    // one (seed direction, τ) row per split cell — model-sized
    assert(seeds.count() === rows.count(_._3 === 1).toLong)
  }

  test("recursive fixture: a child still hot after round 1 splits again, " +
       "occupancy shrinks, and all-cool probes ≡ ivfTopK at depth 2") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-split-fx").toString
    def e(thetaDeg: Double): Seq[Float] = {
      val t = math.toRadians(thetaDeg)
      Seq(math.cos(t).toFloat, math.sin(t).toFloat, 0f, 0f, 0f, 0f, 0f, 0f)
    }
    // 16 centroids fanned 20° apart; 65 members packed within 6.5° of
    // centroid 0 → cell 0 holds 66 (> 32) and the median-τ cut lands
    // mid-pack (33/33), so BOTH children stay hot and round 2
    // fires on each; 40 IDENTICAL copies of centroid 8's vector make
    // cell 8 a 41-member clump NO seed rule can split (every pick ties
    // to sub 0) — the fail-closed branch of sim_split_plan
    val fixture =
      (0L until 16L).map(c => (c, e(c * 20.0), 0)) ++
      (16L until 81L).map(v => (v, e((v - 15L) * 0.1), 0)) ++
      (81L until 121L).map(v => (v, e(160.0), 0))
    fixture.toDF("vec_id", "embedding", "label").repartition(1)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val rep = ext.Similarity.queries("sim_cell_split_deep")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(rep(0) === ((0L, 16L, 2L, 66L)))
    assert(rep(1)._3 >= 1L, "round 2 found no hot cell — recursion never fired")
    assert(rep(1)._4 < rep(0)._4 && rep(2)._4 <= rep(1)._4,
      s"max occupancy grew: $rep")
    assert(rep(2)._4 < rep(0)._4, s"two rounds bought nothing: $rep")
    // all-cool probes: only cells 0 and 8 ever split here, so a probe
    // that probes neither must be untouched at any depth
    val hotRoots = Set(0L, 8L)
    val emb = Tables.embeddings(spark, dir).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray)
      .toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val raw = a.zip(b).map { case (x, y) => x * y }.sum /
        (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
      BigDecimal(raw * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble / 1e6
    }
    val cells = (0L until 16L).toSeq
    val coolProbes = emb.keys.filter { v =>
      cells.map(c => (c, cos(emb(v), emb(c))))
        .sortBy { case (c, s) => (-s, c) }.take(2).map(_._1)
        .forall(c => !hotRoots.contains(c))
    }.toSet
    assert(coolProbes.nonEmpty, "no all-cool probe — vacuous fixture")
    def servedCool(df: org.apache.spark.sql.DataFrame) =
      servedRows(df).filter(t => coolProbes.contains(t._1))
    assert(servedCool(ext.Similarity.splitDeepTopK(spark, dir, 2)) ===
           servedCool(ext.Similarity.queries("sim_ivf_topk")(spark, dir)),
      "an all-cool probe's top-3 drifted under the recursive split")
    // the identical-vector clump can never shed members (every pick
    // ties to child 0), so no snapshot is ever all-cool — the plan
    // fails CLOSED instead of pretending a depth suffices
    val fp = ext.Similarity.queries("sim_split_plan")(spark, dir)
      .collect().head
    assert(fp.getLong(0) === 1000000000L && fp.getInt(1) === 0,
      "plan did not fail closed on the unsplittable clump")
    // ...and the plan-driven serve honors the fail-closed branch: it
    // serves the UNSPLIT index (depth_used 0) instead of pretending a
    // depth suffices
    val planned = ext.Similarity
      .queries("sim_split_serve_planned")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3),
                 r.getLong(4)))
    assert(planned.map(_._5).toSet === Set(0L),
      "fail-closed planned serve did not stamp depth 0")
    assert(planned.map(t => (t._1, t._2, t._3, t._4)).toSet ===
           servedRows(ext.Similarity.queries("sim_ivf_topk")(spark, dir)),
      "fail-closed planned serve drifted from the unsplit serve")
    // and the persisted deep index round-trips HERE too — on this
    // fixture round 2's model slice is NON-empty (the sf0.01 pin
    // covers the empty-slice side)
    assert(servedRows(
        ext.Similarity.queries("sim_split_deep_persist")(spark, dir)) ===
      servedRows(ext.Similarity.splitDeepTopK(spark, dir, 2)))
    val fxModels = spark.read.parquet(Tables.scratch("split_deep_models"))
    assert(fxModels.filter(col("round") === 2).count() >= 1L)
    // incremental maintenance HERE drives the non-empty-model path the
    // quiet sf0.01 base can't: the base half (vec_id < 60) packs 44
    // members into cell 0, so the persisted base index carries a real
    // split and arrivals descend through its tau compare before the
    // incremental round fires on the re-heated cells
    val inc = ext.Similarity.queries("sim_split_incremental")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
                 r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(inc.map(_._2).sum === 121L,
      "combined occupancy does not partition the fixture corpus")
    assert(spark.read.parquet(ext.Similarity.incBasePaths(spark, dir)._2).count() >= 1L,
      "the fixture base produced no split model — non-empty path vacuous")
    assert(inc.exists(_._3 === 1),
      "arrivals re-heated no cell — incremental round vacuous on fixture")
    inc.filter(_._3 === 1).foreach { case (c, before, _, c0, c1, _) =>
      assert(c0 + c1 === before, s"fixture cell $c: $c0+$c1 != $before")
    }
    // the identical-vector clump arrives whole (ids 81..120 ≥ 60 mix
    // base and arrivals — its cell re-heats and stays unsplittable:
    // every pick ties to child 0)
    assert(inc.exists(t => t._3 === 1 && t._5 === 0L),
      "no unsplittable re-heated cell — the tie-mass branch went untested")
    // the maintained-index serve runs on the fixture too, and HERE the
    // persisted model's round-1 slice is NON-empty (the hot base cell)
    assert(ext.Similarity
      .queries("sim_split_incremental_serve")(spark, dir).count() > 0L)
    val m2fx = spark.read.parquet(Tables.scratch("split_inc2_models"))
    assert(m2fx.filter(col("round") === 1).count() >= 1L,
      "fixture base produced no round-1 model — non-empty path vacuous")
  }

  test("deep incremental: sf0.01 converges at round 1 and the " +
       "trajectory ties to the incremental report") {
    val tr = ext.Similarity
      .queries("sim_split_incremental_deep")(spark, sf001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(tr.length === ext.Similarity.SplitDepth + 1)
    // round 0 = the combined occupancy the single-round report audits
    val inc = ext.Similarity.queries("sim_split_incremental")(spark, sf001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(tr(0)._2 === inc.length.toLong)
    assert(tr(0)._3 === inc.count(_._3 === 1).toLong)
    assert(tr(0)._4 === inc.map(_._2).max)
    // one round de-hots sf0.01; the converged round repeats the stats
    // (the oracle's ×2 relabel is bijective — the honest early-stop)
    assert(tr(1)._3 === 0L, "sf0.01 did not converge in one round")
    assert((tr(2)._2, tr(2)._3, tr(2)._4) ===
           ((tr(1)._2, tr(1)._3, tr(1)._4)))
  }

  test("deep incremental fixture: round 2 fires on still-hot children " +
       "with a pruned member scan; stream-triggered maintenance ≡ batch") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-incdeep-fx").toString
    def e(thetaDeg: Double): Seq[Float] = {
      val t = math.toRadians(thetaDeg)
      Seq(math.cos(t).toFloat, math.sin(t).toFloat, 0f, 0f, 0f, 0f, 0f, 0f)
    }
    // 16 centroids fanned 20° apart (ids 0..15); 42 base pack members
    // within 2.1° of centroid 0 (ids 16..57 — base half = vec_id < 58)
    // make base cell 0 hot (43 > 32), so the persisted base index
    // carries one split; 58 arrivals at 2.15°..5.0° (ids 58..115) all
    // land below the base τ ≈ cos(1.05°), re-heating child 1 to 79 —
    // round 1's median cut leaves BOTH children ~40/39 (still hot),
    // round 2 finishes at ~20: the ≥2-round repair the single-round
    // report cannot complete (round-17 verdict item 3)
    val fixture =
      (0L until 16L).map(c => (c, e(c * 20.0), 0)) ++
      (16L until 116L).map(v => (v, e((v - 15L) * 0.05), 0))
    fixture.toDF("vec_id", "embedding", "label").repartition(1)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val deep = ext.Similarity
      .queries("sim_split_incremental_deep")(spark, dir)
    val tr = deep.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(tr(0)._3 >= 1L, "no hot cell after arrivals — fixture vacuous")
    assert(tr(1)._3 >= 1L,
      s"round 1 finished the repair — fixture needs ≥ 2 rounds: $tr")
    assert(tr(2)._3 === 0L, s"round 2 did not finish the repair: $tr")
    assert(tr(1)._4 < tr(0)._4 && tr(2)._4 < tr(1)._4,
      s"occupancy did not shrink per round: $tr")
    // round 2's member scan reads the persisted round-1 index PRUNED
    // to that round's still-hot ncells at the file listing
    def prunedScans(p: SparkPlan): Seq[FileSourceScanExec] = {
      val self = p match {
        case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(
            _.toString.contains("split_inc_deep_r2")) => Seq(f)
        case _ => Seq.empty
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      self ++ kids.flatMap(prunedScans)
    }
    val scans = prunedScans(deep.queryExecution.executedPlan)
      .filter(_.partitionFilters.nonEmpty)
    assert(scans.nonEmpty, "round 2 has no partition-filtered member scan")
    assert(scans.head.selectedPartitions.partitionCount === tr(1)._3,
      s"round-2 member scan reads " +
      s"${scans.head.selectedPartitions.partitionCount} partitions, " +
      s"expected the ${tr(1)._3} still-hot ncells")
    // STREAM-TRIGGERED maintenance on the same arrival split: detect
    // (hot-cell signal over two micro-batches) → flagged work list →
    // pruned round → persist back; report ≡ sim_split_incremental
    val sdir = java.nio.file.Files
      .createTempDirectory("graft-incdeep-stream").toString
    def writeOne(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-incdeep-one")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.toFile.listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$sdir/$name"))
    }
    val arrivals = Tables.embeddings(spark, dir).filter(col("vec_id") >= 58)
    writeOne(arrivals.filter(col("vec_id") < 86), "vecs-000.parquet")
    writeOne(arrivals.filter(col("vec_id") >= 86), "vecs-001.parquet")
    val stream = spark.readStream
      .schema(graft.streaming.VecStream.vecSchema)
      .option("maxFilesPerTrigger", 1).parquet(sdir)
    val io = java.nio.file.Files
      .createTempDirectory("graft-incdeep-io").toString
    graft.streaming.VecStream.maintainFromSignalToParquet(spark, dir,
      stream, s"$io/assign", s"$io/ckpt", s"$io/signal",
      s"$io/postings", s"$io/models", s"$io/report")
    // non-vacuous: the detector flagged the packed cell
    assert(spark.read.parquet(s"$io/signal")
      .filter(col("split_needed") === 1).count() >= 1L,
      "the stream detector flagged nothing — restriction untested")
    def repRows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
                 r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(repRows(spark.read.parquet(s"$io/report")) ===
           repRows(ext.Similarity
             .queries("sim_split_incremental")(spark, dir)),
      "stream-triggered maintenance drifted from the batch round")
    // the repaired index persisted back in the serve layout
    assert(new java.io.File(s"$io/postings").listFiles()
      .exists(_.getName.startsWith("ncell=")),
      "maintained postings are not partitioned by ncell")
    assert(spark.read.parquet(s"$io/models")
      .filter(col("round") === 2).count() >= 1L,
      "the stream-triggered round wrote no round-2 model")
  }

  test("planned band serve: sf0.01's whole grid clears the efficiency " +
       "bar — chosen 150000µ — and the serve equals that margin's serve") {
    val planned = ext.Similarity
      .queries("sim_split_band_planned")(spark, sf001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3),
                 r.getLong(4)))
    assert(planned.map(_._5).toSet === Set(150000L),
      "sf0.01 planned band did not stamp the 150k margin")
    assert(planned.map(t => (t._1, t._2, t._3, t._4)).toSet ===
           servedRows(ext.Similarity
             .splitBandTopKAt(spark, sf001, 150000L)),
      "planned band serve drifted from the explicit-margin serve")
  }

  test("planned band: a tie-mass corpus gains nothing from the band " +
       "and fails closed to margin 0") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-bandplan-fx").toString
    def e(thetaDeg: Double): Seq[Float] = {
      val t = math.toRadians(thetaDeg)
      Seq(math.cos(t).toFloat, math.sin(t).toFloat, 0f, 0f, 0f, 0f, 0f, 0f)
    }
    // the BASELINE round-17 replica finding in miniature: 10 distinct
    // pack directions × 5 EXACT copies pack cell 0 to 51 (> 32); every
    // probe's true top-3 are its exact copies, which share its child
    // at ANY margin (identical s0sim), so recall gain is 0 while the
    // τ tie mass makes in-band dual probes fire — the planner must
    // refuse the band rather than over-fire on tie mass
    val fixture =
      (0L until 16L).map(c => (c, e(c * 20.0), 0)) ++
      (16L until 66L).map(v => (v, e(((v - 16L) / 5L + 1L) * 0.3), 0))
    fixture.toDF("vec_id", "embedding", "label").repartition(1)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val planned = ext.Similarity
      .queries("sim_split_band_planned")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3),
                 r.getLong(4)))
    assert(planned.map(_._5).toSet === Set(0L),
      "tie-mass corpus did not fail closed to margin 0")
    assert(planned.map(t => (t._1, t._2, t._3, t._4)).toSet ===
           servedRows(ext.Similarity.queries("sim_split_topk")(spark, dir)),
      "fail-closed planned band drifted from the plain split serve")
    // non-vacuous: the band WOULD have cost candidates here (in-band
    // probes exist at the τ tie), so choosing 0 was a decision, not a
    // degenerate grid
    val sweep = ext.Similarity.queries("sim_split_band_sweep")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4)))
      .sortBy(_._1)
    assert(sweep.last._2 > sweep.head._2,
      "no in-band probe fired — the tie-mass branch went untested")
    assert(sweep.last._3 === sweep.head._3,
      "the band gained hits on the tie corpus — fixture broken")
  }
}
