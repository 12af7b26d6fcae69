package graft.ext

import graft.Tables
import graft.ops.Num
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{UserDefinedFunction, Window}
import org.apache.spark.sql.functions._

/** Similarity search over `embeddings` (64-dim float vectors) — the
  * north-star ANN surface: brute-force cosine top-k as the baseline, and
  * random-hyperplane LSH bucketing as the scale path (bucket join beats
  * the O(n²) cross product at 100 TB).
  *
  * All vector math is built-in higher-order functions (`zip_with` +
  * `aggregate`), codegen'd, no UDFs. Hyperplanes are derived from a
  * deterministic LCG so the identical ±1 literals appear in the generated
  * DuckDB oracle SQL.
  */
object Similarity {

  /** Dot product via the codegen'd [[graft.functions.ArrayDot]]
    * expression — bit-identical to the former
    * `aggregate(zip_with(...))` HOF fold (same left-to-right double
    * accumulation; see ArrayDot's scaladoc), but one tight primitive
    * loop instead of interpreted lambda dispatch per element. Every
    * oracle is unchanged. */
  private def dotCols(a: Column, b: Column): Column =
    graft.functions.ArrayDot.col(a, b)

  private def cosine(a: Column, b: Column): Column =
    dotCols(a, b) / (sqrt(dotCols(a, a)) * sqrt(dotCols(b, b)))

  /** Element-wise vector mean as ONE typed Aggregator
    * ([[graft.functions.VecSum]]) — replaces the posexplode → groupBy
    * (key, pos) → avg shape whose 64× row blowup hit the exchange
    * before aggregation. The map side now combines to one
    * (sums[64], counts[64]) buffer per key; value semantics (and the
    * 6-dp-rounded outputs every oracle checks) are unchanged. */
  private val vecMean = udaf(new graft.functions.VecSum,
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Float]]())

  /** Double-array variant for residual space (IVF-PQ). */
  private val vecMeanD = udaf(new graft.functions.VecSumD,
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]())

  /** Bounded top-[[NProbe]] cell ranking as a typed Aggregator
    * ([[graft.functions.TopKPairsAggregator]]) — replaces the
    * `row_number over (partition by vec_id order by csim desc, cell)`
    * window on the n×cells scans. The window form exchanges and SORTS
    * every (vec, cell, csim) row: at 150 k vectors × the 4096-cell
    * clamp that is a ~600 M-row sort that outgrows per-task execution
    * memory and spills multi-pass (measured 2× data → 9× CPU / 19 GB
    * spill — round-14 BASELINE). The aggregate keeps NProbe pairs per
    * vector per partition, combines MAP-SIDE, ships n·NProbe rows, and
    * never sorts — so past the cell clamp the scan is genuinely linear
    * in n. Selection and rank are IDENTICAL to the window (largest
    * csim first, ties to the lower cell); every oracle is unchanged. */
  // lazy: NProbe is declared later in the file — a plain val would
  // capture the uninitialized 0 during object construction
  private lazy val topNProbe = topPairs(NProbe)

  /** The bounded top-`k` (score, id) aggregate behind [[topNProbe]] and
    * [[topServe]]. */
  private def topPairs(k: Int) = udaf(
    new graft.functions.TopKPairsAggregator(k),
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Double, Long)]())

  /** Bounded top-3 SERVE ranking over a corpus-probe candidate frame
    * (a_id, b_id, sim, …) — selection EXACTLY `row_number over
    * (sim desc, b_id asc) <= 3` (the TopKPairsAggregator contract,
    * −0.0/NaN discipline included). The round-14 ranking-architecture
    * rule extended to the serve tail: when EVERY vector is a probe
    * (ivfTopK, annTopK, the trained serve, the NN-descent re-rank), the
    * rerank window exchange-and-sorts all n×occupancy candidate rows —
    * measured 14.4 GB spill at 768 k vectors (BASELINE round 15) —
    * while the aggregate map-side-combines to 3 pairs per probe.
    * Probe-bounded reranks (100-row eval probes, delete/filtered/upsert
    * serves) legitimately stay window-based. Oracles unchanged. */
  private lazy val topServe = topPairs(TopK)

  private def serveTop3(cand: DataFrame): DataFrame =
    cand.groupBy("a_id")
      .agg(topServe(col("sim"), col("b_id")).as("tk"))
      .select(col("a_id"), posexplode(col("tk")))
      .select(col("a_id"), col("col._2").as("b_id"),
              (col("pos") + 1).cast("int").as("rn"), col("col._1").as("sim"))

  /** The one nearest-cell ranking: every (vec_id, embedding, nrm) row
    * against a (cell, cv, cnrm) centroid table by 6-dp-rounded cosine,
    * folded per vector by a bounded top-k aggregate (default
    * [[topNProbe]]; no window sort) into the column `tk` — largest csim
    * first, ties to the lower cell. Callers place their own [[fanOut]]
    * and read `tk` through [[explodeRanked]] or [[nearestCell]]. */
  private def rankCells(vecs: DataFrame, cents: DataFrame,
                        agg: UserDefinedFunction = topNProbe): DataFrame =
    vecs.crossJoin(broadcast(cents))
      .select(col("vec_id"),
              Num.rnd(dotCols(col("embedding"), col("cv")) /
                        (col("nrm") * col("cnrm")), 6).as("csim"),
              col("cell"))
      .groupBy("vec_id")
      .agg(agg(col("csim"), col("cell")).as("tk"))

  /** Expand a [[rankCells]] result column `tk` back to the ranked long
    * form (vec_id, cell, csim, rn) every consumer expects. */
  private def explodeRanked(df: DataFrame): DataFrame =
    df.select(col("vec_id"), posexplode(col("tk")))
      .select(col("vec_id"), col("col._2").as("cell"),
              col("col._1").as("csim"),
              (col("pos") + 1).cast("int").as("rn"))

  /** The rank-1 entry of a [[rankCells]] result: (vec_id, cell, csim). */
  private def nearestCell(df: DataFrame): DataFrame =
    df.select(col("vec_id"),
              element_at(col("tk"), 1).getField("_2").as("cell"),
              element_at(col("tk"), 1).getField("_1").as("csim"))

  /** The seed (stub) centroid table: the first `cells` vectors of a
    * (vec_id, embedding, nrm) frame as (cell, cv, cnrm). */
  private def seedCentroids(vecs: DataFrame, cells: Int): DataFrame =
    vecs.filter(col("vec_id") < cells)
      .select(col("vec_id").as("cell"), col("embedding").as("cv"),
              col("nrm").as("cnrm"))

  /** Long-form centroids (cell, pos, m) → the (cell, cv, cnrm) table
    * [[rankCells]] scans: position-sorted element lists, norm once per
    * centroid. Tiny frame (≤ cells rows); consumers that need no norm
    * leave `cnrm` to column pruning. */
  private def centroidTable(longForm: DataFrame): DataFrame =
    longForm.groupBy("cell")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
                     x => x.getField("m")).as("cv"))
      .withColumn("cnrm", sqrt(dotCols(col("cv"), col("cv"))))

  /** Long-form centroid rows from a vecMean result: (key…, pos, m) with
    * means rounded at 6 dp for the cross-engine check — posexplode here
    * runs on the ALREADY-AGGREGATED tiny frame (keys×64 rows). */
  private def meanLongForm(grouped: DataFrame, keyCol: String): DataFrame =
    grouped
      .select(col(keyCol), posexplode(col("mv")))
      .select(col(keyCol), col("pos").cast("int").as("pos"),
              Num.rnd(col("col"), 6).as("m"))

  /** L2 norm per vector (fold determinism probe for the oracle). */
  def norms(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"),
              Num.rnd(sqrt(dotCols(col("embedding"), col("embedding"))), 6).as("nrm"))

  /** Brute-force cosine top-10 against the vec_id=0 query vector.
    * TakeOrderedAndProject (no global sort); the query side is a 1-row
    * broadcast, the big side streams — scales linearly. */
  def bruteTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    // query norm computed ONCE in the broadcast row, not per candidate
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"),
              sqrt(dotCols(col("embedding"), col("embedding"))).as("qnrm"))
    emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
              Num.rnd(dotCols(col("embedding"), col("qv")) /
                        (sqrt(dotCols(col("embedding"), col("embedding"))) * col("qnrm")),
                      6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id").asc)
      .limit(10)
  }

  /** Deterministic ±1 hyperplane entries via LCG (same numbers are
    * emitted as literals into the oracle SQL). */
  private[graft] def plane(j: Int, dim: Int = 64): Seq[Double] =
    (0 until dim).map { i =>
      val x = (1103515245L * (j * dim + i) + 12345L) >> 16
      if ((x & 1L) == 1L) 1.0 else -1.0
    }

  /** Scale-aware index sizing: the round-1 design froze 8 planes (256
    * buckets) and 16 IVF cells forever, so the in-bucket self-join was
    * O(n²/256) — quadratic at 100 TB. Bucket count must grow with n:
    * planes = clamp(8, 20, ⌈log2(n / 8)⌉) targets ~8 vectors per bucket
    * (2^20 ≈ 1M buckets at the top), cells = clamp(16, 4096, ⌈n/32⌉).
    * At sf0.01 (n=500) both formulas yield exactly the round-1 constants
    * (8 planes, 16 cells), which is the regime the static oracle SQL
    * encodes — the driver verifies at sf0.01, so the oracle stays exact
    * while bench/production scales get a bigger index. The count that
    * feeds the formula is one metadata-cheap job, memoized per
    * (session, dir) — the same role AQE's runtime stats play. */
  private[graft] def embCount(spark: SparkSession, dir: String): Long =
    CountMemo.get(spark, dir, "embeddings")(
      Tables.embeddings(spark, dir).count())

  private[graft] def numPlanes(n: Long): Int = {
    val want = math.ceil(math.log(math.max(n, 1L) / 8.0) / math.log(2.0)).toInt
    math.max(8, math.min(20, want))
  }
  private[graft] def ivfCells(n: Long): Int =
    math.max(16, math.min(4096, math.ceil(n / 32.0).toInt))

  /** Rebalance a compute-heavy scan to the session's core count before
    * an n×cells centroid product. Parquet split sizing is byte-based
    * (`maxPartitionBytes`), so a compact embedding table arrives in a
    * handful of splits even when the per-row work downstream is
    * cells×64 mul-adds: the sf1 scaling run (bench_sf1.json) measured
    * the whole assign family at ≤8 tasks on 32 cores — a parallelism
    * ceiling, not a data bottleneck. The round-robin exchange carries
    * only the table's own bytes (MBs here; on a real cluster the table
    * already arrives in ≥cores splits, so this stays a same-magnitude
    * rebalance). Downstream math is row-independent, so partitioning
    * cannot change any output. */
  private def fanOut(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Hard cap on candidates drawn per bucket (deterministic: lowest
    * vec_ids kept). A skewed bucket of M rows yields at most M·cap pairs
    * instead of M² — linear, never quadratic. Sized far above any bucket
    * at test SFs (no effect on oracle results); at 100 TB it bounds the
    * worst case that plane-count growth alone can't. HONESTY NOTE: when
    * the cap fires, the b-side is truncated to the cap lowest vec_ids —
    * pairs among higher-id members of an oversized bucket are not
    * examined, so results are id-biased, not a uniform sample. The cap
    * firing means a bucket is ~128× over the ~8-vector target — raise
    * numPlanes (or re-shard the bucket) rather than rely on the cap;
    * it is a guardrail against quadratic blowup, not a sampler. */
  private[graft] val MaxBucketCandidates = 1024

  /** Salted deterministic order for cap truncation: a Knuth
    * multiplicative scramble of the id, so an oversized bucket degrades
    * to a pseudo-uniform SAMPLE instead of "the cap lowest vec_ids"
    * (round 3's order was id-biased when the cap fired). Pure integer
    * arithmetic — the identical formula is emitted into the oracle CTEs.
    * The pre-mod bounds the product below 2^63 for ALL non-negative ids
    * (max (2^31-1)·2654435761 ≈ 5.7e18 < Long.MaxValue), so no id range
    * can overflow — which THROWS under Spark 4 ANSI and errors in
    * DuckDB. */
  private[graft] def saltOrd(id: Column): Column =
    pmod(pmod(id, lit(2147483648L)) * lit(2654435761L), lit(2147483648L))

  /** Shared candidate stage for the bucket/cell ANN family: self-join on
    * the partition key with the b-side capped, exact cosine per pair
    * from precomputed norms (ONE 64-dim fold per candidate). Callers
    * filter (a != b or a < b) and rank/threshold.
    *
    * Cap firings are OBSERVABLE: an `observe` metric (CollectMetrics —
    * computed during the normal action, no extra pass) reports how many
    * candidate rows the cap dropped and the largest bucket seen;
    * [[CapMetrics]] registers a listener that WARN-logs any truncation,
    * so silently-degraded neighbor sets can't go unnoticed — the
    * operator's own guidance is to raise numPlanes when this fires. */
  private[graft] def pairCandidates(withKey: DataFrame, key: String,
                                  cap: Int = MaxBucketCandidates): DataFrame =
    pairCandidatesAB(withKey, withKey, key, cap)

  /** Asymmetric form: `aKeyed` supplies the probe side (may carry several
    * key rows per vector — multi-probe IVF), `bKeyed` the indexed side
    * (home key only, cap applies here). Both need (vec_id, embedding,
    * key, nrm). */
  private[graft] def pairCandidatesAB(aKeyed: DataFrame, bKeyed: DataFrame,
                                      key: String, cap: Int): DataFrame = {
    val a = aKeyed.select(col("vec_id").as("a_id"), col("embedding").as("va"),
                          col(key), col("nrm").as("nrm_a"))
    val wCap = Window.partitionBy(key)
      .orderBy(saltOrd(col("b_id")).asc, col("b_id").asc)
    val b = bKeyed.select(col("vec_id").as("b_id"), col("embedding").as("vb"),
                          col(key), col("nrm").as("nrm_b"))
      .withColumn("rnb", row_number().over(wCap))
      // the instance counter keeps the metric name unique when two
      // independent builds of this stage land in ONE plan (e.g.
      // sim_nn_descent_eval joins the baseline and the refined graph,
      // each embedding its own candidate stage) — Spark rejects
      // same-named CollectMetrics with different results
      // (DUPLICATED_METRICS_NAME). CapMetrics prefix-matches, so every
      // instance still WARN-logs on truncation.
      .observe(s"graft_bucket_cap_${key}_${CapSeq.incrementAndGet()}",
        // coalesce: over 0 rows sum/max are NULL, which must read as
        // "nothing truncated", not crash the metrics listener
        coalesce(sum(when(col("rnb") > cap, 1L).otherwise(0L)), lit(0L))
          .as("rows_truncated"),
        coalesce(max(col("rnb")), lit(0)).as("max_bucket_rows"))
      .filter(col("rnb") <= cap).drop("rnb")
    a.join(b, Seq(key))
      .select(col("a_id"), col("b_id"),
              Num.rnd(dotCols(col("va"), col("vb")) / (col("nrm_a") * col("nrm_b")), 6)
                .as("sim"))
  }

  /** Monotone id for cap-metric names — uniqueness within any one plan. */
  private val CapSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  private def bucketCol(planes: Int): Column =
    (0 until planes).map { j =>
      val h = array(plane(j).map(lit): _*)
      when(dotCols(col("embedding"), h) > 0, 1 << j).otherwise(0)
    }.reduce(_ + _).as("bucket")

  /** LSH bucket assignment: random-hyperplane sign bits → bucket id.
    * Near vectors collide with high probability. */
  def lshBuckets(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), bucketCol(numPlanes(embCount(spark, dir))))

  /** One-row micronized-ln entropy fold over a (key, c) size frame —
    * shared by [[bucketEntropy]] (LSH buckets) and [[cellBalance]]
    * (trained-IVF home cells): the two index-health twins must apply
    * the identical discipline. */
  private def entropyFold(sizes: DataFrame): DataFrame = {
    import Num.lnMicro
    sizes
      .agg(count(lit(1)).as("n_buckets"), sum("c").as("n_vecs"),
           max("c").as("max_bucket"),
           sum(col("c") * lnMicro(col("c"))).as("sclnc"))
      .withColumn("h_micro",
        lnMicro(col("n_vecs")) - expr("sclnc div n_vecs"))
      .withColumn("h_max_micro", lnMicro(col("n_buckets")))
      .withColumn("balance_micro",
        when(col("n_buckets") === 1L, lit(1000000L))
          .otherwise(expr("(h_micro * CAST(1000000 AS BIGINT)) div h_max_micro")))
      .select("n_buckets", "n_vecs", "max_bucket",
              "h_micro", "h_max_micro", "balance_micro")
  }

  /** LSH bucket-balance entropy — the index-health number an ANN
    * operator watches before trusting its candidate volumes: Shannon
    * entropy of the bucket-size distribution vs the ln(n_buckets)
    * ceiling, as a micro-unit balance ratio. Skewed hyperplanes (or a
    * drifted corpus) collapse mass into few buckets → candidate caps
    * fire and recall quietly degrades; balance ≈ 1e6 is the healthy
    * reading. Same micronized-ln discipline as the entropy family
    * (each ln rounded to µ-nats FIRST, then exact BIGINT; all
    * non-negative so div ≡ //). One bucket-size agg + a one-row fold —
    * free at any corpus scale. */
  def bucketEntropy(spark: SparkSession, dir: String): DataFrame =
    entropyFold(lshBuckets(spark, dir)
      .groupBy("bucket").agg(count(lit(1)).as("c")))

  /** IVF cell-balance entropy — the trained-quantizer twin of
    * [[bucketEntropy]] (random hyperplanes vs learned centroids): the
    * entropy of HOME-cell occupancy from the memoized assignment
    * (owner sim_ivf_assign family). Imbalanced cells mean nprobe
    * recall varies by query region and the per-cell candidate cap
    * fires early — this is the number that says "retrain the
    * quantizer". Same fold, same guards, cell-named columns. */
  def cellBalance(spark: SparkSession, dir: String): DataFrame =
    entropyFold(ivfAssignRanked(spark, dir).filter(col("rn") === 1)
      .groupBy("cell").agg(count(lit(1)).as("c")))
      .toDF("n_cells", "n_vecs", "max_cell",
            "h_micro", "h_max_micro", "balance_micro")

  /** ANN top-3 per query via LSH: self-join within buckets (candidate set
    * ~n/256 per vector instead of n), exact cosine re-rank, keep 3.
    * The bucketed join is the 100 TB path: shuffle by bucket, no cross
    * product. */
  def annTopK(spark: SparkSession, dir: String): DataFrame = {
    // norms are precomputed once per vector (not per pair): the pairwise
    // stage then does ONE 64-dim fold per candidate instead of three.
    val withB = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
              bucketCol(numPlanes(embCount(spark, dir))),
              sqrt(dotCols(col("embedding"), col("embedding"))).as("nrm"))
    serveTop3(pairCandidates(withB, "bucket")
      .filter(col("a_id") =!= col("b_id")))
      .select("a_id", "b_id", "rn", "sim")
  }

  /** Embedding-cosine near-dup (the dedup-by-embedding path): candidate
    * pairs from LSH buckets, exact cosine confirm at a threshold. Same
    * bucket-join scale shape as annTopK — never O(n²). The threshold is
    * 0.4 because the synthetic vectors are near-orthogonal (max pairwise
    * cosine ~0.51 at sf0.01): a 0.9 cut matches nothing and would make
    * the oracle check vacuous; at 0.4 real pairs survive, so the cosine
    * path is actually verified. */
  def embeddingNearDup(spark: SparkSession, dir: String): DataFrame = {
    val withB = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
              bucketCol(numPlanes(embCount(spark, dir))),
              sqrt(dotCols(col("embedding"), col("embedding"))).as("nrm"))
    pairCandidates(withB, "bucket")
      .filter(col("a_id") < col("b_id"))
      .filter(col("sim") >= 0.4)
  }

  /** Probe width for IVF search: every query probes its `NProbe` nearest
    * cells (indexed vectors still live in ONE home cell). nprobe=1 missed
    * true neighbors that fell just across a cell boundary — the classic
    * IVF recall cliff; nprobe=2 roughly doubles the candidate set
    * (cost ~2× the in-cell join, still no cross product) for most of the
    * recall that higher nprobe buys. Static so the oracle SQL encodes the
    * same constant at every scale. */
  private[graft] val NProbe = 2

  /** Probe-sample size of the eval family: the queries `vec_id <
    * ProbeN` are scored against the exact truth, the oracle's probe
    * predicate included. */
  private[graft] val ProbeN = 100L

  /** Serve and truth depth: every top-k of the family keeps the k =
    * TopK best neighbours (rn <= TopK, sim desc then b_id asc). */
  private[graft] val TopK = 3

  /** IVF-style ANN: the first `ivfCells(n)` vectors act as the coarse
    * quantizer ("trained" centroids — a stub quantizer standing in for
    * k-means, deterministic); every vector is RANKED against the (tiny,
    * broadcast) centroid table and the top [[NProbe]] cells are kept —
    * rn = 1 is the home-cell assignment, rn > 1 the extra probe targets.
    * Memoized once per (session, dir): the n×cells cosine scan is the
    * expensive half and assignment/search/training all start from it. */
  private[ext] def ivfAssignRanked(spark: SparkSession, dir: String): DataFrame =
    CkptMemo.getOrElseUpdate((spark, dir, "ivfassign"),
      rankedAtNprobe(spark, dir, NProbe).localCheckpoint())

  /** The n×cells bounded top-k centroid ranking at an EXPLICIT probe
    * width — the memoized [[ivfAssignRanked]] is the k = [[NProbe]]
    * instance (same aggregator selection, so the memo is byte-identical
    * to the pre-refactor build); [[serveAtNprobe]]'s k > NProbe arm is
    * the only other caller, deliberately UN-memoized: it runs only when
    * [[nprobePlanned]]'s chooser picks a width the production memo
    * doesn't carry, a query-time cost like probe descent. */
  private def rankedAtNprobe(spark: SparkSession, dir: String,
                             k: Int): DataFrame = {
    val emb = embWithNrm(spark, dir)
    explodeRanked(rankCells(fanOut(emb),
      seedCentroids(emb, ivfCells(embCount(spark, dir))), topPairs(k)))
  }

  /** Home-cell (rank-1) coarse assignment — the `sim_ivf_assign` query. */
  def ivfAssign(spark: SparkSession, dir: String): DataFrame =
    ivfAssignRanked(spark, dir)
      .filter(col("rn") === 1)
      .select("vec_id", "cell", "csim")

  /** IVF search: top-3 neighbors per vector — each query probes its
    * [[NProbe]] nearest cells, candidates are the indexed vectors whose
    * HOME cell matches a probed cell (shuffle by cell, b-side capped),
    * exact cosine re-rank. A pair appears at most once (the b side has
    * one home cell), so no dedup stage is needed. */
  def ivfTopK(spark: SparkSession, dir: String): DataFrame =
    serveTop3(ivfCandidates(spark, dir))
      .select("a_id", "b_id", "rn", "sim")

  /** The multi-probe candidate stage (a_id, b_id, 6-dp sim) shared by
    * [[ivfTopK]] and [[rangeSearch]] — its oracle mirror is
    * ivfTopKCteSql's chain through `p` (lockstep). */
  private def ivfCandidates(spark: SparkSession, dir: String): DataFrame = {
    val ranked = ivfAssignRanked(spark, dir)
    val emb = embWithNrm(spark, dir)
    cellCandidates(emb, ranked, emb, homeOf(ranked))
  }

  /** The IVF cell candidate stage (a_id, b_id, 6-dp sim): `probes`
    * (vec_id, embedding, nrm) join their probed cells (`probeCells`:
    * vec_id, cell, …), `indexed` joins its HOME cells (`home`: vec_id,
    * cell), capped bucket join on cell, self pairs dropped. A pair
    * appears at most once (the b side has one home cell). */
  private def cellCandidates(probes: DataFrame, probeCells: DataFrame,
                             indexed: DataFrame, home: DataFrame): DataFrame =
    pairCandidatesAB(
      probes.join(probeCells.select("vec_id", "cell"), Seq("vec_id")),
      indexed.join(home, Seq("vec_id")), "cell", MaxBucketCandidates)
      .filter(col("a_id") =!= col("b_id"))

  /** The home-cell (rn = 1) rows of a ranked assignment: (vec_id, cell). */
  private def homeOf(ranked: DataFrame): DataFrame =
    ranked.filter(col("rn") === 1).select("vec_id", "cell")

  /** Probe-bounded top-3 per a_id by the rerank window (sim desc, b_id
    * asc) — the serve tail where only a probe sample ranks (see
    * [[topServe]]); rn as INT. */
  private def windowTop3(cand: DataFrame): DataFrame = {
    val w = Window.partitionBy("a_id").orderBy(col("sim").desc, col("b_id").asc)
    cand.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= TopK)
      .select(col("a_id"), col("b_id"), col("sim"),
              col("rn").cast("int").as("rn"))
  }

  /** Occupancy threshold for [[cellSplit]] — at sf0.01 (500 vectors /
    * 16 cells, mean occupancy 31) it sits AT the mean so both branches
    * occur naturally; the oracle's split rounds read it. */
  private[graft] val SplitOccupancy = 32L

  /** Default depth for the RECURSIVE split queries — 2 rounds. The
    * median-τ cut halves every sf0.01 hot cell under the threshold in
    * one round, so round 2 is a provable no-op there (a bijective
    * ncell relabel — CellSplitSpec pins deep serve ≡ depth-1 serve);
    * the crafted-fixture spec drives a genuinely recursive chain
    * (packed cell whose 33-member children stay hot) AND the
    * fail-closed plan branch (an identical-vector clump no rule can
    * split). The cs<k>-prefixed oracle chains unroll this many
    * rounds. */
  private[graft] val SplitDepth = 2

  // ---- The split index ---------------------------------------------------
  //
  // Every split query composes five functions — [[splitRound]] (one
  // median-τ round, with its postings and next assignment beside it),
  // [[splitDescend]] (one probe descent step at a band margin),
  // [[splitServe]] (descend every round's model, serve top-3),
  // [[persistSplitIndex]] (write, then serve from the reload) and
  // [[recallFold]] — over one row of parameters:
  //
  //   query                          quantizer  depth  probe       maintenance  persisted
  //   sim_cell_split / _trained      stub/Lloyd 1      —           full         no (report)
  //   sim_split_topk / _trained      stub/Lloyd 1      home        full         no
  //   sim_split_persist              stub       1      home        full         yes
  //   sim_cell_split_deep            stub       2      —           full         no (report)
  //   sim_split_deep_topk            stub       2      home        full         no
  //   sim_split_deep_persist         stub       2      home        full         yes
  //   sim_split_band_topk            stub       1      band 50k µ  full         no
  //   sim_split_band_sweep           stub       1      band grid   full         no (recall)
  //   sim_split_band_planned         stub       1      planned     full         no
  //   sim_split_serve_planned        stub       planned home       full         no
  //   sim_split_incremental          frozen     1+1    —           incremental  yes (report)
  //   sim_split_incremental_serve    frozen     1+1    home        incremental  yes
  //   sim_split_incremental_deep     frozen     1+2    —           deep         yes (per round)
  //
  // Recall legs (split, deepsplit, band, trainedsplit), sim_split_plan
  // and sim_knn_mutual_split read the memoized serves above.

  /** One split round over a (vec_id, cell) assignment: its occupancy,
    * hot cells (past [[SplitOccupancy]]), home members with embeddings,
    * median-τ model ([[splitSeeds]]) and the hot members' child picks
    * (cell, vec_id, sub). */
  private case class SplitRound(asg: DataFrame, occ: DataFrame,
                                hot: DataFrame, members: DataFrame,
                                seeds: DataFrame, assigned: DataFrame) {
    /** (vec_id, ncell): hot members at cell·2 + sub, cool members at
      * cell·2 — bijective, so cool-cell results equal the unsplit
      * serve's. The same mapping as [[next]], but its cool branch reads
      * `members`: that is the plan the memoized serves were measured
      * with, and switching it to `asg` would change their stages. */
    def postings: DataFrame =
      assigned
        .select(col("vec_id"), (col("cell") * 2 + col("sub")).as("ncell"))
        .unionByName(members.join(hot, Seq("cell"), "left_anti")
          .select(col("vec_id"), (col("cell") * 2).as("ncell")))

    /** The assignment after the round, in the next round's cell space. */
    def next: DataFrame = nextSplitAsg(asg, hot, assigned)
  }

  /** Build one [[SplitRound]] over `asg`. `memoKeys` (model, picks)
    * memoize a round several queries share — the audited stub round
    * (splitseeds/splitasg), the trained round (tsplitseeds/tsplitasg)
    * and the incremental base round (incsplit0s/incsplit0a) — so the
    * applied index can never drift from the audited one. */
  private def splitRound(spark: SparkSession, dir: String, asg: DataFrame,
                         memoKeys: Option[(String, String)] = None)
      : SplitRound = {
    def memo(key: Option[String], df: => DataFrame): DataFrame =
      key.fold(df)(k =>
        CkptMemo.getOrElseUpdate((spark, dir, k), df.localCheckpoint()))
    val members = embWithNrm(spark, dir).join(asg, Seq("vec_id"))
    val occ = occupancy(asg)
    val hot = occ.filter(col("n_before") > SplitOccupancy).select("cell")
    val seeds = memo(memoKeys.map(_._1), splitSeeds(spark, dir, members, hot))
    SplitRound(asg, occ, hot, members, seeds,
      memo(memoKeys.map(_._2), assignToSubSeeds(members, seeds)))
  }

  private def occupancy(asg: DataFrame): DataFrame =
    asg.groupBy("cell").agg(count(lit(1)).as("n_before"))

  /** The memoized depth-1 round over a quantizer's home (rn = 1)
    * cells: the audited stub round, or the Lloyd-trained one. */
  private def homeRound(spark: SparkSession, dir: String, ranked: DataFrame,
                        memoKeys: (String, String)): SplitRound =
    splitRound(spark, dir, homeOf(ranked), Some(memoKeys))

  private def stubRound(spark: SparkSession, dir: String): SplitRound =
    homeRound(spark, dir, ivfAssignRanked(spark, dir), ("splitseeds", "splitasg"))

  private def trainedRound(spark: SparkSession, dir: String): SplitRound =
    homeRound(spark, dir, ivfTrainedRanked(spark, dir),
      ("tsplitseeds", "tsplitasg"))

  /** The stub quantizer's [[NProbe]] probe rows (vec_id, cell). */
  private def stubProbes(spark: SparkSession, dir: String): DataFrame =
    ivfAssignRanked(spark, dir).select("vec_id", "cell")

  /** Median-threshold child pick for hot-cell members — (cell, vec_id,
    * sub): sub 0 iff the member's 6-dp cosine to the cell's seed
    * direction clears the model's τ — ONE broadcast join + compare,
    * no window. */
  private def assignToSubSeeds(members: DataFrame, seeds: DataFrame)
      : DataFrame =
    members.join(broadcast(seeds), Seq("cell"))
      .select(col("cell"), col("vec_id"),
        when(Num.rnd(dotCols(col("embedding"), col("sv")) /
                       (col("nrm") * col("snrm")), 6) >= col("tau"),
             lit(0)).otherwise(lit(1)).as("sub"))

  /** The post-round full assignment: hot members re-homed to
    * cell·2 + sub, cool members to cell·2 — the bijective encoding at
    * every depth (distinct sources stay distinct; a source is either
    * split or not, never both). */
  private def nextSplitAsg(asg: DataFrame, hot: DataFrame,
                           assigned: DataFrame): DataFrame =
    assigned.select(col("vec_id"),
        (col("cell") * 2 + col("sub")).cast("long").as("cell"))
      .unionByName(asg.join(hot, Seq("cell"), "left_anti")
        .select(col("vec_id"), (col("cell") * 2).cast("long").as("cell")))

  /** Rounds 1..depth of the recursive stub split: round 1 IS the
    * audited memoized [[stubRound]], every later round applies the
    * identical rule to the previous round's [[SplitRound.next]]. */
  private def cellSplitRounds(spark: SparkSession, dir: String, depth: Int)
      : Seq[SplitRound] = {
    require(depth >= 1, s"split depth must be >= 1, got $depth")
    (2 to depth).scanLeft(stubRound(spark, dir))((r, _) =>
      splitRound(spark, dir, r.next))
  }

  /** One probe-side descent step: a probed HOT cell routes to the
    * child its own `s0sim ≥ τ` compare selects (the rule that placed
    * the members), a cool cell maps to cell·2. Hot cells are the
    * model's cells. At `marginMicro` > 0 a probe whose |s0sim − τ| is
    * inside the band (exact integer µ-cosines, so band membership
    * cannot drift at the ulp level) ALSO probes the other child; at 0
    * no second-child branch is planned. Emitted rows stay distinct —
    * the two children of one probed cell are distinct ncells — so the
    * serve needs no dedup stage. */
  private def splitDescend(emb: DataFrame, probe: DataFrame,
                           seeds: DataFrame, marginMicro: Long): DataFrame = {
    val hotRows = probe.join(emb, Seq("vec_id"))
      .join(broadcast(seeds), Seq("cell"))
      .select(col("vec_id"), col("cell"), col("tau"),
        Num.rnd(dotCols(col("embedding"), col("sv")) /
                  (col("nrm") * col("snrm")), 6).as("s0sim"))
    val near = col("s0sim") >= col("tau")
    def child(rows: DataFrame, sub: Column): DataFrame =
      rows.select(col("vec_id"), (col("cell") * 2 + sub).cast("long").as("cell"))
    val inBand = abs(round(col("s0sim") * lit(1e6), 0).cast("long") -
                     round(col("tau") * lit(1e6), 0).cast("long")) <
                   lit(marginMicro)
    val other =
      if (marginMicro > 0L)
        Seq(child(hotRows.filter(inBand), when(near, lit(1)).otherwise(lit(0))))
      else Nil
    val cool = probe.join(seeds.select("cell").distinct(), Seq("cell"),
        "left_anti")
      .select(col("vec_id"), (col("cell") * 2).cast("long").as("cell"))
    (child(hotRows, when(near, lit(0)).otherwise(lit(1))) +: other :+ cool)
      .reduce(_ unionByName _)
  }

  /** The split index's candidate pairs over the corpus vectors `emb`
    * ([[embWithNrm]]): `probed` (vec_id, cell) rows — whatever quantizer
    * ranked them — descend once per round's model, then meet the
    * (vec_id, ncell) postings in one capped bucket join. A band margin
    * is only defined at depth 1. */
  private def splitCandidates(emb: DataFrame,
                              postings: DataFrame,
                              modelsByRound: Seq[DataFrame],
                              probed: DataFrame,
                              marginMicro: Long): DataFrame = {
    require(marginMicro == 0L || modelsByRound.size == 1,
      s"a band margin needs a depth-1 index, got ${modelsByRound.size} rounds")
    val probeMap = modelsByRound.foldLeft(probed)((p, seeds) =>
      splitDescend(emb, p, seeds, marginMicro))
    pairCandidatesAB(
        emb.join(probeMap.withColumnRenamed("cell", "ncell"), Seq("vec_id")),
        emb.join(postings, Seq("vec_id")),
        "ncell", MaxBucketCandidates)
      .filter(col("a_id") =!= col("b_id"))
  }

  /** The one split serve tail: [[splitCandidates]] re-ranked to top-3
    * per probe by the bounded [[serveTop3]]. Every split serve —
    * in-session or reloaded, stub or trained or frozen probes, any
    * depth, any band margin, and VecStream's probe micro-batches —
    * runs through it, so no serve path can diverge from the audited
    * one. */
  private def splitServe(spark: SparkSession, dir: String,
                         postings: DataFrame, modelsByRound: Seq[DataFrame],
                         probed: DataFrame, marginMicro: Long = 0L)
      : DataFrame =
    serveTop3(splitCandidates(embWithNrm(spark, dir), postings,
        modelsByRound, probed, marginMicro))
      .select("a_id", "b_id", "rn", "sim")

  /** The audited stub depth-1 index served to `probed`. */
  private def stubSplitServe(spark: SparkSession, dir: String,
                             probed: DataFrame,
                             marginMicro: Long = 0L): DataFrame = {
    val r = stubRound(spark, dir)
    splitServe(spark, dir, r.postings, Seq(r.seeds), probed, marginMicro)
  }

  /** Durable posting write, PARTITIONED BY the cell column with ONE
    * file per cell: a bare partitionBy from k shuffle partitions
    * writes up to k files per cell directory — k×|cells| tiny files,
    * which the round-18 PQ knee run measured as the dominant cost of
    * sim_ivfpq_persist at 192 k vectors / 4096 cells (571 s, ~260 k
    * files; BASELINE round 18). The matching repartition routes each
    * cell to exactly one task — the graphedges bucketed-table
    * discipline applied to every durable posting write. Layout-only:
    * reloads read the same rows. */
  private def writePostings(df: DataFrame, byCol: String,
                            path: String): Unit =
    df.repartition(col(byCol))
      .write.mode("overwrite").partitionBy(byCol).parquet(path)

  /** Write postings partitioned by `key` and reload them
    * ([[readPostings]]). */
  private def persistPostings(spark: SparkSession, postings: DataFrame,
                              path: String, key: String = "ncell"): DataFrame = {
    writePostings(postings, key, path)
    readPostings(spark, path, key)
  }

  /** Persisted postings at `path`; the partition column `key` comes back
    * as the directory's inferred INT and is cast back to LONG so the
    * serve joins stay type-identical. */
  private def readPostings(spark: SparkSession, path: String,
                           key: String = "ncell"): DataFrame =
    spark.read.parquet(path).withColumn(key, col(key).cast("long"))

  /** Write an un-partitioned model table and reload it with the schema
    * it was written with — no schema-inference job, and an empty table
    * still reads back. */
  private def persistModel(spark: SparkSession, model: DataFrame,
                           path: String): DataFrame = {
    model.write.mode("overwrite").parquet(path)
    spark.read.schema(model.schema).parquet(path)
  }

  /** Persist a split index — postings plus ONE model table, a `round`
    * column carrying each round's (cell, sv, snrm, tau) when there is
    * more than one round (round k's cells live in round k−1's ncell
    * space) — and return both RELOADED. The model reload applies the
    * written schema, so an empty round (a converged round, a base with
    * no hot cell) still serves. Callers keep their own paths: every
    * query returns a lazy plan over its files, so a shared path would
    * let a later caller's overwrite invalidate an earlier caller's
    * not-yet-materialized FileIndex. */
  private def persistSplitIndex(spark: SparkSession, postings: DataFrame,
                                models: Seq[DataFrame], postingsPath: String,
                                modelsPath: String)
      : (DataFrame, Seq[DataFrame]) = {
    val reloaded = persistPostings(spark, postings, postingsPath)
    val table =
      if (models.size == 1) models.head
      else models.zipWithIndex
        .map { case (m, i) => m.withColumn("round", lit(i + 1)) }
        .reduce(_ unionByName _)
    val back = persistModel(spark, table, modelsPath)
    (reloaded,
     if (models.size == 1) Seq(back)
     else models.indices.map(i =>
       back.filter(col("round") === i + 1).drop("round")))
  }

  /** Occupancy-triggered cell SPLIT report (sim_cell_split) — the
    * re-shard maintenance job the bucket cap's guidance prescribes
    * ([[pairCandidates]]: "re-shard the bucket rather than rely on the
    * cap"): every home cell past [[SplitOccupancy]] members is split by
    * MEDIAN-THRESHOLD BISECTION ([[splitSeeds]]); members with
    * s0sim ≥ τ form child 0, the rest child 1, and a probe routes by
    * the SAME compare at query time. The median threshold is balanced
    * BY CONSTRUCTION (up to tie mass at τ — an identical-vector clump
    * keeps child 0 and reads as an unsplittable cell); nearest-of-two
    * seed rules measured degenerate in 64 dims (BASELINE round 16).
    * Scale shape: occupancy is one |cells|-row agg, the model one exact
    * rank selection over hot MEMBERS, re-assignment one compare. */
  def cellSplit(spark: SparkSession, dir: String): DataFrame = {
    val r = stubRound(spark, dir)
    cellSplitReportOf(r.occ, r.assigned)
  }

  /** The per-cell split report over an (occupancy, child-picks) pair —
    * one shape for the stub, trained and incremental reports. */
  private def cellSplitReportOf(occ: DataFrame,
                                assigned: DataFrame): DataFrame = {
    val childSizes = assigned.groupBy("cell")
      .agg(sum(when(col("sub") === 0, 1L).otherwise(0L)).as("c0"),
           sum(when(col("sub") === 1, 1L).otherwise(0L)).as("c1"))
    occ.join(childSizes, Seq("cell"), "left")
      .select(col("cell"), col("n_before"),
        col("c0").isNotNull.cast("int").as("split"),
        coalesce(col("c0"), lit(0L)).as("n_child0"),
        coalesce(col("c1"), lit(0L)).as("n_child1"),
        coalesce(greatest(col("c0"), col("c1")), col("n_before"))
          .as("n_max_after"))
      .orderBy("cell")
  }

  /** Occupancy split over the TRAINED quantizer's home cells
    * (sim_cell_split_trained) — production indexes serve Lloyd-trained
    * cells, so the maintenance loop reads occupancy there. */
  def cellSplitTrained(spark: SparkSession, dir: String): DataFrame = {
    val r = trainedRound(spark, dir)
    cellSplitReportOf(r.occ, r.assigned)
  }

  /** Search over the TRAINED split index (sim_split_topk_trained) — the
    * split serve over the trained probe ranking, so an all-cool probe
    * is bit-identical to [[ivfTopKTrained]] (CellSplitSpec pins it).
    * Memoized ("tsplitserve", owner sim_split_topk_trained): the query
    * and the trainedsplit frontier leg both read it. */
  def splitTopKTrained(spark: SparkSession, dir: String): DataFrame =
    CkptMemo.getOrElseUpdate((spark, dir, "tsplitserve"), {
      val r = trainedRound(spark, dir)
      splitServe(spark, dir, r.postings, Seq(r.seeds),
        ivfTrainedRanked(spark, dir).select("vec_id", "cell"))
        .localCheckpoint()
    })

  /** Recall of the TRAINED unsplit serve vs the SHARED exact truth —
    * the frontier's `trained` leg. */
  def trainedRecallEval(spark: SparkSession, dir: String,
                        probeN: Long = ProbeN): DataFrame =
    sharedTruthRecall(spark, dir, ivfTopKTrained(spark, dir), probeN)

  /** Recall of the TRAINED split serve — the `trainedsplit` leg.
    * Pointwise ≤ the `trained` leg: a global top-3 item survives any
    * candidate subset containing it, so hits are monotone in the
    * candidate set (CellSplitSpec pins the inequality). */
  def trainedSplitRecallEval(spark: SparkSession, dir: String,
                             probeN: Long = ProbeN): DataFrame =
    sharedTruthRecall(spark, dir, splitTopKTrained(spark, dir), probeN)

  /** Search over the SPLIT index (sim_split_topk) — the APPLY half of
    * [[cellSplit]]: candidates in a split cell drop to ~occupancy/2 per
    * probe, at the cost of a true neighbor in the hot cell's OTHER
    * child ([[splitRecallEval]] prices that loss). Memoized
    * ("splitserve", owner sim_split_topk): the query,
    * sim_split_recall_eval and sim_knn_mutual_split re-rank from it. */
  def splitTopK(spark: SparkSession, dir: String): DataFrame =
    CkptMemo.getOrElseUpdate((spark, dir, "splitserve"),
      stubSplitServe(spark, dir, stubProbes(spark, dir)).localCheckpoint())

  /** Persisted split-index round trip (sim_split_persist): postings
    * PARTITIONED BY ncell (a hot child can be audited or re-split from
    * its own files) plus the model, served from the RELOAD. The oracle
    * is sim_split_topk's VERBATIM — only the index's home moved. Eager
    * writes at query construction (the eager-persist family). */
  def splitIndexPersistSearch(spark: SparkSession, dir: String): DataFrame = {
    val r = stubRound(spark, dir)
    val (postings, models) = persistSplitIndex(spark, r.postings,
      Seq(r.seeds), Tables.scratch("split_index_postings"),
      Tables.scratch("split_index_seeds"))
    splitServe(spark, dir, postings, models, stubProbes(spark, dir))
  }

  /** INCREMENTAL split maintenance from the persisted index
    * (sim_split_incremental): the frozen-quantizer base corpus
    * (vec_id < n/2) is depth-1-split and PERSISTED; arrivals
    * (vec_id ≥ n/2) are assigned to the frozen cells and descend the
    * persisted model; then ONE round runs on ONLY the cells the
    * arrivals pushed past [[SplitOccupancy]], its member scan reading
    * the persisted postings PRUNED to those ncells at the file listing
    * (CellSplitSpec asserts the scan). Per-vector assignment and the
    * median-τ rule only read a hot cell's own members, so this ≡ a
    * from-scratch split of the combined corpus — the oracle rebuilds
    * from scratch and hash equality is the proof. At sf0.01 the base
    * has NO hot cell, so the persisted model is legitimately EMPTY;
    * the spec fixture drives the non-empty-model path. */
  def splitIncremental(spark: SparkSession, dir: String): DataFrame = {
    val (occ, assigned1, _, _) = splitIncrementalParts(spark, dir)
    cellSplitReportOf(occ, assigned1)
  }

  /** The incremental chain's lazy working frames — (combined occupancy,
    * incremental-round child picks, FINAL depth-2 assignment, per-round
    * models) — for the batch trio's canonical arrivals. */
  private def splitIncrementalParts(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, Seq[DataFrame]) =
    splitIncrementalPartsFrom(spark, dir,
      frozenHalf(spark, dir, "incarrhome", base = false), memoArrDesc = true)

  /** The (postings, model) paths of the frozen base's persisted split
    * index for this (session, dir): the session's id and a name-based
    * UUID of `dir`, so no other session or corpus shares them. */
  private[graft] def incBasePaths(spark: SparkSession,
                                  dir: String): (String, String) = {
    val id = org.apache.spark.sql.GraftSql.sessionId(spark) + "_" +
      java.util.UUID.nameUUIDFromBytes(dir.getBytes("UTF-8"))
    (Tables.scratch(s"split_inc_base_postings_$id"),
     Tables.scratch(s"split_inc_base_model_$id"))
  }

  /** The frozen base's depth-1 split index, persisted ONCE per (session,
    * dir) at [[incBasePaths]] and never overwritten, so no caller can
    * invalidate another's not-yet-materialized reload (the
    * [[persistSplitIndex]] rule). The base round is a pure function of
    * the canonical [[incBaseHome]], so its model and picks are memoized
    * (incsplit0s/incsplit0a), and so is the postings reload (memo
    * "incbaseidx": later callers skip the partition listing) — all
    * owned by sim_split_incremental. A rebuild after an eviction reads
    * the files already written (the model's _SUCCESS marks a complete
    * index: it is written last). Returns (postings reload, model
    * reload). */
  private def incBaseIndex(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val (postingsPath, modelPath) = incBasePaths(spark, dir)
    val base = splitRound(spark, dir, incBaseHome(spark, dir),
      Some(("incsplit0s", "incsplit0a")))
    val postings = CkptMemo.getOrElseUpdate((spark, dir, "incbaseidx"),
      if (new java.io.File(modelPath, "_SUCCESS").exists())
        readPostings(spark, postingsPath)
      else persistSplitIndex(spark, base.postings, Seq(base.seeds),
        postingsPath, modelPath)._1)
    (postings, spark.read.schema(base.seeds.schema).parquet(modelPath))
  }

  /** The frozen-quantizer BASE home assignment (vec_id < n/2) —
    * identical across the three incremental queries and the
    * stream-maintain seam (memo "incbasehome", owner
    * sim_split_incremental). */
  private def incBaseHome(spark: SparkSession, dir: String): DataFrame =
    frozenHalf(spark, dir, "incbasehome", base = true)

  /** One half of the corpus assigned to the frozen base centroids,
    * memoized under `key`. */
  private def frozenHalf(spark: SparkSession, dir: String, key: String,
                         base: Boolean): DataFrame =
    CkptMemo.getOrElseUpdate((spark, dir, key), {
      val split = embCount(spark, dir) / 2
      val half = if (base) col("vec_id") < split else col("vec_id") >= split
      assignToCentroids(embWithNrm(spark, dir).filter(half),
          frozenBaseCentroids(spark, dir))
        .select("vec_id", "cell").localCheckpoint()
    })

  /** [[splitIncrementalParts]] over an EXPLICIT arrival home — the
    * seam [[graft.streaming.VecStream.maintainFromSignalToParquet]]
    * shares with the batch chain, so stream- and batch-detected
    * maintenance are one code path over the one persisted base index
    * ([[incBaseIndex]]). `hotParents` (the stream signal's
    * split_needed COARSE cells) restricts the new-hot scan to those
    * cells' children — a provable NO-OP on the result (a hot ncell's
    * parent is always flagged; StreamingSpec pins report equality). */
  private[ext] def splitIncrementalPartsFrom(spark: SparkSession,
                                             dir: String,
                                             arrHome0: DataFrame,
                                             hotParents: Option[Seq[Long]] =
                                               None,
                                             memoArrDesc: Boolean = false)
      : (DataFrame, DataFrame, DataFrame, Seq[DataFrame]) = {
    val (reloaded, model) = incBaseIndex(spark, dir)
    // the arrival descent is canonical only for the batch trio (the
    // stream seam descends ITS OWN arrHome) — memoized behind the
    // caller flag (memo "incarrdesc", same owner)
    def arrDesc() = splitDescend(embWithNrm(spark, dir), arrHome0, model, 0L)
    val arrN =
      if (memoArrDesc)
        CkptMemo.getOrElseUpdate((spark, dir, "incarrdesc"),
          arrDesc().localCheckpoint())
      else arrDesc()
    val comb = reloaded.withColumnRenamed("ncell", "cell").unionByName(arrN)
    val occ = occupancy(comb)
    val newHotAll = occ.filter(col("n_before") > SplitOccupancy)
      .select("cell")
    // ncell = cell·2 + sub at depth 1, so parent = ncell div 2
    val newHot = hotParents.fold(newHotAll)(ps =>
      newHotAll.filter(expr("cell div 2").isin(ps: _*)))
    val (_, seeds1, assigned1) =
      prunedRound(spark, dir, reloaded, newHot, Some(arrN))
    (occ, assigned1, nextSplitAsg(comb, newHot, assigned1),
     Seq(model, seeds1))
  }

  /** A maintenance round over a PERSISTED postings reload
    * ([[readPostings]]): the `newHot` work list is collected driver-side
    * (model-sized metadata, never data rows), and the member scan reads
    * the postings PRUNED to those ncells, plus any not-yet-persisted
    * `arrivals` in those cells. The filter runs on the caller's reload,
    * so pruning reads the partition listing that reload already holds —
    * a fresh `spark.read` would list every ncell directory again (a
    * Spark job of one task per directory). Returns (any cell hot, model,
    * picks). */
  private def prunedRound(spark: SparkSession, dir: String, postings: DataFrame,
                          newHot: DataFrame, arrivals: Option[DataFrame])
      : (Boolean, DataFrame, DataFrame) = {
    val hotList = newHot.collect().map(_.getLong(0)).sorted
    // the pruning isin compares against the directory-inferred INT
    // partition column — every ncell must fit INT, which the ivfCells
    // clamp (≤ 131k cells, ncell = cell·2^depth + path) guarantees; a
    // future depth/encoding change must not silently turn the
    // partition filter into an empty match
    require(hotList.forall(n => n >= 0 && n <= Int.MaxValue),
      s"new-hot ncell outside INT range (${hotList.take(3).mkString(",")}…)" +
      " — the partition-pruning filter would match nothing; widen the " +
      "partition column handling before raising the cell/depth encoding")
    val pruned = postings.filter(col("ncell").isin(hotList: _*))
      .select(col("vec_id"), col("ncell").as("cell"))
    val members = embWithNrm(spark, dir).join(arrivals.fold(pruned)(a =>
      pruned.unionByName(a.join(newHot, Seq("cell"), "left_semi"))),
      Seq("vec_id"))
    val seeds = splitSeeds(spark, dir, members, newHot)
    (hotList.nonEmpty, seeds, assignToSubSeeds(members, seeds))
  }

  /** STREAM-TRIGGERED incremental maintenance — the repair half of the
    * hot-cell detector ([[graft.streaming.VecStream
    * .hotCellSignalToParquet]]): run the incremental round over
    * STREAM-ASSIGNED arrivals restricted to the signal's split_needed
    * cells, PERSIST the maintained index back (the
    * [[splitIncrementalServe]] layout) and return the
    * [[cellSplitReportOf]] report. StreamingSpec pins report equality
    * against sim_split_incremental on the same arrival split. */
  private[graft] def splitIncrementalMaintain(spark: SparkSession,
                                              dir: String,
                                              arrHome: DataFrame,
                                              flaggedCells: Seq[Long],
                                              postingsOut: String,
                                              modelsOut: String): DataFrame = {
    val (occ, assigned1, finalA, models) = splitIncrementalPartsFrom(
      spark, dir, arrHome, Some(flaggedCells))
    persistSplitIndex(spark, finalA.withColumnRenamed("cell", "ncell"),
      models, postingsOut, modelsOut)
    cellSplitReportOf(occ, assigned1)
  }

  /** Serve the incrementally-maintained index
    * (sim_split_incremental_serve) — the maintain → PERSIST BACK →
    * SERVE loop: the depth-2 assignment and both rounds' models are
    * persisted, and probes ranked against the FROZEN base quantizer's
    * [[NProbe]] cells are served from the reload. Round 1's model is
    * legitimately EMPTY at sf0.01. The oracle rebuilds the chain from
    * scratch — hash equality proves maintained ≡ from-scratch serving. */
  def splitIncrementalServe(spark: SparkSession, dir: String): DataFrame = {
    val (_, _, finalA, models) = splitIncrementalParts(spark, dir)
    val (postings, reloaded) = persistSplitIndex(spark,
      finalA.withColumnRenamed("cell", "ncell"), models,
      Tables.scratch("split_inc2_postings"), Tables.scratch("split_inc2_models"))
    splitServe(spark, dir, postings, reloaded,
      explodeRanked(rankCells(fanOut(embWithNrm(spark, dir)),
          frozenBaseCentroids(spark, dir)))
        .select("vec_id", "cell"))
  }

  /** MULTI-ROUND incremental maintenance (sim_split_incremental_deep):
    * a heavy arrival batch can leave a split cell's CHILDREN still hot,
    * so the loop folds rounds until [[SplitDepth]]. Output = the
    * [[cellSplitDeep]] trajectory over the incremental chain (row 0 =
    * the combined occupancy, row k = after k incremental rounds). Each
    * round ≥ 2 PERSISTS the current assignment back and re-reads it
    * PRUNED to the round's new-hot ncells ([[prunedRound]]). A
    * converged round runs NO split work — the snapshot repeats the
    * settled stats (the oracle's bijective ×2 relabel preserves
    * n_cells/n_hot/max_occ, so hash equality holds). */
  def splitIncrementalDeep(spark: SparkSession, dir: String): DataFrame = {
    val (occ0, _, finalA0, _) = splitIncrementalParts(spark, dir)
    var asg = finalA0
    var snaps = Seq(occSnap(0, occ0))
    for (k <- 2 to SplitDepth) {
      // persist back FIRST: the reload is the round's ZERO-LINEAGE
      // source, which keeps the composed plan bounded (an all-lazy
      // variant re-planned the frozen-centroid assignment ~370× in one
      // tree, round-18 plan audit)
      val p = Tables.scratch(s"split_inc_deep_r$k")
      val postings = persistPostings(spark,
        asg.withColumnRenamed("cell", "ncell"), p)
      val reloaded = postings.withColumnRenamed("ncell", "cell")
      val occ = occupancy(reloaded)
      snaps = snaps :+ occSnap(k - 1, occ)
      val newHot = occ.filter(col("n_before") > SplitOccupancy).select("cell")
      val (anyHot, _, assigned) =
        prunedRound(spark, dir, postings, newHot, None)
      asg = if (anyHot) nextSplitAsg(reloaded, newHot, assigned) else reloaded
    }
    (snaps :+ occSnap(SplitDepth, occupancy(asg)))
      .reduce(_ unionByName _).orderBy("round")
  }

  /** One trajectory row: (round, n_cells, n_hot = cells still past
    * [[SplitOccupancy]], max_occ) of an occupancy frame. */
  private def occSnap(k: Int, occ: DataFrame): DataFrame =
    occ.agg(count(lit(1)).as("n_cells"),
         sum(when(col("n_before") > SplitOccupancy, 1L).otherwise(0L))
           .as("n_hot"),
         max("n_before").as("max_occ"))
      .select(lit(k.toLong).as("round"), col("n_cells"), col("n_hot"),
              col("max_occ"))

  /** Recursive split REPORT (sim_cell_split_deep) — the occupancy
    * trajectory of iterating [[cellSplit]] to depth [[SplitDepth]]:
    * row k = the snapshot AFTER k rounds; n_hot > 0 at the last row
    * means more rounds are needed — the maintenance loop's
    * stop-or-continue number. */
  def cellSplitDeep(spark: SparkSession, dir: String,
                    depth: Int = SplitDepth): DataFrame = {
    val rounds = cellSplitRounds(spark, dir, depth)
    (rounds.zipWithIndex.map { case (r, i) => occSnap(i, r.occ) } :+
      occSnap(depth, occupancy(rounds.last.next)))
      .reduce(_ unionByName _).orderBy("round")
  }

  /** Search over the RECURSIVELY split index (sim_split_deep_topk):
    * ncell = cell·2^depth + path (bijective at every depth — an unsplit
    * source keeps path bit 0), and each probe descends once per round.
    * Depth 1 is EXACTLY [[splitTopK]], and a probe whose descent never
    * touches a hot cell gets [[ivfTopK]]'s top-3 at ANY depth
    * (CellSplitSpec pins both). The default-depth serve is memoized
    * ("splitdeep", owner sim_split_deep_topk: the query, the deepsplit
    * leg and sim_split_deep_recall_eval); explicit depths stay
    * un-memoized. */
  def splitDeepTopK(spark: SparkSession, dir: String,
                    depth: Int = SplitDepth): DataFrame = {
    def build() = {
      val rounds = cellSplitRounds(spark, dir, depth)
      splitServe(spark, dir, rounds.last.next.withColumnRenamed("cell", "ncell"),
        rounds.map(_.seeds), stubProbes(spark, dir))
    }
    if (depth == SplitDepth)
      CkptMemo.getOrElseUpdate((spark, dir, "splitdeep"),
        build().localCheckpoint())
    else build()
  }

  /** Persisted RECURSIVE split index (sim_split_deep_persist) — the
    * depth [[splitPlan]] chooses, made durable: full-depth postings plus
    * one round-columned model table. A converged round's model slice is
    * legitimately EMPTY (sf0.01 round 2) and the reload serves through
    * it; the oracle is sim_split_deep_topk's VERBATIM. */
  def splitDeepIndexPersistSearch(spark: SparkSession, dir: String,
                                  depth: Int = SplitDepth): DataFrame = {
    val rounds = cellSplitRounds(spark, dir, depth)
    val (postings, models) = persistSplitIndex(spark,
      rounds.last.next.withColumnRenamed("cell", "ncell"), rounds.map(_.seeds),
      Tables.scratch("split_deep_postings"), Tables.scratch("split_deep_models"))
    splitServe(spark, dir, postings, models, stubProbes(spark, dir))
  }

  /** Recall of the split serve vs the SHARED exact truth — the frontier's
    * `split` leg. */
  def splitRecallEval(spark: SparkSession, dir: String,
                      probeN: Long = ProbeN): DataFrame =
    sharedTruthRecall(spark, dir, splitTopK(spark, dir), probeN)

  /** Recall of the depth-[[SplitDepth]] serve — the `deepsplit` leg. */
  def splitDeepRecallEval(spark: SparkSession, dir: String,
                          probeN: Long = ProbeN): DataFrame =
    sharedTruthRecall(spark, dir, splitDeepTopK(spark, dir), probeN)

  /** The eval family's probe-sample predicate: the leading probeN ids
    * (vec_id < probeN). */
  private def probeSample(probeN: Long, id: Column): Column = id < lit(probeN)

  /** A served frame's (a_id, b_id) rows for the probe sample. */
  private def probeSlice(served: DataFrame, probeN: Long): DataFrame =
    served.filter(probeSample(probeN, col("a_id"))).select("a_id", "b_id")

  /** The [[recallFold]] of a served frame's probe slice against the
    * SHARED exact truth — the body of every leg whose screen is a plain
    * serve. */
  private def sharedTruthRecall(spark: SparkSession, dir: String,
                                served: DataFrame, probeN: Long): DataFrame =
    recallFold(exactTruthTop3(spark, dir, probeN), probeSlice(served, probeN))

  /** One-row, left-deep cross join of each frame's row count, in order. */
  private def countRow(frames: (DataFrame, String)*): DataFrame =
    frames.map { case (f, n) => f.agg(count(lit(1)).as(n)) }.reduce(_ crossJoin _)

  /** THE recall fold of every eval query: a (a_id, b_id) screen's hits
    * against a truth frame, as one metric row of counts crossed
    * left-deep — `lead`'s (a sweep arm's extra counts, first), n_truth,
    * the screen count (named `screenCount`), n_hit — then recall_micro
    * (1e6 on an empty truth) and precision_micro (0 on an empty screen).
    * A recall-only row (no `screenCount`) plans no screen count and has
    * no precision. Callers slice their own screens, so the fold adds no
    * filter. */
  private[graft] def recallFold(truth: DataFrame, screen: DataFrame,
                                screenCount: Option[String] = Some("n_screen"),
                                lead: Seq[(DataFrame, String)] = Nil)
      : DataFrame = {
    val hit = truth.join(screen, Seq("a_id", "b_id"))
    val ratios = Num.micro("n_hit", "n_truth", 1000000L).as("recall_micro") +:
      screenCount.map(n => Num.micro("n_hit", n, 0L).as("precision_micro")).toSeq
    countRow(lead ++ Seq(truth -> "n_truth") ++ screenCount.map(screen -> _) :+
        (hit -> "n_hit"): _*)
      .select(col("*") +: ratios: _*)
  }

  /** Margin (µ-cosine) for the BOUNDARY DUAL-PROBE band
    * ([[splitBandTopK]]): a probe whose |s0sim − τ| to a probed hot
    * cell's split model lands INSIDE the band probes BOTH children
    * ([[splitDescend]]) — the true neighbor it would otherwise lose
    * sits across the cut almost surely near the cut. Default 50000 µ
    * chosen from the [[splitBandSweep]] grid at sf0.01 (recall
    * 356666 → 370000 µ of the unsplit 396666 µ for 27605 vs 24959
    * candidates — the middle of the curve); the oracle reads it. */
  private[graft] val SplitBandMargin = 50000L

  /** The [[splitBandSweep]] margin grid — 0 IS the plain split serve
    * (the margin-0 row must equal sim_split_recall_eval cell-for-cell)
    * and the [[SplitBandMargin]] row must equal
    * sim_split_band_recall_eval (CellSplitSpec pins both); the sweep
    * oracle's arm list is generated from it. */
  private[graft] val SplitBandSweepMargins =
    Seq(0L, 20000L, 50000L, 100000L, 150000L)
  // the planner's baseline arm IS the margin-0 row (fail-closed floor)
  // and the planner oracle derives its baseline CTE from this grid by
  // indexOf(0L) — a grid without 0 would silently turn the baseline
  // into a non-zero arm on one side only (ADVICE r18)
  require(SplitBandSweepMargins.contains(0L),
    "SplitBandSweepMargins must contain the margin-0 baseline arm")

  /** Boundary dual-probe split serve (sim_split_band_topk): paying
    * double candidates for ONLY the in-band probes recovers a third of
    * the split's recall gap at sf0.01 for ~11% extra candidates.
    * Out-of-band and all-cool probes are BIT-IDENTICAL to
    * [[splitTopK]] / [[ivfTopK]] (CellSplitSpec pins both). Memoized
    * ("splitband", owner sim_split_band_topk): the recall leg re-ranks
    * from it. */
  def splitBandTopK(spark: SparkSession, dir: String): DataFrame =
    CkptMemo.getOrElseUpdate((spark, dir, "splitband"),
      splitBandTopKAt(spark, dir, SplitBandMargin).localCheckpoint())

  /** The split serve restricted to a GIVEN probe-ID frame — the seam
    * [[graft.streaming.VecStream.splitSearchToParquet]]'s probe
    * micro-batches use: per-probe ranking is complete within one call
    * because the index side is the full static corpus, so stream ≡
    * batch at ANY arrival split (StreamingSpec pins it row-for-row
    * against sim_split_topk). */
  private[graft] def splitTopKForProbes(spark: SparkSession, dir: String,
                                        probeIds: DataFrame): DataFrame =
    stubSplitServe(spark, dir, stubProbes(spark, dir)
      .join(probeIds.select("vec_id"), Seq("vec_id"), "left_semi"))

  /** The band serve at an EXPLICIT margin, unmemoized — margin 0 must
    * equal [[splitTopK]] exactly (CellSplitSpec); production serves go
    * through the memoized [[splitBandTopK]]. */
  private[graft] def splitBandTopKAt(spark: SparkSession, dir: String,
                                     marginMicro: Long): DataFrame =
    stubSplitServe(spark, dir, stubProbes(spark, dir), marginMicro)

  /** Recall of the band serve — the frontier's `band` leg. */
  def splitBandRecallEval(spark: SparkSession, dir: String,
                          probeN: Long = ProbeN): DataFrame =
    sharedTruthRecall(spark, dir, splitBandTopK(spark, dir), probeN)

  /** Band-margin SWEEP (sim_split_band_sweep) — one row per grid margin
    * with the candidate count (the cost axis) and the shared-truth
    * recall fold (the benefit axis) over the eval-family probe sample
    * (per-probe serving is batch-local, so the sample serve IS the
    * full serve's probe slice). Memoized ("bandsweepfrm", owner
    * sim_split_band_sweep): the planner re-reads the same sweep. */
  def splitBandSweep(spark: SparkSession, dir: String,
                     probeN: Long = ProbeN): DataFrame =
    CkptMemo.getOrElseUpdate((spark, dir, "bandsweepfrm", probeN),
      splitBandSweepBuild(spark, dir, probeN).localCheckpoint())

  private def splitBandSweepBuild(spark: SparkSession, dir: String,
                                  probeN: Long): DataFrame = {
    val r = stubRound(spark, dir)
    val probed = stubProbes(spark, dir)
      .filter(probeSample(probeN, col("vec_id")))
    // one corpus read shared by every arm: each `Tables.embeddings`
    // read runs its own 1-task parquet schema-inference job
    val emb = embWithNrm(spark, dir)
    SplitBandSweepMargins.map { m =>
      val cand = splitCandidates(emb, r.postings, Seq(r.seeds), probed, m)
      // the candidate count leads the fold's left-deep chain: with the
      // fold first the arm shuffled 3 % more bytes, and with the fold as
      // one right-deep subtree it ran 4 more tasks (sf0.1, graft.Bench);
      // the probes already are the probe sample, so the screen is not
      // sliced again
      recallFold(exactTruthTop3(spark, dir, probeN),
          serveTop3(cand).select("a_id", "b_id"), lead = Seq(cand -> "n_cand"))
        .select(lit(m).as("margin_micro"), col("n_cand"), col("n_truth"),
          col("n_screen"), col("n_hit"), col("recall_micro"))
    }.reduce(_ unionByName _).orderBy("margin_micro")
  }

  /** Max extra candidate pairs the band planner will pay per recovered
    * true hit ([[splitBandPlanned]]'s decision literal, read by its
    * oracle). At sf0.01 the whole grid qualifies
    * (chosen = 150000µ, full unsplit-IVF recall for ~20 % extra
    * candidates); on a tie-degenerate corpus the gain is 0 while the
    * cost is huge, so ONLY margin 0 qualifies — the planner fails
    * closed to the plain split serve. */
  private[graft] val BandPlanCandPerHit = 100L

  /** PLAN-DRIVEN band serve (sim_split_band_planned): read the 5-row
    * [[splitBandSweep]] driver-side, pick the LARGEST margin whose
    * cumulative recall gain pays its candidate cost at
    * [[BandPlanCandPerHit]] ([[chooseNprobe]]'s rule; margin 0 is the
    * fail-closed floor), and serve at exactly that margin with a
    * `margin_used` column. The oracle composes the same sweep arms,
    * rule and one full-probe serve arm per grid margin. */
  def splitBandPlanned(spark: SparkSession, dir: String): DataFrame = {
    val chosen = chooseNprobe(splitBandSweep(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(4)))).toMap,
      BandPlanCandPerHit)
    val served =
      if (chosen == 0L) splitTopK(spark, dir)
      else if (chosen == SplitBandMargin) splitBandTopK(spark, dir)
      else splitBandTopKAt(spark, dir, chosen)
    served.select(col("a_id"), col("b_id"), col("rn"), col("sim"),
      lit(chosen).as("margin_used"))
  }

  /** Split-depth CHOOSER (sim_split_plan) — the decision operator over
    * the [[cellSplitDeep]] trajectory: chosen_depth = the smallest
    * round whose snapshot has NO hot cell left; when none within
    * [[SplitDepth]] qualifies the plan fails CLOSED — sentinel depth
    * 1e9, converged 0 — rather than silently serving an over-occupied
    * index. Context columns carry the final snapshot's n_hot /
    * max_occ. */
  def splitPlan(spark: SparkSession, dir: String): DataFrame = {
    val rep = cellSplitDeep(spark, dir)
    rep.agg(
        min(when(col("n_hot") === 0L, col("round"))).as("conv"),
        max(when(col("round") === SplitDepth.toLong, col("n_hot")))
          .as("n_hot_final"),
        max(when(col("round") === SplitDepth.toLong, col("max_occ")))
          .as("max_occ_final"))
      .select(
        coalesce(col("conv"), lit(1000000000L)).as("chosen_depth"),
        col("conv").isNotNull.cast("int").as("converged"),
        col("n_hot_final"), col("max_occ_final"))
  }

  /** PLAN-DRIVEN split serve (sim_split_serve_planned): serve at
    * exactly the depth [[splitPlan]] chose, with a `depth_used` column.
    * The sentinel (no depth within [[SplitDepth]] de-hots every cell)
    * serves the UNSPLIT index and WARN-logs; converged-at-0 also serves
    * unsplit. The chosen depth is a ONE-ROW driver-side decision
    * scalar; arms mirror [[SplitDepth]] = 2 and the oracle composes
    * [[splitPlanOracleSql]]'s chooser with the same serve chains. */
  def splitServePlanned(spark: SparkSession, dir: String): DataFrame = {
    val p = splitPlan(spark, dir).collect().head
    val chosen = p.getLong(0)
    // context columns are diagnostics only — never let a NULL final
    // snapshot turn the fail-closed WARN into an NPE (ADVICE r17)
    def ctx(i: Int): String = if (p.isNullAt(i)) "?" else p.getLong(i).toString
    val depthUsed =
      if (chosen == 1000000000L) {
        org.slf4j.LoggerFactory.getLogger("graft.Similarity").warn(
          s"split plan failed closed at $dir (n_hot_final=${ctx(2)}, " +
          s"max_occ_final=${ctx(3)}): serving the UNSPLIT index — " +
          "raise SplitDepth or SplitOccupancy deliberately")
        0L
      } else chosen
    val served = depthUsed match {
      case 0L => ivfTopK(spark, dir)
      case 1L => splitTopK(spark, dir)
      case d  => splitDeepTopK(spark, dir, d.toInt)
    }
    served.select(col("a_id"), col("b_id"), col("rn"), col("sim"),
      lit(depthUsed).as("depth_used"))
  }

  /** Split MODEL for the hot cells — (cell, sv, snrm, tau): sv = the
    * lowest member vec_id's embedding (the deterministic seed
    * direction), τ = the cell's lower-median member cosine to it —
    * exact positional SELECTION of a stored 6-dp value (rank
    * (n+1) div 2 under (s0sim desc, vec_id asc); never interpolation —
    * the agg_median cross-engine rule), so `s0sim ≥ τ` cuts the cell
    * in half by construction and routes probes identically. */
  private def splitSeeds(spark: SparkSession, dir: String,
                         members: DataFrame, hot: DataFrame): DataFrame = {
    val emb = embWithNrm(spark, dir)
    val m = members.join(hot, Seq("cell"))
    val s0 = m.groupBy("cell").agg(min("vec_id").as("svid0"))
      .join(emb.select(col("vec_id").as("svid0"), col("embedding").as("sv"),
                       col("nrm").as("snrm")), Seq("svid0"))
    val sims = m.join(broadcast(s0), Seq("cell"))
      .select(col("cell"), col("vec_id"),
        Num.rnd(dotCols(col("embedding"), col("sv")) /
                  (col("nrm") * col("snrm")), 6).as("s0sim"))
    val w = Window.partitionBy("cell")
      .orderBy(col("s0sim").desc, col("vec_id").asc)
    val wc = Window.partitionBy("cell")
    val tau = sims
      .withColumn("srn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wc))
      .filter(col("srn") === expr("(n + 1) div 2"))
      .select(col("cell"), col("s0sim").as("tau"))
    s0.join(tau, Seq("cell")).select("cell", "sv", "snrm", "tau")
  }

  /** Per-cell LABEL PURITY over the IVF home-cell partition — the
    * cluster-quality eval (how homogeneous is each coarse cell?) that
    * grades a quantizer beyond recall: for every home cell, the
    * majority label, member count, and integer purity percentage
    * (100·majority div n — nonneg, `//` ≡ div). Composes the memoized
    * [[ivfAssignRanked]] home assignment with the embeddings' label
    * column; output is |cells| rows at any corpus scale. Ties on the
    * majority break label-ascending on both engines. */
  def cellPurity(spark: SparkSession, dir: String): DataFrame = {
    val home = homeOf(ivfAssignRanked(spark, dir))
    val emb = Tables.embeddings(spark, dir).select("vec_id", "label")
    val pc = home.join(emb, Seq("vec_id"))
      .groupBy("cell", "label").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("cell").orderBy(col("c").desc, col("label").asc)
    val wc = Window.partitionBy("cell")
    pc.withColumn("rn2", row_number().over(w))
      .withColumn("n", sum("c").over(wc))
      .filter(col("rn2") === 1)
      .select(col("cell"), col("label").as("major_label"),
              col("n").as("n_vecs"), col("c").as("n_major"),
              expr("(100 * c) div n").as("purity_pct"))
  }

  /** Simplified SILHOUETTE over the IVF home-cell partition — the
    * geometry-based cluster-quality eval completing the family
    * ([[cellPurity]] grades by labels, graph_cell_modularity by edge
    * structure): per vector, a = cosine distance to its HOME centroid
    * (1 − csim₁), b = distance to the RUNNER-UP centroid (1 − csim₂),
    * s = (b − a)/max(a,b) — the centroid-based simplification
    * (Hruschka et al.) that replaces silhouette's O(n²) pairwise means
    * with the already-memoized n×cells ranking, the ONLY form that
    * survives 100 TB. Home = argmax csim ⇒ a ≤ b ⇒ max = b and
    * s = (csim₁ − csim₂)/(1 − csim₂) ∈ [0, 1] (near 1 = deep inside
    * its cell, near 0 = on a cell boundary — exactly the vectors
    * multi-probe exists for). Float discipline: csims are the memoized
    * 6-dp values, the one division is IEEE-exactly-rounded on identical
    * operands, micronized to integer out (no signed-zero rule needed);
    * c2 = 1 degenerate rows (/0: DuckDB NULL vs Spark ANSI error) are
    * gated identically on both sides. Consumes [[ivfAssignRanked]]'s
    * rn ≤ 2 rows as-is — zero new distance computation. */
  def silhouette(spark: SparkSession, dir: String): DataFrame = {
    val ranked = ivfAssignRanked(spark, dir)
    val c1 = ranked.filter(col("rn") === 1)
      .select(col("vec_id"), col("cell"), col("csim").as("c1"))
    val c2 = ranked.filter(col("rn") === 2)
      .select(col("vec_id"), col("csim").as("c2"))
    c1.join(c2, Seq("vec_id"))
      .filter(lit(1.0) - col("c2") > 0)
      .withColumn("s_micro",
        round((col("c1") - col("c2")) / (lit(1.0) - col("c2")) * lit(1e6))
          .cast("long"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_vecs"),
           sum("s_micro").as("sum_s"),
           min("s_micro").as("min_s_micro"))
      .withColumn("mean_s_micro", expr("sum_s div n_vecs"))
      .select("cell", "n_vecs", "mean_s_micro", "min_s_micro")
      .orderBy("cell")
  }

  /** Pairwise-similarity HISTOGRAM over the probe sample — the
    * threshold-tuning chart for the embedding family (the
    * dedup_threshold_curve analog in cosine space: where does the
    * corpus's similarity mass sit, and where is the near-dup knee?):
    * cosine of every (probe, corpus) pair for the standard 100-vector
    * probe sample (the eval-family literal), bucketed into ten 0.2-wide
    * bins over [−1, 1]. Probe-bounded LINEAR cost — 100·n codegen'd
    * dot products via [[graft.functions.ArrayDot]], never all-pairs;
    * the bin arithmetic runs on the 6-dp-rounded sim with binary-exact
    * constants (+1.0, ×5 — both IEEE-exact) so bucket edges are
    * engine-agnostic; empty bins still emit (left join + coalesce, the
    * threshold-curve convention). 10 rows out at any scale. */
  def simHist(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = embWithNrm(spark, dir)
    val probes = emb.filter(probeSample(ProbeN, col("vec_id")))
      .select(col("vec_id").as("a_id"), col("embedding").as("va"),
              col("nrm").as("na"))
    val sims = emb.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("a_id"))
      .select(Num.rnd(dotCols(col("embedding"), col("va")) /
                        (col("nrm") * col("na")), 6).as("sim"))
    val tot = sims.agg(count(lit(1)).as("n_pairs"))
    val counted = sims
      .withColumn("bucket",
        least(floor((col("sim") + lit(1.0)) * lit(5)).cast("int"), lit(9)))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
    (0 until 10).toDF("bucket")
      .join(counted, Seq("bucket"), "left")
      .crossJoin(broadcast(tot))
      .select(col("bucket"), coalesce(col("n"), lit(0L)).as("n"),
              expr("(coalesce(n, 0) * 1000000) div n_pairs").as("share_micro"))
      .orderBy("bucket")
  }

  /** RANGE search — the second fundamental ANN operation next to top-k
    * (radius query: EVERY neighbor at cosine ≥ τ, however many): same
    * probed candidate stage as [[ivfTopK]], thresholded instead of
    * ranked — no window at all, so the per-query cost is pure candidate
    * generation and the output is unbounded-k (the shape semantic-dedup
    * confirmation and near-dup audits actually want; top-k truncates
    * dense neighborhoods). τ = 0.4 matches the dedup_embedding /
    * semantic-dedup threshold family; comparison happens on the 6-dp
    * ROUNDED sim, and the oracle casts the literal to DOUBLE (DuckDB
    * decimal-literal rule) so both engines compare identical doubles. */
  def rangeSearch(spark: SparkSession, dir: String): DataFrame =
    ivfCandidates(spark, dir)
      .filter(col("sim") >= 0.4)
      .select("a_id", "b_id", "sim")

  /** Mutual-kNN graph edges — keep only pairs where EACH endpoint ranks
    * the other in its top-3 ([[ivfTopK]]'s result joined to its own
    * reversal). Mutuality is the standard symmetrization for building
    * an embedding-neighborhood graph to cluster (SemDeDup-style
    * cluster-then-dedup, community detection): one-directional
    * neighbors are mostly hub artifacts. Input is the already-bounded
    * k·n top-k frame, so this adds one |topk|-row self-join on the pair
    * key — nothing rescans the embeddings. Cosine is symmetric (and
    * 6-dp-rounded identically on both orientations), so the surviving
    * (a<b) row's sim equals its mirror's.
    *
    * Materialized ONCE per (session, dir): the edge frame is ≤(k/2)·n
    * rows but its lineage is the whole IVF top-k chain (assign → bucket
    * join → window), and FOUR graph consumers each referenced it 2-4×
    * inside one plan — round 7 measured graph_label_prop at 17.4 s vs
    * 0.9 s for this frame itself, pure recompute. Eager-memoized like
    * graphedges (NOT in PlanShapeSpec's laziness allowlist; Bench
    * owner: sim_knn_mutual). */
  def knnMutual(spark: SparkSession, dir: String): DataFrame =
    CkptMemo.getOrElseUpdate((spark, dir, "knnmutual"),
      mutualEdges(ivfTopK(spark, dir)).localCheckpoint())

  /** Mutual-kNN graph over the SPLIT index's serve
    * (sim_knn_mutual_split) — the pair-family consumer the split was
    * built for: a graph build's dominant cost at scale IS its serve's
    * in-cell candidate stage (the knee table, BASELINE rounds 15/16),
    * so serving the edge build from [[splitTopK]] inherits the
    * measured candidate halving. Deliberately NOT a replacement for the
    * `knnmutual` memo — the graph_* family stays on the audited unsplit
    * edges. Memo "knnmutualsplit", owner sim_knn_mutual_split. The
    * memoized splitserve frame is already a materialization barrier,
    * so the mutual self-join reads it on both sides instead of
    * re-running the descent twice (531 vs 425 s task CPU at 768 k,
    * BASELINE round 16). */
  def knnMutualSplit(spark: SparkSession, dir: String): DataFrame =
    CkptMemo.getOrElseUpdate((spark, dir, "knnmutualsplit"),
      mutualEdges(splitTopK(spark, dir)).localCheckpoint())

  /** The mutual rule over a top-k serve: (a < b, sim) pairs whose
    * reversal is also served. */
  private def mutualEdges(served: DataFrame): DataFrame = {
    val t = served.select("a_id", "b_id", "sim")
    val rev = t.select(col("b_id").as("a_id"), col("a_id").as("b_id"))
    t.join(rev, Seq("a_id", "b_id"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("sim"))
  }

  /** One NN-DESCENT refinement round (Dong et al., "Efficient K-Nearest
    * Neighbor Graph Construction for Generic Similarity Measures",
    * WWW 2011) — the missing ANN-graph-CONSTRUCTION shape: a neighbor
    * of my neighbor is likely my neighbor, so the round (a) generates
    * wedge candidates a–b through a shared MUTUAL neighbor v, (b)
    * scores only the new pairs with exact cosine, and (c) re-selects
    * top-3 per node from current ∪ wedge candidates. Bounded by
    * construction: the mutual graph has degree ≤ 3, so adjacency is
    * ≤ 3·|V| rows and wedge volume ≤ k²·|V| at any corpus size — never
    * all-pairs, and the exact-cosine spend is proportional to the
    * wedge count, not the corpus. Candidates are a SUPERSET of the
    * current top-k, so per-rank sim can only improve (NnDescentSpec
    * pins monotonicity; [[nnDescentEval]] puts a recall number on it).
    * Plan: one self-join of the memoized [[knnMutual]] adjacency on
    * the shared node, distinct() so multi-wedge pairs score once, two
    * embedding joins for the new cosines, union with [[ivfTopK]], one
    * ranking window. */
  def nnDescent(spark: SparkSession, dir: String): DataFrame =
    // memoized serve frame ("nndserve", owner sim_nn_descent in Bench's
    // list): the wedge-scored refinement is re-read by its eval and the
    // frontier's nn_descent leg — before round 19 each re-ran the wedge
    // join + re-rank (3 builds per bench)
    CkptMemo.getOrElseUpdate((spark, dir, "nndserve"),
      nnDescentBuild(spark, dir).localCheckpoint())

  private def nnDescentBuild(spark: SparkSession, dir: String): DataFrame = {
    val mu = knnMutual(spark, dir)
    val adj = mu.select(col("a_id").as("v"), col("b_id").as("n"))
      .unionByName(mu.select(col("b_id").as("v"), col("a_id").as("n")))
    val wedge = adj.select(col("v"), col("n").as("a_id"))
      .join(adj.select(col("v"), col("n").as("b_id")), Seq("v"))
      .filter(col("a_id") =!= col("b_id"))
      .select("a_id", "b_id").distinct()
    val emb = embWithNrm(spark, dir)
    val scored = wedge
      .join(emb.select(col("vec_id").as("a_id"), col("embedding").as("av"),
                       col("nrm").as("an")), Seq("a_id"))
      .join(emb.select(col("vec_id").as("b_id"), col("embedding").as("bv"),
                       col("nrm").as("bn")), Seq("b_id"))
      .select(col("a_id"), col("b_id"),
              Num.rnd(dotCols(col("av"), col("bv")) /
                        (col("an") * col("bn")), 6).as("sim"))
    serveTop3(ivfTopK(spark, dir).select("a_id", "b_id", "sim")
      .unionByName(scored).distinct())
      .select("a_id", "b_id", "rn", "sim")
  }

  /** The memo holds the RANKED top-[[TruthDepth]] (with rn) so
    * [[recallAtK]]'s k-sweep and the legs' top-3 slice share ONE
    * probe × corpus pass; a top-3 slice of the deeper ranking is
    * identical to ranking-then-cutting at 3 (same window order). */
  private val TruthDepth = 10

  /** The eval family's shared EXACT ground truth — per probe (vec_id <
    * probeN), the exact 6-dp-cosine top-3 over the FULL corpus, self
    * excluded, ties by b_id: one broadcast of the probe table against a
    * single streamed corpus pass. All eight recall legs and the sweep
    * measure against this same definition, and before round 13 each
    * rebuilt it independently — sim_eval_frontier paid the 100-probe ×
    * corpus product ~8× (VERDICT r12). Memoized per (session, dir,
    * probeN) via [[CkptMemo]] (key "simtruth", owner in Bench's list:
    * sim_eval_frontier); eager localCheckpoint at construction, the
    * Dedup-pair-frame pattern. Legs whose APPROX side differs (int8,
    * jl, matryoshka, rrf, sign, graph, nn_descent) share only this
    * truth frame — their screens stay their own. probeN is part of the
    * key because specs probe at 10 (the eval-family default is 100). */
  private[ext] def exactTruthRanked(spark: SparkSession, dir: String,
                                    probeN: Long): DataFrame =
    CkptMemo.getOrElseUpdate((spark, dir, "simtruth", probeN), {
      val emb = embWithNrm(spark, dir)
      probeRanked(emb, probeVecs(emb, probeN), cosineToProbe, TruthDepth)
        .localCheckpoint()
    })

  /** The probe sample of a (vec_id, embedding, nrm) frame as the probe
    * side (a_id, qv, qnrm) of [[probeRanked]]. */
  private def probeVecs(emb: DataFrame, probeN: Long): DataFrame =
    emb.filter(probeSample(probeN, col("vec_id")))
      .select(col("vec_id").as("a_id"), col("embedding").as("qv"),
              col("nrm").as("qnrm"))

  /** The exact 6-dp cosine of a corpus row (embedding, nrm) to its
    * probe (qv, qnrm). */
  private def cosineToProbe: Column =
    Num.rnd(dotCols(col("embedding"), col("qv")) / (col("nrm") * col("qnrm")), 6)

  /** THE brute-force probe ranking of the eval family: one streamed pass
    * of `corpus` (vec_id, …) against the broadcast `probes` (a_id, …),
    * self-pairs dropped, rows passing `keep`, ranked per probe by
    * (`sim` desc, b_id asc) — (a_id, b_id, rn) for rn ≤ k. The
    * brute-force cost is paid for the probe sample, never n². */
  private def probeRanked(corpus: DataFrame, probes: DataFrame, sim: Column,
                          k: Int, keep: Column = lit(true)): DataFrame = {
    val w = Window.partitionBy("a_id").orderBy(col("sim").desc, col("b_id").asc)
    fanOut(corpus).crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("a_id") && keep)
      .select(col("a_id"), col("vec_id").as("b_id"), sim.as("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("a_id", "b_id", "rn")
  }

  private[ext] def exactTruthTop3(spark: SparkSession, dir: String,
                                  probeN: Long): DataFrame =
    exactTruthRanked(spark, dir, probeN)
      .filter(col("rn") <= TopK).select("a_id", "b_id")

  /** Recall gain of the [[nnDescent]] round vs the [[ivfTopK]] baseline
    * it refines — same fixed probe sample and exact ground truth as
    * [[ivfRecallEval]], two screens side by side. The refinement is
    * cheap (wedge-bounded), so this row is the evidence it pays for
    * itself: recall_ref_micro ≥ recall_base_micro by the superset
    * property, and strictly greater whenever a true neighbor is
    * reachable through a mutual wedge but missed by the probed cells. */
  def nnDescentEval(spark: SparkSession, dir: String,
                    probeN: Long = ProbeN): DataFrame = {
    val exact = exactTruthTop3(spark, dir, probeN)
    def hits(served: DataFrame) =
      exact.join(probeSlice(served, probeN), Seq("a_id", "b_id"))
    countRow(exact -> "n_truth", hits(ivfTopK(spark, dir)) -> "n_hit_base",
        hits(nnDescent(spark, dir)) -> "n_hit_ref")
      .select(col("*"),
        Num.micro("n_hit_base", "n_truth", 1000000L).as("recall_base_micro"),
        Num.micro("n_hit_ref", "n_truth", 1000000L).as("recall_ref_micro"))
  }

  /** ANN recall EVAL HARNESS — the [[Dedup.minhashEval]] counterpart
    * for the vector index: on a FIXED-SIZE probe sample (vec_id <
    * 100 — constant query-side cost at any corpus scale, the recurring
    * index-health check a production ANN service runs), compute (a)
    * ground truth = exact cosine top-3 per probe query against the FULL
    * corpus (one broadcast of the 100-row probe table against a single
    * streamed pass over the embeddings — the brute-force cost is paid
    * for 100 queries, never n), and (b) the production [[ivfTopK]]
    * answer for the same queries, then report recall/precision in
    * integer micro-units. nprobe=2 over 16 seed cells MUST lose some
    * true neighbors (the IVF recall cliff the [[NProbe]] docstring
    * describes) — the harness exists to put a number on that loss
    * instead of trusting it, and to catch regressions when cell count,
    * nprobe, or the bucket cap change. Tie-breaks ride the 6-dp-rounded
    * sim + vec_id order, so both engines rank identically. */
  def ivfRecallEval(spark: SparkSession, dir: String,
                    probeN: Long = ProbeN): DataFrame =
    sharedTruthRecall(spark, dir, ivfTopK(spark, dir), probeN)

  /** Recall@k CURVE — the other axis of the [[nprobeSweep]] tuning
    * table: at fixed nprobe, how does the index degrade as the caller
    * asks for MORE neighbors (k ∈ {1, 3, 5, 10})? Truth-k and screen-k
    * are both prefix slices of one ranking each (the memoized
    * [[exactTruthRanked]] frame and one window over the candidate
    * stage), swept relationally against a 4-row broadcast grid — no
    * per-k recomputation. The k=3 row reproduces [[ivfRecallEval]]
    * EXACTLY (RecallAtKSpec pins it), and hits are monotone
    * non-decreasing in k by the prefix-superset property. k ≤
    * [[TruthDepth]] by construction. */
  def recallAtK(spark: SparkSession, dir: String,
                probeN: Long = ProbeN): DataFrame = {
    import spark.implicits._
    val ks = Seq(1, 3, 5, 10).toDF("k")
    val ranked = exactTruthRanked(spark, dir, probeN)
    val w = Window.partitionBy("a_id").orderBy(col("sim").desc, col("b_id").asc)
    val scr = ivfCandidates(spark, dir).filter(probeSample(probeN, col("a_id")))
      .withColumn("srn", row_number().over(w))
      .select("a_id", "b_id", "srn")
    val tr = ranked.crossJoin(broadcast(ks)).filter(col("rn") <= col("k"))
      .select("k", "a_id", "b_id")
    val sc = scr.crossJoin(broadcast(ks)).filter(col("srn") <= col("k"))
      .select("k", "a_id", "b_id")
    val nt = tr.groupBy("k").agg(count(lit(1)).as("n_truth"))
    val ns = sc.groupBy("k").agg(count(lit(1)).as("n_screen"))
    val nh = tr.join(sc, Seq("k", "a_id", "b_id"))
      .groupBy("k").agg(count(lit(1)).as("n_hit"))
    nt.join(ns, Seq("k")).join(nh, Seq("k"), "left")
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
      .select(col("k"), col("n_truth"), col("n_screen"), col("n_hit"),
        Num.micro("n_hit", "n_truth", 1000000L).as("recall_micro"),
        Num.micro("n_hit", "n_screen", 0L).as("precision_micro"))
      .orderBy("k")
  }

  /** Mean reciprocal rank of the TRUE nearest neighbor in the served
    * top-3 (sim_mrr_eval) — the retrieval metric the recall family
    * doesn't give: recall counts hits anywhere in the cut, MRR weights
    * WHERE the index puts the one answer that matters most (the exact
    * NN). Truth = rank 1 of the SHARED [[exactTruthRanked]] memo; this
    * is a shared-truth eval but deliberately NOT a frontier leg — its
    * row is rank-weighted (n_probes/n_found/rr_sum/mrr_micro), not the
    * n_truth/n_hit/recall shape the frontier compares cell-for-cell.
    * Screen = the production [[ivfTopK]] serving cut (rn ≤ 3). Per
    * probe RR = 1e6 div rank when the NN is served, else 0;
    * MRR = Σ RR div n_probes — all quantities non-negative so
    * div ≡ `//`. Probe cost fixed at 100 queries at any corpus scale;
    * MrrSpec ties the row to a driver-side recompute and its bounds. */
  def mrrEval(spark: SparkSession, dir: String,
              probeN: Long = ProbeN): DataFrame = {
    val truth1 = exactTruthRanked(spark, dir, probeN)
      .filter(col("rn") === 1).select("a_id", "b_id")
    val screen = ivfTopK(spark, dir)
      .filter(probeSample(probeN, col("a_id")))
      .select(col("a_id"), col("b_id"), col("rn"))
    truth1.join(screen, Seq("a_id", "b_id"), "left")
      .agg(count(lit(1)).as("n_probes"),
           sum(when(col("rn").isNotNull, 1L).otherwise(0L)).as("n_found"),
           sum(when(col("rn").isNotNull,
                    expr("CAST(1000000 AS BIGINT) div rn"))
                 .otherwise(0L)).as("rr_sum"))
      .select(col("n_probes"), col("n_found"), col("rr_sum"),
              expr("rr_sum div n_probes").as("mrr_micro"))
  }

  /** Index TAKEDOWN search — the governance operation every serving
    * index needs (right-to-be-forgotten / licensing removal): 10% of
    * the corpus (vec_id % 10 = 0) is deleted, and search runs over the
    * SURVIVING index without retraining. Centroids are POSITIONS, not
    * members — they survive a member takedown — and per-vector cell
    * assignment is independent, so filtering the live set into the
    * same memoized-assignment candidate stage (re-capping on the
    * remaining members) is EXACTLY a from-scratch index over the
    * remaining corpus; the oracle rebuilds from scratch and the hash
    * equality is the proof, plus the structural guarantee that no
    * deleted id can appear in any result. Probe side = the eval-family
    * fixed sample ∩ live. */
  def ivfDeleteSearch(spark: SparkSession, dir: String,
                      probeN: Long = ProbeN): DataFrame = {
    val ranked = ivfAssignRanked(spark, dir)
    val emb = Tables.embeddings(spark, dir)
      .filter(col("vec_id") % 10 =!= 0)
      .select(col("vec_id"), col("embedding"),
              sqrt(dotCols(col("embedding"), col("embedding"))).as("nrm"))
    windowTop3(cellCandidates(emb.filter(probeSample(probeN, col("vec_id"))),
      ranked, emb, homeOf(ranked)))
  }

  /** FILTERED vector search — the metadata-predicate ANN every vector
    * store ships (return neighbors satisfying a filter, here: candidate
    * label must equal the probe's OWN label — a per-probe predicate,
    * the hard shape; a global predicate would just pre-filter the
    * index). PRE-filter semantics by construction: the bucket key is
    * the COMPOSITE (cell, label) — the equality predicate becomes part
    * of the join key, so only matching candidates are ever generated
    * and the bucket cap re-applies per (cell, label) slice, exactly an
    * index built per label partition (the [[ivfDeleteSearch]]
    * filter-before-cap rebuild rule; post-filtering a capped top-k
    * would silently lose recall when the filter is selective). A probe
    * whose probed cells hold no same-label member returns no rows —
    * the honest filtered-search contract. */
  def filteredTopK(spark: SparkSession, dir: String,
                   probeN: Long = ProbeN): DataFrame =
    // memoized serve ("fltopk", owner sim_filtered_topk in Bench's
    // list — pinned: sim_filtered_recall sorts before it and would
    // steal the build): the recall eval re-ran the identical
    // (cell, label)-bucketed serve (round 20); keyed by probeN
    CkptMemo.getOrElseUpdate((spark, dir, "fltopk", probeN),
      filteredTopKFor(spark, dir,
        Tables.embeddings(spark, dir)
          .filter(probeSample(probeN, col("vec_id")))
          .select("vec_id", "embedding", "label")).localCheckpoint())

  /** The filtered-search composition over a GIVEN probe frame (vec_id,
    * embedding, label) — the seam [[filteredTopK]] (fixed batch probe
    * sample) and [[graft.streaming.VecStream]] (arriving probe
    * micro-batches) share, so the online and offline serve paths can
    * never diverge. Per-probe ranking is complete within one call
    * because the index side is the full static corpus. */
  private[graft] def filteredTopKFor(spark: SparkSession, dir: String,
                                     probeVecs: DataFrame): DataFrame = {
    val ranked = ivfAssignRanked(spark, dir)
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), col("label"),
              sqrt(dotCols(col("embedding"), col("embedding"))).as("nrm"))
    val probes = probeVecs
      .select(col("vec_id"), col("embedding"), col("label"),
              sqrt(dotCols(col("embedding"), col("embedding"))).as("nrm"))
      .join(ranked.select("vec_id", "cell"), Seq("vec_id"))
      .withColumn("ck", concat_ws("#", col("cell"), col("label")))
    val indexed = emb.join(homeOf(ranked), Seq("vec_id"))
      .withColumn("ck", concat_ws("#", col("cell"), col("label")))
    windowTop3(pairCandidatesAB(probes, indexed, "ck", MaxBucketCandidates)
      .filter(col("a_id") =!= col("b_id")))
  }

  /** Recall eval for [[filteredTopK]] — truth = the exact SAME-LABEL
    * top-3 per probe (the filtered contract's own truth; a DIFFERENT
    * definition than the frontier's unfiltered truth, which is why
    * this deliberately is NOT a frontier leg — the frontier compares
    * methods under one truth). Same fixed-probe / micro-unit outputs
    * as [[ivfRecallEval]]; the number quantifies what the (cell,
    * label)-sliced index loses at cell boundaries when the predicate
    * thins each bucket. */
  def filteredRecallEval(spark: SparkSession, dir: String,
                         probeN: Long = ProbeN): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), col("label"),
              sqrt(dotCols(col("embedding"), col("embedding"))).as("nrm"))
    val q = emb.filter(probeSample(probeN, col("vec_id")))
      .select(col("vec_id").as("a_id"), col("embedding").as("qv"),
              col("label").as("qlabel"), col("nrm").as("qnrm"))
    val truth = probeRanked(emb, q, cosineToProbe, 3,
      keep = col("label") === col("qlabel")).select("a_id", "b_id")
    recallFold(truth, filteredTopK(spark, dir, probeN).select("a_id", "b_id"))
  }

  /** The probe widths the nprobe sweep prices and the planner picks
    * from. */
  private[graft] val NprobeGrid = Seq(1, 2, 4)

  /** nprobe SWEEP — the tuning table behind the [[NProbe]] doc's
    * "raise for recall, lower for cost" guidance: for nprobe ∈
    * {1, 2, 4}, candidate volume (the cost proxy — each probed cell
    * adds ~one in-cell join's work) and top-3 recall vs exact ground
    * truth, on the same fixed probe sample as [[ivfRecallEval]]
    * (vec_id < probeN — constant query-side cost at any corpus scale).
    * The probe side re-ranks only the 100 probe vectors against the
    * broadcast centroid table (NOT the memoized corpus-wide ranking,
    * which is capped at rn ≤ [[NProbe]] and must stay that way — the
    * production index pays for exactly nprobe ranks, the sweep pays 4
    * for 100 rows); the indexed side reuses the memoized home-cell
    * assignment and applies the same saltOrd bucket cap as
    * [[pairCandidatesAB]], so the nprobe=2 row reproduces
    * [[ivfRecallEval]]'s numbers exactly (NprobeSweepSpec pins it).
    * One candidates frame, three prn-filtered rankings — the per-k
    * screens share the join. */
  def nprobeSweep(spark: SparkSession, dir: String,
                  probeN: Long = ProbeN): DataFrame = {
    val emb = embWithNrm(spark, dir)
    val wp = Window.partitionBy("a_id").orderBy(col("csim").desc, col("cell").asc)
    val probeRanks = probeVecs(emb, probeN)
      .crossJoin(broadcast(seedCentroids(emb, ivfCells(embCount(spark, dir)))))
      .select(col("a_id"), col("qv"), col("qnrm"), col("cell"),
              Num.rnd(dotCols(col("qv"), col("cv")) /
                        (col("qnrm") * col("cnrm")), 6).as("csim"))
      .withColumn("prn", row_number().over(wp))
      .filter(col("prn") <= NprobeGrid.max)
      .drop("csim")
    val wCap = Window.partitionBy("cell")
      .orderBy(saltOrd(col("vec_id")).asc, col("vec_id").asc)
    val capped = emb.join(homeOf(ivfAssignRanked(spark, dir)), Seq("vec_id"))
      .withColumn("rnb", row_number().over(wCap))
      .filter(col("rnb") <= MaxBucketCandidates)
    val cand = probeRanks.join(capped, Seq("cell"))
      .filter(col("vec_id") =!= col("a_id"))
      .select(col("a_id"), col("vec_id").as("b_id"), col("prn"),
              Num.rnd(dotCols(col("qv"), col("embedding")) /
                        (col("qnrm") * col("nrm")), 6).as("sim"))
    val wr = Window.partitionBy("a_id").orderBy(col("sim").desc, col("b_id").asc)
    // memoized truth (already a checkpoint); the k-loop below takes ~6
    // actions over the candidate frame — checkpoint it once too, the
    // bandSweepOf pattern, so every branch reuses one materialization
    val exact = exactTruthTop3(spark, dir, probeN)
    val candCk = cand.localCheckpoint()
    NprobeGrid.map { k =>
      val ck = candCk.filter(col("prn") <= k)
      val scr = ck.withColumn("rn", row_number().over(wr))
        .filter(col("rn") <= TopK).select("a_id", "b_id")
      recallFold(exact, scr, lead = Seq(ck -> "n_cand"))
        .select(lit(k).as("nprobe"), col("n_cand"), col("n_truth"),
                col("n_screen"), col("n_hit"), col("recall_micro"))
    }.reduce(_ unionByName _).orderBy("nprobe")
  }

  /** Candidate-efficiency literal for the [[nprobePlanned]] chooser: a
    * probe width k from the sweep grid qualifies iff its CUMULATIVE
    * extra hits over the k = 1 arm pay for its cumulative extra
    * candidates at this many candidates per hit —
    * (h_k − h_1) · C ≥ (c_k − c_1). k = 1 qualifies trivially (0 ≥ 0),
    * the fail-closed floor (the band planner's margin-0 rule): a corpus
    * whose extra probes buy nothing serves the cheapest width. 150, NOT
    * the band planner's per-hit 100: the sweep prices whole cumulative
    * arms, and at sf0.01 the marginal cost sits at ~127–130 candidates
    * per extra hit on BOTH steps (24 hits / 3124 cand at k = 2, 74 /
    * 9403 at k = 4) — 150 accepts that price with ~15 % margin (chosen
    * = 4 at sf0.01), where 100 would floor every arm. The oracle
    * chooser reads it and [[NprobeGrid]]. */
  private[graft] val NprobePlanCandPerHit = 150L

  /** nprobe PLANNED (measure → decide → apply, the sim_split_band_planned
    * pattern closed over probe width): read the [[nprobeSweep]] rows,
    * choose the LARGEST grid width whose cumulative hits-per-candidate
    * efficiency vs the k = 1 arm beats 1/[[NprobePlanCandPerHit]]
    * (fail-closed floor k = 1), and serve the FULL corpus at the chosen
    * width with an `nprobe_used` read-out column (the
    * sim_split_serve_planned depth_used convention). The decision input
    * is a grid-sized driver collect (3 rows — the bookmark/plan-scalar
    * metadata precedent, never data rows). The oracle composes the
    * SHARED sweep chain + the same rule + one serve arm per grid width
    * from [[ivfChainCtesFor]], filtered by the choice — measure,
    * decision and serve read one chain on both engines. */
  def nprobePlanned(spark: SparkSession, dir: String,
                    probeN: Long = ProbeN): DataFrame = {
    val byK = nprobeSweep(spark, dir, probeN)
      .select(col("nprobe"), col("n_cand"), col("n_hit")).collect()
      .map(r => (r.getInt(0), (r.getLong(1), r.getLong(2)))).toMap
    val chosen = chooseNprobe(byK)
    serveAtNprobe(spark, dir, chosen)
      .withColumn("nprobe_used", lit(chosen))
  }

  /** The pure cand-per-hit chooser over sweep arms (arm → (n_cand,
    * n_hit)): the LARGEST arm whose cumulative extra hits over the
    * baseline (the smallest arm — nprobe 1, band margin 0) pay its
    * cumulative extra candidates at `candPerHit`; the baseline
    * qualifies trivially (0 ≥ 0), the fail-closed floor.
    * [[nprobePlanned]] and [[splitBandPlanned]] both decide through it
    * (NprobePlannedSpec drives the cases on synthetic rows; the
    * oracles' npch / band chooser CTEs mirror it). Extra probed cells
    * that turn out EMPTY make a wider arm free (Δcand = 0 ⇒ it
    * qualifies at zero extra hits) — taking it is the correct reading,
    * not a floor miss. */
  private[graft] def chooseNprobe[K: Ordering](byArm: Map[K, (Long, Long)],
      candPerHit: Long = NprobePlanCandPerHit): K = {
    val (c0, h0) = byArm(byArm.keys.min)
    byArm.collect { case (k, (c, h)) if (h - h0) * candPerHit >= c - c0 => k }
      .max
  }

  /** The full-corpus IVF serve at an explicit probe width — the
    * chosen-arm executor behind [[nprobePlanned]]. k ≤ [[NProbe]]
    * SLICES the production ranking memo (rank prefixes of a bounded
    * top-k are exactly the narrower top-k); k > NProbe re-ranks at
    * query time via [[rankedAtNprobe]]. The indexed side (home cells +
    * salted cap) is width-independent and always comes from the memo,
    * so k = NProbe reproduces [[ivfTopK]] row-for-row
    * (NprobePlannedSpec pins it). */
  private[graft] def serveAtNprobe(spark: SparkSession, dir: String,
                                 k: Int): DataFrame =
    // the production width IS the production serve — one seam
    if (k == NProbe) ivfTopK(spark, dir)
    else {
      val ranked = ivfAssignRanked(spark, dir)
      val rankedK =
        if (k < NProbe) ranked.filter(col("rn") <= k)
        else rankedAtNprobe(spark, dir, k)
      val emb = embWithNrm(spark, dir)
      serveTop3(cellCandidates(emb, rankedK, emb, homeOf(ranked)))
        .select("a_id", "b_id", "rn", "sim")
    }

  /** Int8-quantization recall eval — the third leg of the eval-harness
    * family ([[Dedup.minhashEval]] for the sketch, [[ivfRecallEval]]
    * for the index, this for the COMPRESSION): how much top-3 recall
    * does the [[quantize]] storage format cost? Serving shape is
    * asymmetric (ADC-style): the query stays full-precision float, the
    * corpus is DEQUANTIZED from its per-vector (mn, mx, int8 codes) —
    * exactly what a store that persists only codes can reconstruct.
    * Ground truth = exact float cosine top-3 on the same fixed probe
    * sample (vec_id < 100 — constant query-side cost at any corpus
    * scale). The dequantization expression mirrors [[quantize]]'s code
    * formula term for term (keep in lockstep); every arithmetic step is
    * IEEE exact-rounded double ops in fixed order, so both engines rank
    * identically. Both searches are one broadcast of the probe table
    * against one streamed corpus pass — brute-force cost is paid for
    * 100 queries, never n². */
  def int8RecallEval(spark: SparkSession, dir: String,
                     probeN: Long = ProbeN): DataFrame =
    // memoized 1-row result ("int8recall", owner sim_eval_frontier —
    // the jlrecall rule, round 20)
    CkptMemo.getOrElseUpdate((spark, dir, "int8recall", probeN), {
      val base = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
      val st = base.select(col("vec_id"), col("embedding"),
        array_min(col("embedding")).cast("double").as("mn"),
        array_max(col("embedding")).cast("double").as("mx"))
      // code = least(255, floor((v-mn)/(mx-mn)*255))  — quantize's formula;
      // dequant = mn + code*(mx-mn)/255 (code cast back to double)
      val dqv = transform(col("embedding"), v =>
        when(col("mx") > col("mn"),
          col("mn") +
            least(lit(255L), floor((v.cast("double") - col("mn")) /
                                   (col("mx") - col("mn")) * 255)).cast("double") *
            (col("mx") - col("mn")) / lit(255.0))
          .otherwise(col("mn")))
      val dq = st.select(col("vec_id"), dqv.as("d"))
        .select(col("vec_id"), col("d"),
                sqrt(dotCols(col("d"), col("d"))).as("dnrm"))
      val q = base.filter(probeSample(probeN, col("vec_id")))
        .select(col("vec_id").as("a_id"), col("embedding").as("qv"),
                sqrt(dotCols(col("embedding"), col("embedding"))).as("qnrm"))
      approxRecall(spark, dir, probeN, probeRanked(dq, q,
        Num.rnd(dotCols(col("d"), col("qv")) / (col("dnrm") * col("qnrm")), 6), TopK))
    })

  /** The recall-only [[recallFold]] of an approximate top-3 against the
    * SHARED exact truth, checkpointed — the memoized body of the int8,
    * JL and Matryoshka legs. */
  private def approxRecall(spark: SparkSession, dir: String, probeN: Long,
                           ranked: DataFrame): DataFrame =
    recallFold(exactTruthTop3(spark, dir, probeN), ranked.select("a_id", "b_id"),
      screenCount = None).localCheckpoint()

  // ---- sign-bit binary quantization (Hamming index) ----

  /** One packed 32-bit sign word: bit i of the word is set iff
    * `embedding[lo + i] >= 0` (raw sign — the corpus is zero-centered
    * per dimension, see [[dimStats]], so no centering pass is needed and
    * the oracle stays a pure per-row expression). Packing is a one-shot
    * 32-element fold per vector (not a hot loop — the HOT path,
    * Hamming scoring, runs on the packed BIGINTs via codegen'd
    * bit_count/xor, 2 machine ops per candidate). Float `>= 0` is exact
    * on both engines (IEEE: −0.0 >= 0.0 is true on both). */
  private def packWord(lo: Int): Column =
    expr(s"aggregate(transform(slice(embedding, ${lo + 1}, 32), " +
      "(v, i) -> IF(v >= CAST(0 AS DOUBLE), " +
      "shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))), " +
      "CAST(0 AS BIGINT), (a, b) -> a + b)")

  /** Sign-bit binary quantization — 64 dims → two BIGINT words (16 bytes
    * per vector, a 16× compression over float32): the cheapest of the
    * three storage tiers (sign < int8 [[quantize]] < PQ [[pqCodes]]).
    * At 100 TB the entire sign index for a billion vectors is ~16 GB —
    * it fits in executor memory where even int8 codes don't, and
    * Hamming distance over packed words is 2 xor+popcount ops, so a
    * full-corpus screen is memory-bandwidth-bound, never FLOP-bound.
    * `nbits` (the popcount) is the per-vector summary a monitoring
    * layer watches for degenerate all-positive/all-negative batches. */
  def signBits(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), packWord(0).as("w1"), packWord(32).as("w2"))
      .withColumn("nbits", expr("CAST(bit_count(w1) + bit_count(w2) AS INT)"))

  /** Packed words + probe split shared by [[hammingTopK]] and
    * [[signRecallEval]] — the Spark analog of the oracle's sign
    * chain. */
  private def signShortlist(spark: SparkSession, dir: String,
                            probeN: Long): DataFrame = {
    val pk = signBits(spark, dir).select("vec_id", "w1", "w2")
    val pr = pk.filter(probeSample(probeN, col("vec_id")))
      .select(col("vec_id").as("a_id"), col("w1").as("q1"), col("w2").as("q2"))
    val wH = Window.partitionBy("a_id").orderBy(col("hd").asc, col("b_id").asc)
    fanOut(pk).crossJoin(broadcast(pr))
      .filter(col("vec_id") =!= col("a_id"))
      .select(col("a_id"), col("vec_id").as("b_id"),
        expr("CAST(bit_count(w1 ^ q1) + bit_count(w2 ^ q2) AS INT)").as("hd"))
      .withColumn("rh", row_number().over(wH))
      .filter(col("rh") <= SignShortlist)
      .select("a_id", "b_id", "hd")
  }

  /** Hamming shortlist width before the exact re-rank; the oracle's
    * sign chain reads it. */
  private[graft] val SignShortlist = 8

  /** Hamming top-k with exact re-rank — the serving path of the sign
    * index: screen the corpus by Hamming distance on the packed words
    * (top-[[SignShortlist]] per probe, ties by b_id), then re-rank the
    * shortlist by exact float cosine and keep top-3. Identical
    * shortlist-then-exact shape as [[pqRerankTopK]]: the float vectors
    * are touched for only |probes|·shortlist rows, never the full
    * corpus product. Probe set is the fixed vec_id < 100 slice (same
    * eval-harness contract as [[int8RecallEval]]). */
  def hammingTopK(spark: SparkSession, dir: String,
                  probeN: Long = ProbeN): DataFrame = {
    val short = signShortlist(spark, dir, probeN)
    val emb = embWithNrm(spark, dir)
    val q = probeVecs(emb, probeN)
    val wS = Window.partitionBy("a_id").orderBy(col("sim").desc, col("b_id").asc)
    short
      .join(emb.select(col("vec_id").as("b_id"), col("embedding").as("bv"),
                       col("nrm").as("bnrm")), Seq("b_id"))
      .join(broadcast(q), Seq("a_id"))
      .select(col("a_id"), col("b_id"), col("hd"),
        Num.rnd(dotCols(col("bv"), col("qv")) / (col("bnrm") * col("qnrm")), 6)
          .as("sim"))
      .withColumn("rn", row_number().over(wS))
      .filter(col("rn") <= TopK)
      .select("a_id", "b_id", "rn", "hd", "sim")
  }

  /** Sign-screen recall eval — the fourth leg of the eval-harness family
    * ([[Dedup.minhashEval]] sketch, [[ivfRecallEval]] index,
    * [[int8RecallEval]] compression, this for the BINARY tier): does the
    * [[SignShortlist]]-wide Hamming screen retain the exact cosine top-3?
    * Same fixed-probe contract (vec_id < 100) and the same
    * recall/precision micro-unit outputs as [[ivfRecallEval]] — pure
    * integer division, exactly reproducible. */
  def signRecallEval(spark: SparkSession, dir: String,
                     probeN: Long = ProbeN): DataFrame =
    // memoized 1-row result ("signrecall", owner sim_eval_frontier —
    // the jlrecall rule, round 20)
    CkptMemo.getOrElseUpdate((spark, dir, "signrecall", probeN),
      recallFold(exactTruthTop3(spark, dir, probeN),
        signShortlist(spark, dir, probeN).select("a_id", "b_id"))
        .localCheckpoint())

  // ---- reciprocal-rank fusion of two retrieval tiers ----

  /** Per-leg candidate depth and the standard RRF smoothing constant
    * (K = 60, Cormack/Clarke/Buettcher 2009), both read by the oracle
    * chain. Depth is DEFINED as
    * [[SignShortlist]] (not an independent 8) so the two fused legs
    * contribute symmetric list lengths by construction — changing the
    * sign shortlist width moves the RRF depth with it, keeping the
    * documented symmetry contract enforced rather than coincidental. */
  private[graft] val RrfDepth = SignShortlist
  private[graft] val RrfK = 60

  /** Reciprocal-rank FUSION of the two cheap retrieval tiers the index
    * already serves — the standard hybrid-retrieval shape (fuse a
    * lexical/coarse ranking with a semantic one by rank, never by
    * score, because the legs' score scales are incomparable): per
    * probe, leg A = the IVF multi-probe ranking (top-[[RrfDepth]] by
    * 6-dp cosine), leg B = the sign-bit Hamming shortlist ranking
    * (top-[[SignShortlist]] by hd), fused by
    * score = Σ_legs 1e6 div ([[RrfK]] + rank) — EXACT integer
    * arithmetic (nonneg ⇒ div ≡ //), so both engines fuse
    * bit-identically; a candidate missing from one leg simply
    * contributes 0 (the FULL OUTER join). Final rank under
    * (score desc, b_id asc), top-3 out. Cost: two already-bounded
    * shortlists per probe — |probes|·8 rows each — one outer join on
    * (a_id, b_id), no new corpus scan; at 100 TB the fusion stage is
    * query-side-only work. */
  def rrfFusion(spark: SparkSession, dir: String,
                probeN: Long = ProbeN): DataFrame =
    // memoized serve frame ("rrfserve", owner sim_rrf_fusion in Bench's
    // list; probeN in the key): the fused top-3 is
    // re-read by sim_rrf_recall and the frontier's rrf leg
    CkptMemo.getOrElseUpdate((spark, dir, "rrfserve", probeN),
      rrfFusionBuild(spark, dir, probeN).localCheckpoint())

  private def rrfFusionBuild(spark: SparkSession, dir: String,
                             probeN: Long): DataFrame = {
    val wa = Window.partitionBy("a_id").orderBy(col("sim").desc, col("b_id").asc)
    val legA = ivfCandidates(spark, dir)
      .filter(probeSample(probeN, col("a_id")))
      .withColumn("ra", row_number().over(wa))
      .filter(col("ra") <= RrfDepth)
      .select("a_id", "b_id", "ra")
    val wb = Window.partitionBy("a_id").orderBy(col("hd").asc, col("b_id").asc)
    val legB = signShortlist(spark, dir, probeN)
      .withColumn("rb", row_number().over(wb))
      .select("a_id", "b_id", "rb")
    val wf = Window.partitionBy("a_id")
      .orderBy(col("rrf_micro").desc, col("b_id").asc)
    legA.join(legB, Seq("a_id", "b_id"), "full_outer")
      .withColumn("rrf_micro",
        expr(s"coalesce(CAST(1000000 AS BIGINT) div ($RrfK + ra), " +
             "CAST(0 AS BIGINT)) + " +
             s"coalesce(CAST(1000000 AS BIGINT) div ($RrfK + rb), " +
             "CAST(0 AS BIGINT))"))
      .withColumn("rn", row_number().over(wf))
      .filter(col("rn") <= TopK)
      .select(col("a_id"), col("b_id"), col("rrf_micro"),
              col("rn").cast("int").as("rn"))
  }

  /** RRF recall eval — does rank fusion of the IVF and sign tiers beat
    * either alone? Same fixed-probe/truth contract and micro-unit
    * outputs as [[ivfRecallEval]]/[[signRecallEval]]; the eighth
    * frontier leg. The fused top-3 can only draw from the union of
    * the two legs' shortlists, so its recall is bounded by the union's
    * — the measured number tells whether rank agreement (a candidate
    * surfacing in BOTH cheap tiers) is a better top-3 signal than
    * either tier's own score. */
  def rrfRecallEval(spark: SparkSession, dir: String,
                    probeN: Long = ProbeN): DataFrame =
    recallFold(exactTruthTop3(spark, dir, probeN),
      rrfFusion(spark, dir, probeN).select("a_id", "b_id"))

  // ---- greedy graph search over the mutual-kNN graph (HNSW layer-0) ----

  /** Beam width and expansion rounds for [[graphSearch]], read by the
    * oracle chain too. */
  private[graft] val GraphBeam = 4
  private[graft] val GraphSearchRounds = 2

  /** Greedy beam search over the mutual-kNN graph — the SERVING shape
    * of graph-based ANN, as a two-tier cascade (the production
    * architecture: a cheap coarse screen picks ENTRY vertices, the
    * graph walk refines): per probe the beam seeds with the sign-bit
    * Hamming top-[[GraphBeam]] (16 bytes/vector, xor+popcount — the
    * [[signShortlist]] tier), then each of 2 rounds expands the beam
    * by its mutual-kNN neighbors, scores candidates by exact cosine,
    * and keeps the best [[GraphBeam]] under (sim desc, b_id asc). A
    * single fixed entry was measured at 1% recall on this corpus —
    * the mutual-top-3 graph is component-fragmented and a walk cannot
    * cross components, which is WHY real graph indexes pair the walk
    * with a coarse entry picker. Per round the candidate volume is
    * ≤ |probes|·B·(deg+1) — degree-bounded, so float vectors are
    * touched for a few dozen rows per probe, never the corpus
    * product; the walk rides the SAME memoized graph every graph_*
    * query uses (owner sim_knn_mutual). Output: final beam's top-3. */
  def graphSearch(spark: SparkSession, dir: String,
                  probeN: Long = ProbeN): DataFrame =
    // memoized serve frame ("gssearch", owner sim_graph_search in
    // Bench's list; probeN in the key, the simtruth rule): the
    // 2-round beam walk is re-read by its eval and the
    // frontier's graph leg — before round 19 each re-ran the walk
    CkptMemo.getOrElseUpdate((spark, dir, "gssearch", probeN),
      graphSearchBuild(spark, dir, probeN).localCheckpoint())

  private def graphSearchBuild(spark: SparkSession, dir: String,
                               probeN: Long): DataFrame = {
    val und = Graph.mutualGraph(spark, dir).und
    val emb = embWithNrm(spark, dir)
    val probes = probeVecs(emb, probeN)
    val wE = Window.partitionBy("a_id").orderBy(col("hd").asc, col("b_id").asc)
    val w = Window.partitionBy("a_id").orderBy(col("sim").desc, col("b_id").asc)
    var beam: DataFrame = signShortlist(spark, dir, probeN)
      .withColumn("re", row_number().over(wE))
      .filter(col("re") <= GraphBeam)
      .select("a_id", "b_id")
    var scoredBeam: DataFrame = null
    for (_ <- 1 to GraphSearchRounds) {
      val cand = beam.select("a_id", "b_id")
        .union(beam.join(und, beam("b_id") === und("u"))
          .select(col("a_id"), col("v").as("b_id")))
        .distinct()
      scoredBeam = cand
        .join(emb.select(col("vec_id").as("b_id"), col("embedding").as("bv"),
                         col("nrm").as("bnrm")), Seq("b_id"))
        .join(broadcast(probes), Seq("a_id"))
        .filter(col("a_id") =!= col("b_id"))
        .select(col("a_id"), col("b_id"),
          Num.rnd(dotCols(col("bv"), col("qv")) / (col("bnrm") * col("qnrm")), 6)
            .as("sim"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= GraphBeam)
      beam = scoredBeam.select("a_id", "b_id")
    }
    scoredBeam.filter(col("rn") <= TopK)
      .select(col("a_id"), col("b_id"), col("rn").cast("int").as("rn"),
              col("sim"))
  }

  /** Graph-search recall eval — the fifth leg of the eval-harness
    * family (sketch / index / compression / binary / GRAPH WALK): does
    * the Hamming-seeded 2-round beam walk retain the exact cosine
    * top-3? Same fixed-probe contract (vec_id < 100) and integer
    * micro recall as [[ivfRecallEval]]. The number quantifies the
    * serving trade: a walk touches O(B·deg·rounds) float vectors per
    * probe (plus the binary screen) where IVF touches
    * O(corpus/cells·nprobe). */
  def graphSearchEval(spark: SparkSession, dir: String,
                      probeN: Long = ProbeN): DataFrame =
    recallFold(exactTruthTop3(spark, dir, probeN),
      graphSearch(spark, dir, probeN).select("a_id", "b_id"),
      screenCount = None)

  /** The recall-vs-method FRONTIER — the one-table summary an ANN
    * deployment decision actually reads: all thirteen single-number
    * recall evals (IVF index, Lloyd-trained IVF, sign-bit binary, int8,
    * JL projection, Matryoshka prefix, graph walk, NN-descent, RRF
    * fusion, split index, band dual-probe split, recursive split index,
    * trained split index) side by side under the SAME fixed probe set
    * and truth definition. Pure composition: each leg IS the
    * registered eval query (Spark functions and oracle SQL both —
    * lockstep by construction), so the frontier can never disagree
    * with its legs. */
  def evalFrontier(spark: SparkSession, dir: String): DataFrame = {
    val legDefs: Seq[(String, () => DataFrame)] = Seq(
      "band"       -> (() => splitBandRecallEval(spark, dir)),
      "deepsplit"  -> (() => splitDeepRecallEval(spark, dir)),
      "graph"      -> (() => graphSearchEval(spark, dir)),
      "int8"       -> (() => int8RecallEval(spark, dir)),
      "ivf"        -> (() => ivfRecallEval(spark, dir)),
      "jl"         -> (() => jlRecallEval(spark, dir)),
      "matryoshka" -> (() => matryoshkaRecallEval(spark, dir)),
      // the refined-graph column pair of the descent eval, renamed to
      // the frontier's (n_hit, recall_micro) contract
      "nn_descent" -> (() => nnDescentEval(spark, dir)
        .select(col("n_truth"), col("n_hit_ref").as("n_hit"),
                col("recall_ref_micro").as("recall_micro"))),
      "rrf"        -> (() => rrfRecallEval(spark, dir)),
      "sign"       -> (() => signRecallEval(spark, dir)),
      "split"      -> (() => splitRecallEval(spark, dir)),
      "trained"    -> (() => trainedRecallEval(spark, dir)),
      "trainedsplit" -> (() => trainedSplitRecallEval(spark, dir)))
    // Build the legs CONCURRENTLY (guide §2.6 — overlap independent
    // jobs): most legs force eager memo builds at construction
    // (serve frames, the round-20 1-row results), and serial
    // construction would run each probe-bounded build alone on an
    // otherwise idle session. Distinct memo keys build in parallel
    // (CkptMemo's per-key lazy cells); legs racing to a SHARED memo
    // (simtruth) serialize on that one cell only. The truth memo is
    // forced FIRST so no leg's thread wins the simtruth build and
    // hides the owner's cost inside a leg.
    exactTruthTop3(spark, dir, ProbeN)
    val legs = runLegs(legDefs, threads = 6)
    legs.map { case (m, df) =>
      df.select(lit(m).as("method"), col("n_truth"), col("n_hit"),
                col("recall_micro"))
    }.reduce(_.unionByName(_)).orderBy("method")
  }

  /** How long [[runLegs]] waits for all its legs — far above any
    * frontier build (seconds at sf0.1), so only a hung leg reaches it. */
  private val LegDeadline = java.time.Duration.ofMinutes(30)

  /** Runs `legs` concurrently on `threads` named daemon threads and
    * returns their results in input order. Every leg settles before a
    * failure surfaces: the first failing leg's exception (in input
    * order) is rethrown with the other legs' failures attached as
    * suppressed, so no leg is left running detached. A leg still
    * running at `deadline` (from the start) is cancelled, and a
    * TimeoutException naming every such leg is thrown instead, with
    * the failed legs' exceptions attached as suppressed. */
  private[graft] def runLegs[A](legs: Seq[(String, () => A)], threads: Int,
                                deadline: java.time.Duration = LegDeadline)
      : Seq[(String, A)] = {
    import java.util.concurrent.{ExecutionException, TimeUnit, TimeoutException}
    val n = new java.util.concurrent.atomic.AtomicInteger
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads,
      (r: Runnable) => {
        val t = new Thread(r, s"graft-leg-${n.incrementAndGet()}")
        t.setDaemon(true)
        t
      })
    val end = System.nanoTime() + deadline.toNanos
    // Left(None) = still running at the deadline
    val settled =
      try legs.map { case (m, f) => (m, pool.submit[A](() => f())) }.map {
        case (m, fut) => (m, try Right(fut.get(
            math.max(0L, end - System.nanoTime()), TimeUnit.NANOSECONDS))
          catch {
            case e: ExecutionException => Left(Some(e.getCause))
            case _: TimeoutException => fut.cancel(true); Left(None)
          })
      } finally pool.shutdownNow()
    val hung = settled.collect { case (m, Left(None)) => m }
    val failures = settled.collect { case (_, Left(Some(e))) => e }
    val first: Option[Throwable] =
      if (hung.nonEmpty) Some(new TimeoutException(
        s"legs ${hung.mkString(", ")} still running after $deadline; cancelled"))
      else failures.headOption
    first.foreach { e =>
      failures.filterNot(_ eq e).foreach(e.addSuppressed)
      throw e
    }
    settled.collect { case (m, Right(a)) => (m, a) }
  }

  // ---- Johnson–Lindenstrauss random projection ----

  /** JL target dimensionality and the plane-index offset that keeps the
    * projection directions decorrelated from the LSH bucket planes
    * (same LCG, disjoint index range), both read by the oracle's JL
    * chain. */
  private[graft] val JlDims = 16
  private[graft] val JlPlaneBase = 100

  /** Per-vector JL coordinates in exact integer micro-units: coordinate
    * k = round(⟨v, plane(100+k)⟩ · 1e6) as BIGINT. The ±1 planes make
    * the projection DATA-OBLIVIOUS — no training pass, no model state,
    * the transform is a pure function of the vector (contrast
    * [[pcaProject]], which learns its direction) — so it applies
    * streaming, incrementally, and identically on every engine.
    * Micronizing at the projection boundary means every downstream
    * product/sum is exact int64 (|p| ≤ 24·1e6 ⇒ 16 squared terms stay
    * under 2^63), immune to summation order. */
  private def jlWide(spark: SparkSession, dir: String): DataFrame = {
    val coords = (0 until JlDims).map { k =>
      val h = array(plane(JlPlaneBase + k).map(lit): _*)
      round(dotCols(col("embedding"), h) * 1e6).cast("long")
    }
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), array(coords: _*).as("jl"))
  }

  /** JL random projection, long form (vec_id, k, p_micro) — the
    * 64→16-dim oblivious dimensionality reduction. One corpus scan,
    * zero shuffles, no model to train or ship. */
  def randProj(spark: SparkSession, dir: String): DataFrame =
    jlWide(spark, dir)
      .select(col("vec_id"), posexplode(col("jl")))
      .select(col("vec_id"), col("pos").cast("int").as("k"),
              col("col").as("p_micro"))

  /** JL recall eval — does cosine top-3 in the 16-dim projected space
    * recover the exact 64-dim top-3? MEASURED ANSWER on this corpus:
    * ~4% at sf0.01 — the isotropic synthetic embeddings are JL's worst
    * case (pairwise cosines concentrate near 0, so a 16-dim sketch
    * cannot separate rank-3 from rank-30). That number is the point of
    * the harness: it says use JL here for coarse bucketing (LSH) or
    * distance ESTIMATION, not top-k serving — where the trained
    * reductions ([[pcaProject]]) or finer quantizers ([[quantize]],
    * [[pqCodes]]) hold 95%+. Projected similarities are
    * computed ENTIRELY from the exact integer micro-coordinates
    * (BIGINT dot and norms, one double division at the end, 6-dp
    * round) — bit-reproducible cross-engine, unlike a float-projected
    * variant whose summation order would drift. Same fixed-probe
    * eval contract as [[int8RecallEval]]. The 16-element integer fold
    * is an interpreted HOF, but it runs on |probes|·|corpus| pairs of
    * 16-long arrays — 4× less work than the 64-dim exact scan even
    * interpreted; a production variant would drop to an ArrayDot-style
    * codegen'd long fold. */
  def jlRecallEval(spark: SparkSession, dir: String,
                   probeN: Long = ProbeN): DataFrame =
    // memoized 1-row result ("jlrecall", owner sim_eval_frontier — the
    // frontier runs first and this eval IS its jl leg; the standalone
    // query re-ran the whole probe×corpus JL ranking before round 20);
    // keyed by probeN per the simtruth rule
    CkptMemo.getOrElseUpdate((spark, dir, "jlrecall", probeN), {
      // codegen exact-int64 dot (graft.functions.ArrayDotLong) — the
      // probe×corpus candidate join is the JL serve's O(n·probes) inner
      // loop; the interpreted aggregate/zip_with HOF chain it replaces is
      // the spec reference (ArrayDotLongSpec pins value identity). Σx² is
      // the self-dot instance.
      val nsq = graft.functions.ArrayDotLong.col(col("jl"), col("jl"))
      val jlw = jlWide(spark, dir).withColumn("n2", nsq)
      val qj = jlw.filter(probeSample(probeN, col("vec_id")))
        .select(col("vec_id").as("a_id"), col("jl").as("qjl"),
                col("n2").as("qn2"))
      val d16 = graft.functions.ArrayDotLong.col(col("jl"), col("qjl"))
      approxRecall(spark, dir, probeN, probeRanked(jlw, qj,
        when(col("n2") === 0L || col("qn2") === 0L, lit(-2.0))
          .otherwise(Num.rnd(d16.cast("double") /
            (sqrt(col("n2").cast("double")) * sqrt(col("qn2").cast("double"))),
            6)), TopK))
    })

  /** IVF training — one distributed Lloyd (k-means) iteration that makes
    * the coarse quantizer REAL instead of the seed stub: assign every
    * vector to its nearest seed centroid (the memoized [[ivfAssign]]
    * scan), then recompute each cell's centroid as the element-wise mean
    * of its members. One shuffle by cell carrying per-partition vecMean
    * buffers (map-side combine in vector space — not 64× exploded rows);
    * the same shape per iteration at any scale; more Lloyd rounds just
    * repeat it ([[ivfTrainIter]] does, reusing this step's result as
    * round 1; centroids stay a broadcast-size table ≤4096×64). Every
    * seed belongs to its own cell (self-cosine 1.0), so no cell is ever
    * empty. Means are rounded at 6 dp so the trained centroids are
    * byte-identical across engines (the [[centroidBySource]] precedent).
    * Long form (cell, pos, m). */
  def ivfTrain(spark: SparkSession, dir: String): DataFrame =
    CkptMemo.getOrElseUpdate((spark, dir, "ivftrain"),
      cellMeans(Tables.embeddings(spark, dir),
          ivfAssign(spark, dir).select("vec_id", "cell"))
        .orderBy("cell", "pos")
        .localCheckpoint())

  /** Every (vector, trained cell) ranked by cosine, kept to rn ≤
    * [[NProbe]] — the trained-quantizer analog of [[ivfAssignRanked]],
    * shared by the final assignment AND the trained-index search (the
    * n×cells scan is the expensive half; memoized once per (session,
    * dir)). Trained centroids are a tiny broadcast (cells×64 rounded
    * doubles); norms precomputed once per vector / per centroid (the
    * file-wide invariant) so the scan does ONE 64-dim fold per pair. */
  private[graft] def ivfTrainedRanked(spark: SparkSession, dir: String): DataFrame =
    CkptMemo.getOrElseUpdate((spark, dir, "ivftrainedranked"),
      explodeRanked(rankCells(fanOut(embWithNrm(spark, dir)),
          centroidTable(ivfTrain(spark, dir))))
        .localCheckpoint())

  /** Re-assignment against the TRAINED centroids — the quantizer a real
    * IVF index serves queries with (seed assign → Lloyd step → final
    * assign). */
  def ivfAssignTrained(spark: SparkSession, dir: String): DataFrame =
    ivfTrainedRanked(spark, dir)
      .filter(col("rn") === 1)
      .select("vec_id", "cell", "csim")

  /** Per-cell cohesion / outlier report — embedding-space junk
    * detection off the index the corpus already pays for: a vector far
    * from its OWN (nearest) trained centroid is far from every
    * centroid, i.e. it sits in no density region the quantizer found —
    * the classic distance-to-assigned-centroid junk heuristic, and
    * simultaneously the index-health view (a cell whose members barely
    * cohere is a cell the quantizer wasted). Reuses the memoized
    * [[ivfTrainedRanked]] scan, so the marginal cost is ONE groupBy of
    * the |n|-row assignment into |cells| rows at any scale. Each cell
    * reports its member count, the EXACT micro-unit cosine mass
    * (csim is already 6-dp — round(·1e6) is integer-exact and the sum
    * is order-invariant BIGINT, the emb_dim_stats discipline), and its
    * worst member (min csim, ties to the lower id — the row a human
    * reviews first). */
  def outlierReport(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("cell")
      .orderBy(col("csim").asc, col("vec_id").asc)
    ivfAssignTrained(spark, dir)
      .withColumn("cm", round(col("csim") * lit(1e6), 0).cast("long"))
      .withColumn("rn", row_number().over(w))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_members"),
           sum("cm").as("sum_csim_micro"),
           max(when(col("rn") === 1, col("vec_id"))).as("worst_id"),
           max(when(col("rn") === 1, col("csim"))).as("worst_csim"))
      .orderBy("cell")
  }

  /** Search against the TRAINED index end-to-end — round-4 verdict
    * "what's missing" #1: [[ivfTopK]] probes the stub quantizer's cells,
    * which at scale are badly unbalanced vs trained ones. Same shape as
    * [[ivfTopK]] (probe side rn ≤ [[NProbe]], indexed side home cell
    * rn = 1, capped bucket join, exact cosine re-rank) but over the
    * Lloyd-trained cells from [[ivfTrainedRanked]]. */
  def ivfTopKTrained(spark: SparkSession, dir: String): DataFrame =
    trainedServeFrom(spark, dir, ivfTrainedRanked(spark, dir))

  /** The trained-index serve composition over a GIVEN ranked-assignment
    * frame (vec_id, cell, rn ≤ [[NProbe]]): probe cells rn ≤ NProbe,
    * home cell rn = 1, capped bucket join, exact cosine re-rank top-3 —
    * shared by [[ivfTopKTrained]] (the session-lifetime memoized index)
    * and [[ivfIndexPersistSearch]] (the same index reloaded from
    * durable parquet), so the two serve paths can never diverge. */
  private def trainedServeFrom(spark: SparkSession, dir: String,
                               ranked: DataFrame): DataFrame = {
    val emb = embWithNrm(spark, dir)
    serveTop3(cellCandidates(emb, ranked, emb, homeOf(ranked)))
      .select("a_id", "b_id", "rn", "sim")
  }

  /** Persisted-ANN round trip (sim_index_persist) — the vector-side
    * analog of [[Dedup.indexPersistScreen]]: production indexes are
    * built offline and served online, so the trained index's two
    * tables are written to durable parquet and search runs from the
    * RELOADED files. Layout: `centroids` = the trained quantizer in
    * long form (cell, pos, m — model-sized, ≤ 4096×64 rows at any
    * corpus scale) and `postings` = the ranked assignment (vec_id,
    * cell, csim, rn ≤ [[NProbe]]) PARTITIONED BY cell — a
    * cell-restricted maintenance scan (rebalance one cell, audit one
    * cell's members) prunes the rest of the index at the file listing,
    * the band-partitioned minhash index's pruning story on the vector
    * side. Result ≡ [[ivfTopKTrained]] by construction — the oracle IS
    * sim_ivf_topk_trained's, unchanged: the only thing that moved is
    * the index's home, from a session-lifetime localCheckpoint to
    * durable columnar files. Partition-column round-trip note: `cell`
    * comes back as the partition directory's inferred INT — cast back
    * to the stored LONG so the serve joins stay type-identical
    * (SimIndexPersistSpec pins equality and the layout). The writes
    * happen at query-construction (the eager-persist family — never in
    * PlanShapeSpec's laziness list). */
  def ivfIndexPersistSearch(spark: SparkSession, dir: String): DataFrame =
    trainedServeFrom(spark, dir, persistTrainedIndex(spark, dir,
      Tables.scratch("ivf_index_centroids"),
      Tables.scratch("ivf_index_postings"))._2)

  /** The one trained-index write: the Lloyd centroids (long form) at
    * `centsPath`, then the ranked postings partitioned by cell at
    * `postingsPath`; returns both RELOADED (centroids, postings). Each
    * persist query keeps its own paths — their specs read them. */
  private def persistTrainedIndex(spark: SparkSession, dir: String,
                                  centsPath: String, postingsPath: String)
      : (DataFrame, DataFrame) =
    (persistModel(spark, ivfTrain(spark, dir), centsPath),
     persistPostings(spark, ivfTrainedRanked(spark, dir), postingsPath, "cell"))

  /** UPSERT lifecycle serving (sim_ivf_upsert_search) — the ARRIVAL
    * half of the index-maintenance pair ([[ivfDeleteSearch]] is the
    * takedown half): the quantizer was trained on the base corpus
    * snapshot (vec_id < n/2 — [[ivfIncrementalAssign]]'s split
    * contract, 250 at sf0.01) and FROZEN; since then a takedown
    * removed vec_id % 10 = 0 from the base, and a new batch
    * (vec_id ≥ n/2) arrived and was assigned to the frozen trained
    * cells without retraining. Serving runs over the combined live
    * membership. Correctness argument = [[ivfDeleteSearch]]'s extended
    * to arrivals: trained centroids are POSITIONS frozen at train time
    * (they survive member takedown and member arrival alike —
    * retraining is a separate scheduled job, [[ivfTrainIter]]), and
    * per-vector assignment against frozen centroids is independent, so
    * incremental-add + delete-filter + re-cap over live members is
    * EXACTLY a from-scratch rebuild over the live set against the same
    * centroids — the oracle (up-prefixed tail over the shared
    * [[incAssignCteSql]] chain) rebuilds from scratch and hash
    * equality is the proof. In production the add costs |batch| ×
    * cells and the delete costs a filter; neither rescans the corpus.
    * Probes = the eval-family fixed sample ∩ live. */
  def ivfUpsertSearch(spark: SparkSession, dir: String,
                      probeN: Long = ProbeN): DataFrame = {
    val split = embCount(spark, dir) / 2
    // frozen quantizer: trained on the FULL base snapshot — training
    // history includes members later taken down (it doesn't un-happen).
    // Shared seam with ivfIncrementalAssign and VecStream: a recipe
    // change moves all three consumers of the incAssignCteSql chain.
    val cents = frozenBaseCentroids(spark, dir)
    val live = embWithNrm(spark, dir).filter(
      (col("vec_id") < split && col("vec_id") % 10 =!= 0) ||
        col("vec_id") >= split)
    upsertServeFrom(live, homeOf(explodeRanked(rankCells(fanOut(live), cents))),
      cents, probeN)
  }

  /** Embeddings with their L2 norm — the (vec_id, embedding, nrm) shape
    * every serve path starts from. */
  private[graft] def embWithNrm(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
              sqrt(dotCols(col("embedding"), col("embedding"))).as("nrm"))

  /** The upsert SERVE tail over an arbitrary (live members, home-cell
    * index) pair: probes re-rank their NProbe cells against the frozen
    * centroids at query time (an IVF index stores home cells only —
    * probe lists are query-time work), candidates come from the capped
    * home-cell buckets, top-3 per probe. Shared by the batch
    * [[ivfUpsertSearch]] and [[graft.streaming.VecStream]]'s maintained
    * index — stream ≡ batch because both feed per-vector frozen-model
    * assignments through this ONE path (StreamingSpec pins it). */
  private[graft] def upsertServeFrom(live: DataFrame, homeCells: DataFrame,
                                     cents: DataFrame,
                                     probeN: Long): DataFrame = {
    // the literal leading band: a SERVE-side sample knob on a
    // stream-shared seam, not an eval probe
    val probeSide = live.filter(col("vec_id") < probeN)
    windowTop3(cellCandidates(probeSide,
      explodeRanked(rankCells(fanOut(probeSide), cents)), live, homeCells))
  }

  /** All in-cell candidate pairs (a < b) with their 6-dp cosine, over
    * the TRAINED home-cell assignment — the un-thresholded frame
    * [[semanticDedup]] (τ = 0.4) and [[semanticCurve]] (τ grid) both
    * cut; extracted so the dedup decision and its tuning curve can
    * never diverge on the candidate stage. */
  private def semanticPairsAll(spark: SparkSession, dir: String): DataFrame =
    // memoized ("sempairs", owner dedup_semantic in Bench's list): the
    // dedup decision, the τ curve, and the recall eval all cut this one
    // un-thresholded in-cell pair frame — before round 20 each re-ran
    // the capped candidate join + cosine
    CkptMemo.getOrElseUpdate((spark, dir, "sempairs"), {
      val withCell = embWithNrm(spark, dir)
        .join(homeOf(ivfTrainedRanked(spark, dir)), Seq("vec_id"))
      pairCandidates(withCell, "cell").filter(col("a_id") < col("b_id"))
        .localCheckpoint()
    })

  /** SemDeDup-style semantic dedup (cluster-then-confirm, after Abbas et
    * al. 2023): embeddings that land in the same TRAINED coarse cell and
    * confirm at cosine >= 0.4 are semantic duplicates; the keep-list
    * retains a vector iff it has no confirmed dup with a smaller id (the
    * deterministic greedy rule — within a dup chain the lowest id
    * survives). Pairs are generated ONLY within a cell via the capped
    * bucket join ([[pairCandidates]]): at 100 TB the cost is Σ|cell|²
    * bounded by the cap and the trained cells' balance, never corpus².
    * Reuses the memoized [[ivfTrainedRanked]] scan — the quantizer is
    * trained once and serves assignment, search, AND dedup. Threshold
    * 0.4 for the same near-orthogonal-synthetic-data reason as
    * [[embeddingNearDup]]. Recall envelope (IvfRecallSpec measures it):
    * within-cell behavior is EXACT vs brute force, and cross-cell pairs
    * are the designed loss — 17/66 truth pairs share a cell at sf0.001,
    * because 0.4-cosine pairs on near-orthogonal synthetic vectors are
    * weak associations scattered across cells. Real SemDeDup operates
    * at near-dup thresholds (~0.95 on real embeddings) where duplicate
    * groups concentrate inside one cell; for cross-bucket coverage at
    * lower thresholds use [[embeddingNearDup]] (LSH buckets are
    * similarity-keyed, not partition-of-space). */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame = {
    // the keep-list join needs only (vec_id, cell) — straight off the
    // memoized trained ranking, no second embeddings scan
    val homeCells = homeOf(ivfTrainedRanked(spark, dir))
    val dups = semanticPairsAll(spark, dir)
      .filter(col("sim") >= 0.4)
    // a vector's dup-with-smaller-id count arrives on the b side (a < b)
    val nSmaller = dups.groupBy(col("b_id").as("vec_id"))
      .agg(count(lit(1)).as("n_dups_smaller"))
    homeCells
      .join(nSmaller, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("n_dups_smaller"), lit(0L)).as("n_dups_smaller"),
        (coalesce(col("n_dups_smaller"), lit(0L)) === 0).cast("int").as("keep"))
  }

  /** The semantic curve's τ grid in micro-units. */
  private[graft] val SemanticCurveTaus =
    Seq(200000L, 300000L, 400000L, 500000L, 600000L, 700000L)

  /** SemDeDup THRESHOLD CURVE — the tuning knob behind
    * [[semanticDedup]]'s fixed τ = 0.4, the [[Dedup.thresholdCurve]]
    * idiom applied to the semantic family: for τ ∈ {0.2 .. 0.7} (grid
    * in exact micro-units, the comparison value derived as
    * CAST(τµ AS DOUBLE)/1e6 IDENTICALLY on both engines — correctly-
    * rounded division, so each grid point is the same double the
    * literal would parse to), count surviving in-cell pairs and the
    * docs the min-id rule would drop, plus the corpus drop share. The
    * τ=0.4 row's n_drop is BY CONSTRUCTION dedup_semantic's keep=0
    * count (SemanticCurveSpec pins it). One un-thresholded pair frame
    * × a 6-row broadcast grid, one groupBy — the same cell-bounded
    * candidate volume as the dedup itself, swept for free. */
  def semanticCurve(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val grid = SemanticCurveTaus.toDF("tau_micro")
      .withColumn("tau", col("tau_micro").cast("double") / lit(1e6))
    val pairs = semanticPairsAll(spark, dir)
    val nVec = Tables.embeddings(spark, dir).agg(count(lit(1)).as("n_vec"))
    val counted = pairs.crossJoin(broadcast(grid))
      .filter(col("sim") >= col("tau"))
      .groupBy("tau_micro")
      .agg(count(lit(1)).as("n_pairs"), countDistinct("b_id").as("n_drop"))
    grid.select("tau_micro").join(counted, Seq("tau_micro"), "left")
      .crossJoin(broadcast(nVec))
      .withColumn("n_pairs", coalesce(col("n_pairs"), lit(0L)))
      .withColumn("n_drop", coalesce(col("n_drop"), lit(0L)))
      .withColumn("drop_frac_micro", expr("(n_drop * 1000000) div n_vec"))
      .select("tau_micro", "n_pairs", "n_drop", "drop_frac_micro")
      .orderBy("tau_micro")
  }

  /** Matryoshka (MRL-style) prefix-truncation recall — the dimension-
    * adaptive serving trick (Kusupati et al., "Matryoshka Representation
    * Learning", NeurIPS'22): rank with only the FIRST 16 of 64 dims
    * (4× less memory bandwidth and ADC work; no re-encoding, unlike
    * [[randProj]]'s learned-free JL mix or [[quantize]]'s int8 codes —
    * the prefix IS the compressed vector) and measure top-3 recall vs
    * the full-dimension exact ground truth on the fixed probe sample.
    * Same probe-bounded brute-force shape as the other recall harnesses;
    * prefix cosine is dot/(√n2·√qn2) with BOTH factors computed the
    * identical way in the oracle (no list_cosine_similarity on the
    * prefix — the denominators must be the same doubles). Synthetic
    * embeddings are NOT MRL-trained, so this measures the untrained
    * floor — the harness exists so a trained checkpoint's gain is
    * measurable, same contract as the IVF recall cliff. */
  def matryoshkaRecallEval(spark: SparkSession, dir: String,
                           probeN: Long = ProbeN): DataFrame =
    // memoized 1-row result ("matrecall", owner sim_eval_frontier —
    // the jlrecall rule, round 20)
    CkptMemo.getOrElseUpdate((spark, dir, "matrecall", probeN), {
      val pre = Tables.embeddings(spark, dir)
        .select(col("vec_id"), slice(col("embedding"), 1, 16).as("pv"))
        .withColumn("pn2", dotCols(col("pv"), col("pv")))
      val qp = pre.filter(probeSample(probeN, col("vec_id")))
        .select(col("vec_id").as("a_id"), col("pv").as("qpv"),
                col("pn2").as("qpn2"))
      approxRecall(spark, dir, probeN, probeRanked(pre, qp,
        when(col("pn2") === 0.0 || col("qpn2") === 0.0, lit(-2.0))
          .otherwise(Num.rnd(dotCols(col("pv"), col("qpv")) /
                       (sqrt(col("pn2")) * sqrt(col("qpn2"))), 6)), TopK))
    })

  /** Semantic-dedup recall eval — the FOURTH eval harness (sketch:
    * [[Dedup.minhashEval]]; index: [[ivfRecallEval]]/[[nprobeSweep]];
    * compression: [[int8RecallEval]]; this one: the DEDUP DECISION).
    * SemDeDup only compares within a trained cell, so a true near-dup
    * pair split across a cell boundary is never dropped — this harness
    * puts a number on that loss. On the fixed probe sample: truth =
    * probes with ANY smaller-id neighbor at cosine ≥ 0.4 anywhere in
    * the corpus (one broadcast of the probe table against one streamed
    * corpus pass); predicted = [[semanticDedup]]'s keep=0 probes.
    * Precision is 1.0 BY CONSTRUCTION (a same-cell drop pair is a true
    * pair — SemanticDedupEvalSpec pins it), so recall_micro is the
    * single operative number: raise cells → more boundary loss, fewer
    * comparisons; the dedup-side mirror of the nprobe trade. */
  def semanticDedupEval(spark: SparkSession, dir: String,
                        probeN: Long = ProbeN): DataFrame = {
    val sem = semanticDedup(spark, dir).filter(probeSample(probeN, col("vec_id")))
      .select(col("vec_id"), col("keep"))
    val emb = embWithNrm(spark, dir)
    val q = probeVecs(emb, probeN)
    val truth = fanOut(emb).crossJoin(broadcast(q))
      .filter(col("vec_id") < col("a_id"))
      .filter(cosineToProbe >= 0.4)
      .select("a_id").distinct()
    dedupDecisionEval(sem, truth)
  }

  /** [[semanticDedupEval]]'s metric row over (vec_id, keep) decisions
    * and the truly-duplicated probe ids (a_id). Precision is 1e6 on an
    * empty prediction: no drop makes no false drop. */
  private[graft] def dedupDecisionEval(sem: DataFrame,
                                       truth: DataFrame): DataFrame = {
    val pred = sem.filter(col("keep") === 0).select(col("vec_id").as("a_id"))
    countRow(sem -> "n_probes", truth -> "n_truth", pred -> "n_pred",
        pred.join(truth, Seq("a_id")) -> "n_hit")
      .select(col("*"),
        Num.micro("n_hit", "n_truth", 1000000L).as("recall_micro"),
        Num.micro("n_hit", "n_pred", 1000000L).as("precision_micro"))
  }

  /** INCREMENTAL assignment against a FROZEN index — the ANN face of
    * [[Dedup.incrementalMinhash]]'s daily-append contract: the
    * quantizer is trained on the EXISTING corpus half only (vec_id <
    * n/2 — the CountMemo split contract; 250 at sf0.01 = the static
    * oracle's literal), then every new vector is assigned to its
    * nearest frozen centroid. The batch never triggers a corpus rescan
    * and the index never moves under the batch's feet (retraining is a
    * separate scheduled job — [[ivfTrainIter]]); per-drop cost is
    * |batch| × cells regardless of corpus size, the same O(|batch|)
    * contract as the dedup signature screen. Seed cells come from the
    * corpus half by the same [[ivfCells]] clamp (16 at n=250 — floor
    * of the clamp, so the oracle's literal holds). */
  def ivfIncrementalAssign(spark: SparkSession, dir: String): DataFrame = {
    val split = embCount(spark, dir) / 2
    assignToCentroids(
      Tables.embeddings(spark, dir).filter(col("vec_id") >= split),
      frozenBaseCentroids(spark, dir))
  }

  /** The FROZEN base-half quantizer (seeds < ivfCells(n/2), one Lloyd
    * step on the base snapshot) — the centroid table
    * [[ivfIncrementalAssign]] and [[graft.streaming.VecStream]]'s
    * continuous assignment both serve against. Model-sized. */
  private[graft] def frozenBaseCentroids(spark: SparkSession,
                                         dir: String): DataFrame =
    // model-sized and consumed by EVERY incremental/upsert/stream
    // assignment path (seven batch callers + three streams) — each used
    // to re-run the base-half Lloyd step; memoized once per (session,
    // dir) (memo "frozencents", owner sim_ivf_incremental_assign in
    // Bench's list; VERDICT r18 item 2)
    CkptMemo.getOrElseUpdate((spark, dir, "frozencents"), {
      val split = embCount(spark, dir) / 2
      val corpus = embWithNrm(spark, dir).filter(col("vec_id") < split)
      centroidTable(lloydStep(fanOut(corpus),
          seedCentroids(corpus, ivfCells(split)))).localCheckpoint()
    })

  /** Nearest-frozen-centroid assignment for an arbitrary (vec_id,
    * embedding, …) batch — per-vector independent, so micro-batch
    * streaming ≡ one-shot batch at any arrival split. Bounded top-1
    * aggregate (the ivfAssignRanked discipline — no window sort). */
  private[graft] def assignToCentroids(batch: DataFrame,
                                       cents: DataFrame): DataFrame =
    nearestCell(rankCells(fanOut(batch.select(col("vec_id"), col("embedding"),
      sqrt(dotCols(col("embedding"), col("embedding"))).as("nrm"))), cents))

  /** Training convergence: squared distance each cell's centroid moved in
    * the Lloyd step (seed → trained) — the metric that tells a pipeline
    * when to stop iterating. Per-dim squared diffs are stored as INTEGER
    * pico-units (round(d²·1e12) as long, ≤ 4e12 each, 64 per cell — far
    * inside Long), so the per-cell sum is exact integer arithmetic,
    * immune to summation order (the text_unigram_logprob discipline).
    * One broadcast join on (cell, pos) + one agg. */
  def ivfTrainDelta(spark: SparkSession, dir: String): DataFrame = {
    val seed = seedLongForm(Tables.embeddings(spark, dir),
      ivfCells(embCount(spark, dir))).withColumnRenamed("m", "sv")
    val diff = col("m") - col("sv")
    ivfTrain(spark, dir)
      .join(seed, Seq("cell", "pos"))
      .select(col("cell"),
              round(diff * diff * lit(1e12)).cast("long").as("t"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_dims"),
           Num.rnd(sum("t").cast("double") / lit(1e12), 6).as("d2"))
      .withColumn("moved", (col("d2") > 0).cast("int"))
      .orderBy("cell")
  }

  /** Total Lloyd steps the iterated trainer runs (counting the seed→1
    * step that [[ivfTrain]] IS), unless movement hits zero earlier.
    * STATIC so the unrolled-CTE oracle encodes the same depth; the
    * early-stop never fires on random float testdata (IvfTrainIterSpec
    * pins d2 > 0 for every executed round at sf0.01 — the lockstep
    * guard, same discipline as the adaptive index knobs). */
  private[graft] val LloydMaxRounds = 3

  /** The seed centroids in long form (cell, pos, m): the first `cells`
    * vectors' raw elements as doubles — Lloyd round 0. */
  private def seedLongForm(embRaw: DataFrame, cells: Int): DataFrame =
    embRaw.filter(col("vec_id") < cells)
      .select(col("vec_id").as("cell"), posexplode(col("embedding")))
      .select(col("cell"), col("pos").cast("int").as("pos"),
              col("col").cast("double").as("m"))

  /** One Lloyd step against arbitrary centroids: nearest-centroid assign
    * (6-dp-rounded cosine, ties to the lower cell — identical on both
    * engines) + 6-dp-rounded element-wise means via vecMean. `emb` must
    * carry (vec_id, embedding, nrm). A centroid that captures no vectors
    * simply vanishes from the next round's table — identically on both
    * engines, since assignments are identical. */
  private def lloydStep(emb: DataFrame, cents: DataFrame): DataFrame =
    // nearest-centroid assignment via the bounded top-1 aggregate (the
    // ivfAssignRanked discipline): map-side combine, no n×cells sort —
    // this is the per-round scan the iterated trainer pays LloydMaxRounds
    // times, so the window form's spill multiplied with rounds
    cellMeans(emb, nearestCell(rankCells(emb, cents)).select("vec_id", "cell"))

  /** The Lloyd mean half, shared by [[ivfTrain]] (under the memoized
    * stub assignment) and [[lloydStep]]: each cell's element-wise
    * [[vecMean]] of its (vec_id, embedding) members under a (vec_id,
    * cell) assignment, in long form (cell, pos, m) at 6 dp. */
  private def cellMeans(emb: DataFrame, asg: DataFrame): DataFrame =
    meanLongForm(
      emb.select("vec_id", "embedding").join(asg, Seq("vec_id"))
        .groupBy("cell")
        .agg(vecMean(col("embedding")).as("mv")),
      "cell")

  /** The full Lloyd trajectory, memoized: (iter, cell, pos, m) for
    * iter = 0 (seed centroids, raw doubles) through the last executed
    * round (6-dp-rounded means). Round 1 is the memoized [[ivfTrain]]
    * result; rounds 2..[[LloydMaxRounds]] re-assign against the previous
    * round's centroids and recompute. Lifecycle — deliberately NOT the
    * one-frame-at-a-time rule of the CC loop
    * ([[Graph.connectedComponents]]): the output IS the union of
    * every round, so each round's checkpoint must stay cached until the
    * final trajectory materializes (a localCheckpoint has no lineage to
    * recompute from; freeing round k early would corrupt the union).
    * That is safe because a round is centroids only — cells×64 rows,
    * ~2 MB at the 4096-cell clamp — so even all [[LloydMaxRounds]]
    * rounds together are broadcast-scale; ALL loop checkpoints are freed
    * in one sweep after the (also tiny) trajectory checkpoint exists
    * (never ivfTrain's own — other queries retain it). The CC loop's rule
    * applies when rounds are corpus-sized; do not "fix" this loop to
    * match it. localCheckpoint per round still bounds plan depth. Early
    * stop when a round moves no centroid (max per-(cell,pos) pico-diff
    * = 0 — exact integer compare of 6-dp-rounded values, no fp
    * tolerance). Cost per round at any scale: one n×cells
    * broadcast-compare + one vecMean shuffle — the 100 TB shape. */
  private[graft] def lloydTrajectoryOf(embRaw: DataFrame, cells: Int,
                                       round1: Option[DataFrame]): DataFrame = {
    val emb = fanOut(embRaw
        .select(col("vec_id"), col("embedding"),
                sqrt(dotCols(col("embedding"), col("embedding"))).as("nrm")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val seed = seedLongForm(embRaw, cells)
    var acc = seed.withColumn("iter", lit(0))
    // round 1: the caller's memoized ivfTrain result in production (not
    // ours to free); computed from the seed centroids when absent (spec
    // path) — semantically identical (same assign + mean step)
    var cur = round1.getOrElse(lloydStep(emb, centroidTable(seed)).localCheckpoint())
    acc = acc.unionByName(cur.withColumn("iter", lit(1)))
    val loopRdds = scala.collection.mutable.ListBuffer
      .empty[Option[org.apache.spark.rdd.RDD[_]]]
    if (round1.isEmpty)
      loopRdds += org.apache.spark.sql.GraftSql.checkpointRdd(cur)
    var iterN = 1
    var moved = true
    while (moved && iterN < LloydMaxRounds) {
      val next = lloydStep(emb, centroidTable(cur)).localCheckpoint()
      loopRdds += org.apache.spark.sql.GraftSql.checkpointRdd(next)
      val maxT = next
        .join(cur.withColumnRenamed("m", "pm"), Seq("cell", "pos"))
        .select(round((col("m") - col("pm")) * (col("m") - col("pm")) *
                        lit(1e12)).cast("long").as("t"))
        .agg(max("t")).head()
      moved = !maxT.isNullAt(0) && maxT.getLong(0) > 0
      iterN += 1
      acc = acc.unionByName(next.withColumn("iter", lit(iterN)))
      cur = next
    }
    val out = acc.select("iter", "cell", "pos", "m").localCheckpoint()
    loopRdds.foreach(_.foreach(_.unpersist(false))) // out owns the data now
    emb.unpersist()
    out
  }

  private def lloydRounds(spark: SparkSession, dir: String): DataFrame =
    CkptMemo.getOrElseUpdate((spark, dir, "lloydrounds"),
      lloydTrajectoryOf(
        Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")),
        ivfCells(embCount(spark, dir)),
        Some(ivfTrain(spark, dir))))

  /** Converged (or round-capped) trained centroids — the iterated form
    * of [[ivfTrain]] (round-5 verdict task 1). Long form (cell, pos, m),
    * the quantizer a production IVF index would persist. */
  def ivfTrainIter(spark: SparkSession, dir: String): DataFrame = {
    val r = lloydRounds(spark, dir)
    // max(iter) is an action on the tiny checkpointed trajectory — cheap,
    // and this query family is already deliberately eager (memo owner)
    val last = r.agg(max("iter")).head().getInt(0)
    r.filter(col("iter") === last)
      .select("cell", "pos", "m")
      .orderBy("cell", "pos")
  }

  /** Convergence trace: per (round, cell) squared centroid movement in
    * exact integer pico-units (the [[ivfTrainDelta]] discipline), for
    * every executed round — round r compares its centroids to round
    * r-1's (round 1 vs the raw seed). The monotone decrease of the
    * max/sum is what a training pipeline's stop rule watches;
    * IvfTrainIterSpec asserts it on the real trajectory. */
  def ivfTrainHist(spark: SparkSession, dir: String): DataFrame = {
    val r = lloydRounds(spark, dir)
    val prev = r.select((col("iter") + 1).as("iter"), col("cell"),
                        col("pos"), col("m").as("pm"))
    val diff = col("m") - col("pm")
    r.filter(col("iter") >= 1)
      .join(prev, Seq("iter", "cell", "pos"))
      .select(col("iter"), col("cell"),
              round(diff * diff * lit(1e12)).cast("long").as("t"))
      .groupBy("iter", "cell")
      .agg(count(lit(1)).as("n_dims"),
           Num.rnd(sum("t").cast("double") / lit(1e12), 6).as("d2"))
      .withColumn("moved", (col("d2") > 0).cast("int"))
      .orderBy("iter", "cell")
  }

  /** Per-source embedding centroids (element-wise mean) in long form
    * (source, pos, m) — the distributed reduce a clustering / domain-
    * analysis stage needs: ONE shuffle by source carrying per-partition
    * vecMean buffers (not 64× exploded rows), 64 dims × n_sources rows
    * out. Elements rounded at 6 dp for the cross-engine check. */
  def centroidBySource(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val src = Tables.documents(spark, dir)
      .select(col("doc_id").as("vec_id"), col("source"))
    meanLongForm(
      emb.join(src, Seq("vec_id"))
        .groupBy("source")
        .agg(vecMean(col("embedding")).as("mv")),
      "source")
      .orderBy("source", "pos")
  }

  /** Int8-style scalar quantization per vector (min-max to 0..255) — the
    * storage-compression step before ANN indexing at 100 TB. Pure
    * per-row HOFs, zero shuffle. floor (not round) avoids the half-way
    * rounding-mode divergence between engines; codes are emitted as a
    * CSV string so the comparison is exact integers. Degenerate vectors
    * (mx == mn) quantize to all-zero. */
  def quantize(spark: SparkSession, dir: String): DataFrame = {
    val mn = array_min(col("embedding")).cast("double")
    val mx = array_max(col("embedding")).cast("double")
    val codes = transform(col("embedding"), v =>
      least(lit(255L), floor((v.cast("double") - col("mn")) /
                             (col("mx") - col("mn")) * 255)).cast("int"))
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), mn.as("mn"), mx.as("mx"))
      .select(col("vec_id"),
              Num.rnd(col("mn"), 6).as("mn_r"),
              Num.rnd(col("mx"), 6).as("mx_r"),
              when(col("mx") > col("mn"), concat_ws(",", codes))
                .otherwise(concat_ws(",",
                  transform(col("embedding"), _ => lit(0)))).as("codes"))
  }

  /** Milli-quantized centered element frame for [[pcaPower]] —
    * (vec_id, pos, c) with c = round(x·1e3) − integer-mean(pos), all
    * BIGINT. Materialized once per (session, dir): the two power rounds
    * reference it four times (two matvecs each). Eager-memoized (NOT in
    * PlanShapeSpec's laziness allowlist; Bench owner: emb_pca_power). */
  private def pcaCentered(spark: SparkSession, dir: String): DataFrame =
    CkptMemo.getOrElseUpdate((spark, dir, "pcace"), {
      val ce0 = Tables.embeddings(spark, dir)
        .select(col("vec_id"), posexplode(col("embedding")))
        .select(col("vec_id"), col("pos").cast("int").as("pos"),
                round(col("col").cast("double") * lit(1e3)).cast("long").as("t"))
      // integer mean via sign-split division: `div` truncates toward
      // zero on Spark while DuckDB's // floors — they agree only on
      // non-negative operands, so divide |s| and re-apply the sign
      val means = ce0.groupBy("pos")
        .agg(sum("t").as("s"), count(lit(1)).as("n"))
        .select(col("pos"),
                (when(col("s") < 0, lit(-1L)).otherwise(lit(1L)) *
                  expr("abs(s) div n")).as("mean"))
      ce0.join(broadcast(means), Seq("pos"))
        .select(col("vec_id"), col("pos"), (col("t") - col("mean")).as("c"))
        .localCheckpoint()
    })

  /** Top principal component by distributed power iteration — two
    * Pregel-ish matvec rounds (x ↦ CᵀCx) over the milli-quantized,
    * integer-centered element frame, renormalizing the iterate to
    * max|v| = 100 between rounds. EVERY operation is BIGINT arithmetic
    * (products ≤ ~8.5·10⁹·n — within int64 to ~10⁹ rows), so the
    * eigenvector estimate is exactly reproducible across engines,
    * partitionings, and reruns — the property float PCA can never give
    * an oracle. Shape per half-round: one |elements|-row join + one
    * aggregation, state = |dims| or |rows| scalars; the classic
    * map-reduce PCA at any scale. Sign is pinned by the all-ones start
    * vector. */
  def pcaPower(spark: SparkSession, dir: String): DataFrame =
    CkptMemo.getOrElseUpdate((spark, dir, "pcav2"), {
      val ce = pcaCentered(spark, dir)
      val s1 = ce.groupBy("vec_id").agg(sum("c").as("sc")) // v0 = all-ones
      val u1 = ce.join(s1, Seq("vec_id"))
        .groupBy("pos").agg(sum(col("c") * col("sc")).as("u1"))
      val v1 = normPow(u1, "u1", "v1").select("pos", "v1")
      val s2 = ce.join(broadcast(v1), Seq("pos"))
        .groupBy("vec_id").agg(sum(col("c") * col("v1")).as("sc"))
      val u2 = ce.join(s2, Seq("vec_id"))
        .groupBy("pos").agg(sum(col("c") * col("sc")).as("u2"))
      // memoized (64 rows): emb_pca_project and the deflated second
      // component reference the learned v2 several times each — without
      // the checkpoint every reference re-runs both matvec rounds
      normPow(u2, "u2", "v2").orderBy("pos").localCheckpoint()
    })

  /** Renormalize a power iterate to max|v| = 100 — exact integer
    * division with the sign split (Spark `div` truncates toward zero,
    * DuckDB `//` floors; they agree only on non-negative operands). */
  private def normPow(u: DataFrame, ucol: String, vcol: String): DataFrame = {
    val m = u.agg(max(abs(col(ucol))).as("m"))
    u.crossJoin(broadcast(m))
      .select(col("pos"), col(ucol),
              (when(col(ucol) < 0, lit(-1L)).otherwise(lit(1L)) *
                expr(s"(abs($ucol) * 100) div m")).as(vcol))
  }

  /** Top-2 PCA by DEFLATED power iteration — extends [[pcaPower]] to the
    * second component with the SAME exact-int64 discipline: after every
    * renormalization the iterate t is orthogonalized against the learned
    * top component v at the ITERATE level, multiplied through by
    * vv = Σv² so no division (and no float) ever enters:
    * w = t·vv − (t·v)·v. Orthogonalizing the 64-scalar iterate (not the
    * n×64 matrix) keeps every magnitude inside [[pcaPower]]'s published
    * bounds — |t| ≤ 100 after renorm, so |w| ≤ 100·vv + 64·100²·100 ≈
    * 1.3e8 and the matvec products stay ≤ ~6.4e9·n, exactly the
    * ~10⁹-row int64 envelope of the first component (matrix-level
    * deflation would have squared it). Two rounds from the
    * v-orthogonalized all-ones start, renormalize → orthogonalize →
    * renormalize per round; truncation keeps w only approximately
    * v-orthogonal — PcaSpec bounds the residual angle. Eager by
    * construction (iterates localCheckpoint per step, the lloydrounds
    * discipline — 64-row frames, constant plan depth). */
  def pcaTop2(spark: SparkSession, dir: String): DataFrame = {
    val ce = pcaCentered(spark, dir)
    val v2 = pcaPower(spark, dir).select(col("pos"), col("v2"))
    val vq = v2.agg(sum(col("v2") * col("v2")).as("vv"),
                    sum(col("v2")).as("sv"))
    def renorm(u: DataFrame, ucol: String, out: String): DataFrame =
      normPow(u, ucol, out).select(col("pos"), col(out)).localCheckpoint()
    def orthog(t: DataFrame, tcol: String, out: String): DataFrame = {
      val tv = t.join(v2, Seq("pos"))
        .agg(sum(col(tcol) * col("v2")).as("tv"))
      renorm(
        t.join(v2, Seq("pos")).crossJoin(broadcast(vq)).crossJoin(broadcast(tv))
          .select(col("pos"),
                  (col(tcol) * col("vv") - col("tv") * col("v2")).as("g")),
        "g", out)
    }
    // v-orthogonalized all-ones start: g = 1·vv − (Σv)·v
    val g1 = renorm(
      v2.crossJoin(broadcast(vq))
        .select(col("pos"), (col("vv") - col("sv") * col("v2")).as("g")),
      "g", "v")
    def round(vin: DataFrame, out: String): DataFrame = {
      val s = ce.join(broadcast(vin), Seq("pos"))
        .groupBy("vec_id").agg(sum(col("c") * col("v")).as("sc"))
      val u = ce.join(s, Seq("vec_id"))
        .groupBy("pos").agg(sum(col("c") * col("sc")).as("u"))
      orthog(renorm(u, "u", "t"), "t", out)
    }
    val w1 = round(g1, "v")
    val w2 = round(w1, "w2")
    v2.join(w2, Seq("pos")).orderBy("pos")
  }

  /** Project every embedding onto the learned top component — the
    * "apply" half of [[pcaPower]]'s "train" (the same closure the IVF
    * family has in train → assign_trained → topk_trained): score_i =
    * Σ_j c_ij·v2_j, exact BIGINT, one |elements|-row join + one agg.
    * The score is the 1-D reduction a curation pipeline bands, samples,
    * or drift-monitors on. */
  def pcaProject(spark: SparkSession, dir: String): DataFrame = {
    val v2 = pcaPower(spark, dir).select(col("pos"), col("v2"))
    val sc = pcaCentered(spark, dir).join(broadcast(v2), Seq("pos"))
      .groupBy("vec_id").agg(sum(col("c") * col("v2")).as("score"))
    Tables.embeddings(spark, dir).select(col("vec_id"), col("label"))
      .join(sc, Seq("vec_id"))
  }

  /** Per-dimension z-score whitening — the normalize-before-index step
    * an embed stage runs so no dimension's scale dominates distances:
    * z = (x − μ_pos)/σ_pos using [[dimStats]]' EXACT-moment, 6-dp-rounded
    * mean/variance (identical doubles cross-engine), so every z is a
    * fixed tree of exactly-rounded IEEE ops. Dead dimensions
    * (var = 0) are dropped — mirrored in the oracle's WHERE. Broadcast
    * of the |dims|-row stats frame; zero extra shuffles beyond the
    * moments pass. */
  def whiten(spark: SparkSession, dir: String): DataFrame =
    whitenOf(Tables.embeddings(spark, dir))

  /** [[whiten]] over any (vec_id, embedding) frame — standalone so specs
    * can drive it on crafted fixtures (scale-inflated dimensions). */
  private[graft] def whitenOf(embRaw: DataFrame): DataFrame = {
    val st = dimStatsOf(embRaw)
      .select(col("pos"), col("mean"), col("var_samp"))
      .filter(col("var_samp") > 0)
    embRaw
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").cast("int").as("pos"),
              col("col").cast("double").as("x"))
      .join(broadcast(st), Seq("pos"))
      .select(col("vec_id"), col("pos"),
        // + 0.0 normalizes IEEE −0.0 → +0.0: zero-centered outputs can
        // round to a signed zero, and DuckDB's float round keeps the
        // sign where Spark's BigDecimal round does not (mirrored oracle)
        (Num.rnd((col("x") - col("mean")) / sqrt(col("var_samp")), 4)
          + lit(0.0)).as("z"))
  }

  /** Coarse IVF assignment over WHITENED vectors — closes the
    * train→apply loop the [[whiten]] docstring promises: normalize so no
    * dimension's raw scale dominates distances, THEN build the index.
    * The z-scores (4-dp, negative-zero-normalized — identical doubles
    * cross-engine) are collected back to position-sorted arrays
    * (dead dims dropped consistently on every vector, so arrays stay
    * aligned), and the seed quantizer (vec_id < cells, [[ivfCells]] via
    * the memoized count — 16 at the oracle's n=500) assigns by rounded
    * cosine with the [[ivfAssignRanked]] tie-break. Cosines of
    * zero-centered vectors CAN round to a signed zero, so csim gets the
    * `+ 0.0` normalization (CLAUDE.md float rule). Scale shape: one
    * 64-group stats shuffle + one |n|-group collect + a broadcast
    * cells×64 crossJoin — the same n×cells scan as every assign in the
    * family; whitening is per-dimension (mean, σ) so the stats frame is
    * |dims| rows no matter the corpus size. WhitenIndexSpec pins the
    * capability claim: whitened assignment is invariant under
    * per-dimension scale inflation while raw-cosine assignment is not. */
  def ivfAssignWhitened(spark: SparkSession, dir: String): DataFrame =
    ivfAssignWhitenedOf(whiten(spark, dir), ivfCells(embCount(spark, dir)))

  private[graft] def ivfAssignWhitenedOf(whitened: DataFrame,
                                         cells: Int): DataFrame = {
    val wv = whitened.groupBy("vec_id")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("z")))),
                     x => x.getField("z")).as("embedding"))
      .withColumn("nrm", sqrt(dotCols(col("embedding"), col("embedding"))))
    // the [[rankCells]] scan plus csim's `+ 0.0` signed-zero rule
    nearestCell(wv.crossJoin(broadcast(seedCentroids(wv, cells)))
      .select(col("vec_id"),
        (Num.rnd(dotCols(col("embedding"), col("cv")) /
                   (col("nrm") * col("cnrm")), 6) + lit(0.0)).as("csim"),
        col("cell"))
      .groupBy("vec_id")
      .agg(topNProbe(col("csim"), col("cell")).as("tk")))
  }

  /** Per-dimension corpus statistics (n, mean, sample variance, min,
    * max) — the embed-stage health check that catches dead dimensions
    * (var ≈ 0), collapsed scales, and outlier dims before an index is
    * trained on them. Moments are EXACT integers: each element is
    * quantized once (x·1e6 and x²·1e12, rounded to BIGINT — identical
    * scalar ops both engines) and summed into DECIMAL(38,0) accumulators
    * (no overflow until ~10^25 absolute mass — comfortable at 100 TB,
    * where a plain BIGINT second-moment sum overflows past ~6·10^5
    * rows), so results are invariant to partitioning, parallelism, and
    * summation order — the text_unigram_logprob discipline applied to
    * doubles. One shuffle (64 groups), partial aggregation map-side. */
  def dimStats(spark: SparkSession, dir: String): DataFrame =
    dimStatsOf(Tables.embeddings(spark, dir))

  /** [[dimStats]] over any (vec_id, embedding) frame — standalone so
    * specs can drive it on crafted fixtures. */
  private[graft] def dimStatsOf(embRaw: DataFrame): DataFrame = {
    embRaw
      .select(posexplode(col("embedding")))
      .select(col("pos").cast("int").as("pos"), col("col").cast("double").as("x"))
      .select(col("pos"), col("x"),
        round(col("x") * lit(1e6)).cast("decimal(38,0)").as("t1"),
        round(col("x") * col("x") * lit(1e12)).cast("decimal(38,0)").as("t2"))
      .groupBy("pos")
      .agg(count(lit(1)).as("n"), sum("t1").as("s1"), sum("t2").as("s2"),
           min("x").as("mnx"), max("x").as("mxx"))
      .select(col("pos"), col("n"),
        Num.rnd(col("s1").cast("double") / lit(1e6) / col("n"), 6).as("mean"),
        Num.rnd((col("s2").cast("double") / lit(1e12) -
                 (col("s1").cast("double") / lit(1e6)) *
                   (col("s1").cast("double") / lit(1e6)) / col("n"))
                  / (col("n") - 1), 6).as("var_samp"),
        Num.rnd(col("mnx"), 6).as("mn"),
        Num.rnd(col("mxx"), 6).as("mx"))
      .orderBy("pos")
  }

  /** Corpus-level embedding ANISOTROPY — the one-number geometry check
    * next to [[dimStats]]' per-dimension view (Ethayarajh's finding:
    * contextual embeddings concentrate in a narrow cone; an anisotropic
    * space makes raw cosine similarity uninformative and argues for
    * centering/whitening before indexing — this is the number that
    * justifies [[whiten]]): aniso = ‖μ‖² / E‖x‖², the expected cosine
    * between two random vectors when norms are comparable — 0 for a
    * centered isotropic cloud, →1 as the cone collapses. EXACT-INTEGER
    * discipline throughout: elements quantized once (x·1e6, x²·1e12 —
    * the dimStats rule) into DECIMAL(38) sums (s1² reaches ~10²⁰ at
    * corpus scale — far past BIGINT; DECIMAL(38)/HUGEINT carry it to
    * ~10³⁸), then three non-negative integral divisions. One shuffle
    * (64 groups) + a 64-row final agg; single output row at any
    * scale. */
  def isotropy(spark: SparkSession, dir: String): DataFrame = {
    val g = Tables.embeddings(spark, dir)
      .select(posexplode(col("embedding")))
      .select(col("pos"), col("col").cast("double").as("x"))
      .select(col("pos"),
        round(col("x") * lit(1e6)).cast("decimal(38,0)").as("t1"),
        round(col("x") * col("x") * lit(1e12)).cast("decimal(38,0)").as("t2"))
      .groupBy("pos")
      .agg(count(lit(1)).as("n"), sum("t1").as("s1"), sum("t2").as("s2"))
    g.agg(max("n").as("n"), count(lit(1)).as("n_dims"),
          sum(expr("s1 * s1")).as("num"), sum("s2").as("den"))
      .select(col("n"), col("n_dims"),
        expr("CAST(den div (CAST(n AS DECIMAL(38,0)) * 1000000) AS BIGINT)")
          .as("mean_norm_sq_micro"),
        expr("CAST(num div (CAST(n AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0)) " +
             "* 1000000) AS BIGINT)").as("mu_norm_sq_micro"),
        expr("CAST((num * 1000000) div (CAST(n AS DECIMAL(38,0)) * den) " +
             "AS BIGINT)").as("aniso_micro"))
  }

  /** Per-dimension EMBEDDING DRIFT between ingest batches — the
    * index-health check a production vector store runs before deciding
    * whether yesterday's trained quantizer still fits today's data
    * (encoder version bumps and corpus mix changes move the embedding
    * distribution; a drifted dimension silently degrades IVF recall).
    * Batch split = vec_id < n/2 via [[CountMemo]] (reproduces the
    * oracle's literal 250 at sf0.01 — the dedup_incremental contract);
    * per batch, each dim's mean via the [[dimStats]] discipline
    * (element micronized once to BIGINT, DECIMAL(38) sums —
    * order-invariant), drift = mean_new − mean_ref in integer micro
    * units, flagged at |drift| ≥ 0.1 (literal 100000 µ, lockstep).
    * Means get `+ 0.0` after the round (the emb_whiten signed-zero
    * rule — they are zero-centered quantities). |dims| rows at any
    * corpus scale. */
  def driftReport(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    driftReportOf(emb, CountMemo.get(spark, dir, "embeddings")(emb.count()) / 2)
  }

  /** [[driftReport]] over any (vec_id, embedding) frame with an explicit
    * split — standalone so DriftSpec can drive the shifted-flag path on
    * a crafted genuinely-drifted fixture (the natural corpus drifts
    * ±0.03, under the 0.1 flag). */
  private[graft] def driftReportOf(emb: DataFrame, split: Long): DataFrame = {
    def half(df: org.apache.spark.sql.DataFrame) = df
      .select(posexplode(col("embedding")))
      .select(col("pos").cast("int").as("pos"),
              col("col").cast("double").as("x"))
      .select(col("pos"),
              round(col("x") * lit(1e6)).cast("decimal(38,0)").as("t1"))
      .groupBy("pos")
      .agg(count(lit(1)).as("n"), sum("t1").as("s1"))
    val ref = half(emb.filter(col("vec_id") < split))
      .select(col("pos"), col("n").as("n_ref"), col("s1").as("sr"))
    val neu = half(emb.filter(col("vec_id") >= split))
      .select(col("pos"), col("n").as("n_new"), col("s1").as("sn"))
    ref.join(neu, Seq("pos"))
      .select(col("pos"), col("n_ref"), col("n_new"),
        (Num.rnd(col("sr").cast("double") / lit(1e6) / col("n_ref"), 6) +
          lit(0.0)).as("mean_ref"),
        (Num.rnd(col("sn").cast("double") / lit(1e6) / col("n_new"), 6) +
          lit(0.0)).as("mean_new"))
      .withColumn("drift_micro",
        round((col("mean_new") - col("mean_ref")) * lit(1e6)).cast("long"))
      .withColumn("shifted", (abs(col("drift_micro")) >= 100000L).cast("int"))
      .orderBy("pos")
  }

  /** Pairwise cosine similarity between source centroids — domain
    * redundancy analysis over the (tiny) centroid table; the pairwise
    * stage is n_sources², never n². Centroids are the ROUNDED 6-dp
    * means, so both engines fold identical inputs. */
  def centroidSim(spark: SparkSession, dir: String): DataFrame = {
    val cents = centroidBySource(spark, dir)
      .groupBy("source")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
                     x => x.getField("m")).as("c"))
    val a = cents.select(col("source").as("a_src"), col("c").as("ca"))
    val b = cents.select(col("source").as("b_src"), col("c").as("cb"))
    a.crossJoin(b)
      .filter(col("a_src") < col("b_src"))
      .select(col("a_src"), col("b_src"),
              Num.rnd(cosine(col("ca"), col("cb")), 6).as("sim"))
  }

  /** Embedding-quality eval: nearest-label-centroid classification
    * accuracy — assign every vector to the closest of the 10 label
    * centroids (tiny broadcast), report per-label accuracy. The standard
    * "are these embeddings any good" probe a training pipeline runs after
    * an embed stage. Centroids are the ROUNDED per-dim means so both
    * engines fold identical inputs. */
  def labelEval(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    // vecMean yields each label's mean vector directly in dim order — no
    // explode, no collect_list re-assembly; rounded per element at 6 dp
    val cents = emb
      .groupBy(col("label").as("plabel"))
      .agg(vecMean(col("embedding")).as("mv"))
      .select(col("plabel"), transform(col("mv"), v => Num.rnd(v, 6)).as("c"))
    val w = Window.partitionBy("vec_id").orderBy(col("sim").desc, col("plabel").asc)
    emb.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("label"), col("plabel"),
              Num.rnd(cosine(col("embedding"), col("c")), 6).as("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
           sum(when(col("plabel") === col("label"), 1).otherwise(0)).as("n_correct"))
      .withColumn("acc_pct",
        Num.rnd(lit(100.0) * col("n_correct") / col("n"), 2))
      .orderBy("label")
  }

  /** kNN majority-vote classifier eval — the second standard label
    * benchmark next to [[labelEval]]'s nearest-centroid: predict each
    * vector's label as the MAJORITY label of its [[ivfTopK]] neighbors
    * (ties label-ascending, the cellPurity rule), report per-label
    * accuracy. Centroid eval measures global cluster separation; kNN
    * eval measures LOCAL neighborhood consistency — embeddings can pass
    * one and fail the other, and the pair brackets how trustworthy
    * similarity-graph labels are for SemDeDup-style propagation.
    * Composes the production index search (so this also functions as an
    * end-to-end "is the ANN answer label-coherent" check); vectors with
    * zero surviving candidates (possible for a singleton probe set)
    * drop from the denominator on both engines. One |topk|-row join +
    * two aggregations; |labels| output rows at any scale. */
  def knnLabelEval(spark: SparkSession, dir: String): DataFrame = {
    val lbl = Tables.embeddings(spark, dir).select("vec_id", "label")
    val nb = ivfTopK(spark, dir)
      .join(lbl.select(col("vec_id").as("b_id"), col("label").as("nl")),
            Seq("b_id"))
      .groupBy("a_id", "nl").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("a_id").orderBy(col("c").desc, col("nl").asc)
    val pred = nb.withColumn("rn2", row_number().over(w))
      .filter(col("rn2") === 1)
      .select(col("a_id").as("vec_id"), col("nl").as("plabel"))
    lbl.join(pred, Seq("vec_id"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
           sum(when(col("plabel") === col("label"), 1).otherwise(0)).as("n_correct"))
      .withColumn("acc_pct",
        Num.rnd(lit(100.0) * col("n_correct") / col("n"), 2))
      .orderBy("label")
  }

  // ---- product quantization (the compression half of IVF-PQ) ----

  /** PQ geometry: 64-dim vectors split into [[PqSubs]] contiguous
    * subspaces of [[PqSubDim]] dims, each quantized to its nearest of
    * [[PqCodes]] trained sub-centroids — a vector compresses to 8 small
    * codes instead of 256 bytes of floats (Jégou et al. 2011, "Product
    * Quantization for Nearest Neighbor Search"): the storage step that
    * makes a 100 TB embedding store fit hot memory for ANN serving.
    * Sizes are STATIC (the [[NProbe]] discipline) so the oracle encodes
    * the identical codebook at every scale; codebook tables stay
    * broadcast-tiny (8×16 rows) by construction. */
  private[graft] val PqSubs = 8
  private[graft] val PqSubDim = 8
  private[graft] val PqCodes = 16
  private[graft] val PqQueries = 4 // ADC probe set: vec_id < 4

  /** Long-form subvectors (vec_id, sub, sv[8], dxx) of the raw
    * embeddings — [[subvectors]] over the float vectors. */
  private[graft] def pqSubvectors(spark: SparkSession, dir: String): DataFrame =
    subvectors(Tables.embeddings(spark, dir), Seq("vec_id"), col("embedding"))

  /** The one subvector split, for raw vectors and residuals alike: `v`
    * cut into the [[PqSubs]] × [[PqSubDim]] geometry, one row per
    * (keys…, sub) with sv and dxx = sv·sv precomputed once per subvector
    * (the file-wide norms invariant — the assignment scans then pay ONE
    * 8-dim fold per (subvector, code) candidate). */
  private def subvectors(df: DataFrame, keys: Seq[String], v: Column): DataFrame =
    df.select(keys.map(col) :+ posexplode(array((0 until PqSubs).map { s =>
        slice(v, s * PqSubDim + 1, PqSubDim)
      }: _*)): _*)
      .select(keys.map(col) :+ col("pos").cast("int").as("sub") :+
              col("col").as("sv"): _*)
      .withColumn("dxx", dotCols(col("sv"), col("sv")))

  /** Squared L2 expanded as ((x·x − 2·x·c) + c·c) over precomputed
    * self-dots — the EXACT association the oracle SQL mirrors. */
  private def sqL2(xx: String, x: String, c: String, cc: String): Column =
    col(xx) - lit(2.0) * dotCols(col(x), col(c)) + col(cc)

  /** Nearest-sub-centroid assignment: [[sqL2]] 6-dp-rounded, ties to
    * the lower code. `cb` must carry (sub, code, cv, dcc) and is
    * broadcast-tiny; all 8 subspaces assign in ONE plan keyed by sub. */
  private[graft] def pqAssign(subs: DataFrame, cb: DataFrame): DataFrame = {
    val w = Window.partitionBy("vec_id", "sub").orderBy(col("d2").asc, col("code").asc)
    subs.join(broadcast(cb), Seq("sub"))
      .select(col("vec_id"), col("sub"), col("code"),
              Num.rnd(sqL2("dxx", "sv", "cv", "dcc"), 6).as("d2"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("vec_id", "sub", "code", "d2")
  }

  /** The one codebook trainer (sub, code, cv, dcc), for raw subvectors
    * and residuals alike: seeds are the first [[PqCodes]] vectors'
    * subvectors (every seed captures its own subvector — d2 exactly 0 —
    * so no code starts empty), then one Lloyd step per subspace: seed
    * assign → per-(sub, code) `mean` ([[vecMean]] over float
    * subvectors, [[vecMeanD]] over double residuals) rounded at 6 dp —
    * the [[ivfTrain]] discipline at subvector grain, every subspace
    * training in the same single plan. */
  private def pqTrain(subs: DataFrame,
                      mean: UserDefinedFunction): DataFrame = {
    val seed = subs.filter(col("vec_id") < PqCodes)
      .select(col("sub"), col("vec_id").as("code"), col("sv").as("cv"),
              col("dxx").as("dcc"))
    subs.join(pqAssign(subs, seed).select("vec_id", "sub", "code"),
              Seq("vec_id", "sub"))
      .groupBy("sub", "code")
      .agg(mean(col("sv")).as("mv"))
      .select(col("sub"), col("code"),
              transform(col("mv"), v => Num.rnd(v, 6)).as("cv"))
      .withColumn("dcc", dotCols(col("cv"), col("cv")))
  }

  /** Trained PQ codebook over the raw subvectors ([[pqTrain]]).
    * Memoized: the codes query and ADC search both start from it. */
  private[graft] def pqCodebook(spark: SparkSession, dir: String): DataFrame =
    CkptMemo.getOrElseUpdate((spark, dir, "pqcb"),
      pqTrain(pqSubvectors(spark, dir), vecMean).localCheckpoint())

  /** PQ encode: every (vector, subspace) assigned to its trained code —
    * the compressed representation a 100 TB store persists (n×8 rows of
    * small ints; the float vectors are only needed again for exact
    * re-rank). Memoized — ADC search scans these codes. */
  def pqCodes(spark: SparkSession, dir: String): DataFrame =
    CkptMemo.getOrElseUpdate((spark, dir, "pqcodes"),
      pqAssign(pqSubvectors(spark, dir), pqCodebook(spark, dir))
        .localCheckpoint())

  /** PQ quantization-distortion report — the TRAINING-side codebook
    * health metric the recall evals can't see (recall grades the
    * search; distortion grades the compression): per subspace, the
    * count / sum / mean / worst of the squared L2 from each subvector
    * to its assigned code. A subspace whose distortion dwarfs the
    * others is where the codebook spends its error budget — the signal
    * for re-allocating codes or re-training (Jégou et al. §V). Reads
    * the memoized [[pqCodes]] frame directly (d2 is already the
    * 6-dp-rounded assignment distance), micronizes each d2 BEFORE
    * summing (round(d2·10⁶) — integral up to fp noise since d2 is
    * 6-dp-grained, so per-sub sums are exact integers, partitioning-
    * invariant); d2 ≥ 0 so plain div. [[PqSubs]] output rows at any
    * corpus scale. */
  def pqDistortion(spark: SparkSession, dir: String): DataFrame =
    pqCodes(spark, dir)
      .select(col("sub"), round(col("d2") * lit(1e6)).cast("long").as("d2u"))
      .groupBy("sub")
      .agg(count(lit(1)).as("n_vecs"),
           sum("d2u").as("sum_d2_micro"),
           max("d2u").as("max_d2_micro"))
      .withColumn("mean_d2_micro", expr("sum_d2_micro div n_vecs"))
      .select("sub", "n_vecs", "sum_d2_micro", "max_d2_micro", "mean_d2_micro")
      .orderBy("sub")

  /** Candidates an ADC pass shortlists per query before exact re-rank —
    * static (the [[NProbe]] discipline) so the oracle composes the same
    * constant. */
  private[graft] val PqShortlist = 32

  /** One ADC table entry: a query subvector's squared L2 to a code
    * ([[sqL2]]) in exact integer micro-units. */
  private def adcTerm: Column =
    round(sqL2("dxx", "sv", "cv", "dcc") * lit(1e6)).cast("long").as("t")

  /** The one ADC (asymmetric distance computation) ranking, for PQ and
    * IVF-PQ alike: each query precomputes its distance to every code
    * ONCE — the broadcast table `dtab` (q_id, keys…, t) — then a
    * candidate's approximate distance is its codes' (vec_id, keys…)
    * table lookups summed, never a 64-dim float fold per candidate. The
    * per-(query, candidate) sums are exact integers (the
    * text_unigram_logprob discipline), so ranking is engine- and
    * order-invariant; kept to rn ≤ [[PqShortlist]] (adist, then
    * vec_id). PQ looks up by (sub, code), IVF-PQ by (cell, sub, code). */
  private def adcShortlist(codes: DataFrame, dtab: DataFrame,
                           keys: Seq[String]): DataFrame = {
    val w = Window.partitionBy("q_id").orderBy(col("adist").asc, col("vec_id").asc)
    codes.join(broadcast(dtab), keys)
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy("q_id", "vec_id")
      .agg(Num.rnd(sum("t").cast("double") / lit(1e6), 6).as("adist"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= PqShortlist)
      .select("q_id", "vec_id", "rn", "adist")
  }

  /** The top-3 prefix of an [[adcShortlist]]. */
  private def adcTop3(ranked: DataFrame): DataFrame =
    ranked.filter(col("rn") <= TopK).select("q_id", "vec_id", "rn", "adist")

  /** PQ ADC-ranked candidates per query ([[adcShortlist]] on (sub,
    * code)) — shared by the ADC top-k query and the exact re-rank stage;
    * memoized (tiny: queries×32 rows). */
  private def pqAdcRanked(spark: SparkSession, dir: String): DataFrame =
    CkptMemo.getOrElseUpdate((spark, dir, "pqadc"),
      adcShortlist(pqCodes(spark, dir).select("vec_id", "sub", "code"),
        pqSubvectors(spark, dir).filter(col("vec_id") < PqQueries)
          .select(col("vec_id").as("q_id"), col("sub"), col("sv"), col("dxx"))
          .join(pqCodebook(spark, dir), Seq("sub"))
          .select(col("q_id"), col("sub"), col("code"), adcTerm),
        Seq("sub", "code")).localCheckpoint())

  def pqAdcTopK(spark: SparkSession, dir: String): DataFrame =
    adcTop3(pqAdcRanked(spark, dir))

  /** The full PQ serving path: ADC shortlist then [[rerankTop3]]. */
  def pqRerankTopK(spark: SparkSession, dir: String): DataFrame =
    rerankTop3(spark, dir, pqAdcRanked(spark, dir))

  /** The one exact re-rank, for PQ and IVF-PQ alike: the (q_id, vec_id)
    * ADC shortlist ([[PqShortlist]] compressed-domain candidates per
    * query) re-scored by EXACT squared L2 ([[sqL2]]) against the float
    * vectors, top 3 per query (the recall-repair step every production
    * PQ index runs; Jégou et al. §5). Per query the exact stage touches
    * 32 vectors regardless of corpus size — the 100 TB read pattern:
    * codes stay hot, floats are fetched for a constant-size shortlist. */
  private def rerankTop3(spark: SparkSession, dir: String,
                         shortlist: DataFrame): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
              dotCols(col("embedding"), col("embedding")).as("vv"))
    val q = emb.select(col("vec_id").as("q_id"), col("embedding").as("qv"),
                       col("vv").as("qq"))
      .filter(col("q_id") < PqQueries)
    val w = Window.partitionBy("q_id").orderBy(col("d2").asc, col("vec_id").asc)
    shortlist.select("q_id", "vec_id")
      .join(emb, Seq("vec_id"))
      .join(broadcast(q), Seq("q_id"))
      .select(col("q_id"), col("vec_id"),
              Num.rnd(sqL2("qq", "qv", "embedding", "vv"), 6).as("d2"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= TopK)
      .select("q_id", "vec_id", "rn", "d2")
  }

  // ---- IVF-PQ: the composed billion-vector serving shape ----

  /** Residual subvectors w.r.t. a (vec_id, cell) pair set: residual =
    * embedding − trained centroid of `cell` (float→double cast, then an
    * exact IEEE element-wise subtract — the 6-dp-rounded centroids are
    * identical doubles cross-engine), split by [[subvectors]]. Passing
    * the HOME assignment gives the index side; passing the probe set
    * gives the per-probed-cell query residuals — same code path,
    * mirrored CTEs. */
  private[graft] def residualSubs(spark: SparkSession, dir: String,
                                  pairs: DataFrame): DataFrame =
    residualSubsWith(spark, dir, pairs, centroidTable(ivfTrain(spark, dir)))

  /** [[residualSubs]] against a GIVEN [[centroidTable]] frame — the seam
    * the persisted-index serve path reloads its coarse centroids
    * through. */
  private def residualSubsWith(spark: SparkSession, dir: String,
                               pairs: DataFrame, cents: DataFrame): DataFrame =
    subvectors(Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"))
        .join(pairs, Seq("vec_id"))
        .join(broadcast(cents), Seq("cell"))
        .select(col("vec_id"), col("cell"),
          zip_with(col("embedding").cast("array<double>"), col("cv"),
                   (a, b) => a - b).as("res")),
      Seq("vec_id", "cell"), col("res"))

  /** PQ codebook trained on per-cell RESIDUALS (vector − its trained
    * coarse centroid) by [[pqTrain]] — the IVF-PQ composition (Jégou et
    * al. 2011 §III): the coarse quantizer absorbs the corpus-scale
    * structure, so the residuals are small and near-isotropic and the
    * 8×16 sub-codebooks spend their precision where it matters.
    * Memoized (owner: sim_ivfpq_topk): the codes scan and the ADC table
    * both start from it, and the memo caps the train chain at one
    * execution per (session, dir). */
  private[graft] def ivfpqCodebook(spark: SparkSession, dir: String): DataFrame =
    CkptMemo.getOrElseUpdate((spark, dir, "ivfpqcb"),
      pqTrain(residualSubs(spark, dir,
          ivfAssignTrained(spark, dir).select("vec_id", "cell")), vecMeanD)
        .localCheckpoint())

  /** Residual PQ codes + home cell per vector — what an IVF-PQ index
    * persists: (cell, 8 codes) per vector, floats needed only for
    * re-rank. */
  private[graft] def ivfpqCodes(spark: SparkSession, dir: String): DataFrame = {
    val home = ivfAssignTrained(spark, dir).select("vec_id", "cell")
    pqAssign(residualSubs(spark, dir, home), ivfpqCodebook(spark, dir))
      .select("vec_id", "sub", "code")
      .join(home, Seq("vec_id"))
  }

  /** The IVF-PQ ADC ranking through rn ≤ [[PqShortlist]] — shared by
    * the top-k and the exact re-rank. Memoized (owner: sim_ivfpq_topk,
    * which runs first in Bench's owner list). */
  private def ivfpqAdcRanked(spark: SparkSession, dir: String): DataFrame =
    CkptMemo.getOrElseUpdate((spark, dir, "ivfpqadc"),
      ivfpqAdcFrom(spark, dir,
        ivfTrainedRanked(spark, dir), ivfpqCodebook(spark, dir),
        ivfpqCodes(spark, dir), centroidTable(ivfTrain(spark, dir)))
        .localCheckpoint())

  /** The IVF-PQ ADC serve composition over GIVEN index frames — shared
    * by [[ivfpqAdcRanked]] (session-lifetime memos) and
    * [[ivfpqIndexPersistSearch]] (the same index reloaded from durable
    * parquet), so the two serve paths can never diverge. `ranked` =
    * the coarse ranked assignment (vec_id, cell, rn ≤ NProbe); `cb` =
    * the residual codebook (sub, code, cv, dcc); `codes` = the postings
    * (vec_id, sub, code, cell); `cents` = the coarse [[centroidTable]]. */
  private def ivfpqAdcFrom(spark: SparkSession, dir: String,
                           ranked: DataFrame, cb: DataFrame,
                           codes: DataFrame, cents: DataFrame): DataFrame = {
    val probes = ranked
      .filter(col("rn") <= NProbe)
      .filter(col("vec_id") < PqQueries)
      .select("vec_id", "cell")
    adcShortlist(codes,
      residualSubsWith(spark, dir, probes, cents)
        .join(broadcast(cb), Seq("sub"))
        .select(col("vec_id").as("q_id"), col("cell"), col("sub"), col("code"),
                adcTerm),
      Seq("cell", "sub", "code"))
  }

  /** Persisted IVF-PQ index round trip (sim_ivfpq_persist) — the
    * [[ivfIndexPersistSearch]] rule applied to the COMPOSED index, i.e.
    * everything a production billion-vector index ships on disk: the
    * coarse centroids (long form, model-sized) and the coarse ranked
    * postings (vec_id, cell, rn ≤ NProbe — PARTITIONED BY cell) through
    * the shared [[persistTrainedIndex]], the residual PQ codebook (8×16
    * rows), and the PQ code postings (vec_id, 8 codes + home cell —
    * PARTITIONED BY cell, 9 small ints per vector: the compressed domain
    * that stays hot at 100 TB while floats are only fetched for
    * re-rank). The un-partitioned tables reload with the schema they
    * were written with ([[persistModel]]). Search runs entirely from
    * the RELOADED files via the shared [[ivfpqAdcFrom]] seam; the
    * oracle IS sim_ivfpq_topk's SQL unchanged — only the index's home
    * moved. IvfPqPersistSpec pins search equality and the layout. */
  def ivfpqIndexPersistSearch(spark: SparkSession, dir: String): DataFrame = {
    val (cents, ranked) = persistTrainedIndex(spark, dir,
      Tables.scratch("ivfpq_index_centroids"), Tables.scratch("ivfpq_index_postings"))
    val cb = persistModel(spark, ivfpqCodebook(spark, dir),
      Tables.scratch("ivfpq_index_codebook"))
    val codes = persistPostings(spark, ivfpqCodes(spark, dir),
      Tables.scratch("ivfpq_index_codes"), "cell")
    adcTop3(ivfpqAdcFrom(spark, dir, ranked, cb, codes, centroidTable(cents)))
  }

  /** IVF-PQ search — the standard billion-vector serving shape, composed
    * from the two halves the repo already has: each query probes its
    * [[NProbe]] nearest TRAINED cells (the memoized
    * [[ivfTrainedRanked]] scan), computes its residual against EACH
    * probed cell's centroid, builds the per-(probe-cell, sub, code) ADC
    * table in exact integer micro-units, and scores exactly the
    * candidates whose home cell is probed — 8 BIGINT table lookups per
    * candidate, never a float fold. At 100 TB: codes are 9 small ints
    * per vector (hot memory), the ADC table is queries×NProbe×128 rows
    * (broadcast), candidates come only from probed cells (the inverted
    * list), and the integer sums make ranking engine- and
    * order-invariant. A candidate pairs with a query through at most
    * one cell (home is unique), so no dedup stage exists. */
  def ivfpqTopK(spark: SparkSession, dir: String): DataFrame =
    adcTop3(ivfpqAdcRanked(spark, dir))

  /** IVF-PQ + exact re-rank — the COMPLETE billion-vector serving path
    * (coarse quantizer prunes cells → residual PQ codes rank in the
    * compressed domain → [[rerankTop3]] repairs the shortlist): at
    * 100 TB the codes stay hot in memory, the floats are a
    * constant-size point lookup, and the candidate generation never
    * leaves the probed cells. */
  def ivfpqRerankTopK(spark: SparkSession, dir: String): DataFrame =
    rerankTop3(spark, dir, ivfpqAdcRanked(spark, dir))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_norms"        -> norms _,
    "sim_brute_topk"   -> bruteTopK _,
    "sim_range_search" -> rangeSearch _,
    "emb_cell_purity"  -> cellPurity _,
    "emb_silhouette"   -> silhouette _,
    "emb_sim_hist"     -> simHist _,
    "emb_drift_report" -> driftReport _,
    "emb_isotropy"     -> isotropy _,
    "sim_lsh_buckets"  -> lshBuckets _,
    "sim_bucket_entropy" -> bucketEntropy _,
    "sim_graph_search" -> ((s, d) => graphSearch(s, d)),
    "sim_graph_search_eval" -> ((s, d) => graphSearchEval(s, d)),
    "sim_eval_frontier" -> evalFrontier _,
    "emb_cell_balance" -> cellBalance _,
    "sim_ann_topk"     -> annTopK _,
    "dedup_embedding"  -> embeddingNearDup _,
    "sim_ivf_assign"   -> ivfAssign _,
    "sim_cell_split"   -> cellSplit _,
    "sim_split_topk"   -> splitTopK _,
    "sim_split_recall_eval" -> ((s, d) => splitRecallEval(s, d)),
    "sim_split_persist" -> splitIndexPersistSearch _,
    "sim_cell_split_deep" -> ((s, d) => cellSplitDeep(s, d)),
    "sim_split_deep_topk" -> ((s, d) => splitDeepTopK(s, d)),
    "sim_split_deep_recall_eval" -> ((s, d) => splitDeepRecallEval(s, d)),
    "sim_split_plan" -> splitPlan _,
    "sim_split_serve_planned" -> splitServePlanned _,
    "sim_split_incremental" -> splitIncremental _,
    "sim_split_incremental_serve" -> splitIncrementalServe _,
    "sim_split_incremental_deep" -> splitIncrementalDeep _,
    "sim_knn_mutual_split" -> knnMutualSplit _,
    "sim_split_deep_persist" -> ((s, d) => splitDeepIndexPersistSearch(s, d)),
    "sim_cell_split_trained" -> cellSplitTrained _,
    "sim_split_topk_trained" -> splitTopKTrained _,
    "sim_trained_recall_eval" -> ((s, d) => trainedRecallEval(s, d)),
    "sim_split_trained_recall_eval" ->
      ((s, d) => trainedSplitRecallEval(s, d)),
    "sim_split_band_topk" -> splitBandTopK _,
    "sim_split_band_recall_eval" -> ((s, d) => splitBandRecallEval(s, d)),
    "sim_split_band_sweep" -> ((s, d) => splitBandSweep(s, d)),
    "sim_split_band_planned" -> splitBandPlanned _,
    "sim_ivf_topk"     -> ivfTopK _,
    "sim_knn_mutual"   -> knnMutual _,
    "sim_nn_descent"   -> nnDescent _,
    "sim_nn_descent_eval" -> ((s, d) => nnDescentEval(s, d)),
    "sim_ivf_recall_eval" -> ((s, d) => ivfRecallEval(s, d)),
    "sim_recall_at_k" -> ((s, d) => recallAtK(s, d)),
    "sim_mrr_eval" -> ((s, d) => mrrEval(s, d)),
    "sim_ivf_delete_search" -> ((s, d) => ivfDeleteSearch(s, d)),
    "sim_filtered_topk" -> ((s, d) => filteredTopK(s, d)),
    "sim_filtered_recall" -> ((s, d) => filteredRecallEval(s, d)),
    "sim_nprobe_sweep" -> ((s, d) => nprobeSweep(s, d)),
    "sim_nprobe_planned" -> ((s, d) => nprobePlanned(s, d)),
    "emb_int8_recall"  -> ((s, d) => int8RecallEval(s, d)),
    "emb_sign_bits"    -> signBits _,
    "sim_hamming_topk" -> ((s, d) => hammingTopK(s, d)),
    "emb_sign_recall"  -> ((s, d) => signRecallEval(s, d)),
    "sim_rrf_fusion"   -> ((s, d) => rrfFusion(s, d)),
    "sim_rrf_recall"   -> ((s, d) => rrfRecallEval(s, d)),
    "emb_rand_proj"    -> randProj _,
    "sim_jl_recall"    -> ((s, d) => jlRecallEval(s, d)),
    "emb_matryoshka_recall" -> ((s, d) => matryoshkaRecallEval(s, d)),
    "sim_ivf_train"    -> ivfTrain _,
    "sim_ivf_train_iter" -> ivfTrainIter _,
    "sim_ivf_train_hist" -> ivfTrainHist _,
    "sim_ivf_assign_trained" -> ivfAssignTrained _,
    "emb_outlier_report" -> outlierReport _,
    "sim_ivf_topk_trained" -> ivfTopKTrained _,
    "sim_index_persist" -> ivfIndexPersistSearch _,
    "sim_ivf_upsert_search" -> ((s, d) => ivfUpsertSearch(s, d)),
    "dedup_semantic"   -> semanticDedup _,
    "dedup_semantic_curve" -> semanticCurve _,
    "dedup_semantic_eval" -> ((s, d) => semanticDedupEval(s, d)),
    "sim_ivf_train_delta" -> ivfTrainDelta _,
    "sim_ivf_incremental_assign" -> ivfIncrementalAssign _,
    "sim_pq_codes"     -> pqCodes _,
    "sim_pq_distortion" -> pqDistortion _,
    "sim_pq_adc_topk"  -> pqAdcTopK _,
    "sim_pq_rerank_topk" -> pqRerankTopK _,
    "sim_ivfpq_topk"   -> ivfpqTopK _,
    "sim_ivfpq_persist" -> ivfpqIndexPersistSearch _,
    "sim_ivfpq_rerank_topk" -> ivfpqRerankTopK _,
    "emb_centroid_by_source" -> centroidBySource _,
    "emb_quantize"     -> quantize _,
    "emb_pca_power"    -> pcaPower _,
    "emb_pca_top2"     -> pcaTop2 _,
    "emb_pca_project"  -> pcaProject _,
    "emb_whiten"       -> whiten _,
    "sim_ivf_assign_whitened" -> ivfAssignWhitened _,
    "emb_dim_stats"    -> dimStats _,
    "emb_centroid_sim" -> centroidSim _,
    "emb_label_eval"   -> labelEval _,
    "emb_knn_label_eval" -> knnLabelEval _)
}
