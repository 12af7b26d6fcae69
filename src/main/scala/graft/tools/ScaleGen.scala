package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-out replicator for SCALING MEASUREMENTS (not correctness —
  * oracles always run on the driver-generated `/root/testdata` dirs):
  * writes a k× copy of a testdata dir with content-realistic replicas,
  * so heavy-family runtimes can be measured at ~sf1 (round-6 verdict
  * item 5) without pretending duplicated rows are new data.
  *
  * Replica i of each row shifts every join key by i·stride (strides
  * derived from the source counts, so FK joins keep their selectivity)
  * and perturbs content deterministically:
  *   - documents: tokens ROTATED by i — replica shingle sets are
  *     disjoint from the original's (except the wrap seam) while the
  *     token-frequency profile (zipf, dl, vocab growth) is preserved;
  *     appending a marker token instead would have made every replica a
  *     ~Jaccard-1 near-dup of its source and measured a pathological
  *     corpus, not a bigger one.
  *   - embeddings: dims rotated by i — norms and pairwise-isotropy
  *     preserved, rotated copies near-orthogonal to their source.
  *   - fact/dim tables: key shifts only (values untouched).
  * events/nation/region are copied byte-identical (events.parquet is
  * TIMESTAMP(NANOS) — rewriting would change its physical type).
  *
  * Usage: runMain graft.tools.ScaleGen <srcDir> <dstDir> <k> [tables]
  *        [jitterPerMille]
  * The optional comma-separated [tables] restricts replication (e.g.
  * `embeddings` for the very-large ANN scaling dirs, where replicating
  * a 384× lineitem would cost gigabytes the measurement never reads);
  * events/nation/region are still byte-copied so session warmup works.
  *
  * [jitterPerMille] (0 = off, the default) DE-TIES replica embeddings:
  * with k > dims, rotation classes repeat (k/dims replicas share each
  * rotation EXACTLY), so every knee-scale recall eval reads 1e6 — the
  * probe's true top-3 are its exact copies, found by every arm
  * (BASELINE round 17's honest finding; the band sweep over-fires on
  * the tie mass at τ). Each replica i > 0 gets (a) a per-(vec_id,
  * position) SIGN-FLIP diagonal (Rademacher pattern from xxhash64 —
  * norms and per-dim magnitude histograms preserved EXACTLY) and (b)
  * a multiplicative (1 + J·u) element jitter, u ∈ [−1, 1] from
  * xxhash64, J = jitterPerMille/1000. The sign flips are the
  * load-bearing half: multiplicative jitter ALONE leaves every
  * sibling at cos ≈ 1/√(1+J²/3) to its source, and since the stub
  * centroids are the first vectors, a probe IS the centroid of its
  * own sibling cluster — all its true neighbors share its home cell
  * and recall stays saturated at ANY jitter strength (measured:
  * J=0.3 and J=0.7 both read 99 % on every arm at 192 k). Sign
  * flips make every replica pair near-orthogonal, so the truth
  * becomes organic noise maxima spread across cells — the regime
  * where serving arms actually differentiate (the sf0.01 shape).
  * Replica 0 keeps the original rows bit-identical. Knee dirs are
  * SCALE-MEASUREMENT-ONLY (never oracle-checked), so the xxhash64
  * draws need no cross-engine mirror (the VERDICT r17 note).
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val (src, dst, k) = (args(0), args(1), args(2).toInt)
    val only: String => Boolean =
      if (args.length > 3 && args(3).nonEmpty) args(3).split(',').toSet
      else _ => true
    val jitterPerMille = if (args.length > 4) args(4).toInt else 0
    val spark = graft.Sessions.local()
    new java.io.File(dst).mkdirs()

    def tbl(name: String): DataFrame =
      spark.read.parquet(s"$src/$name.parquet")
    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1
    def replicate(name: String, out: DataFrame => DataFrame): Unit =
      if (only(name))
        out(tbl(name)).write.mode("overwrite").parquet(s"$dst/$name.parquet")
    // replica index column i = 0..k-1 (i = 0 keeps the original rows)
    def fan(df: DataFrame): DataFrame =
      df.withColumn("i", explode(sequence(lit(0L), lit(k - 1L))))

    val (dStride, eStride) = (stride(tbl("documents"), "doc_id"),
                              stride(tbl("embeddings"), "vec_id"))
    val (cStride, oStride) = (stride(tbl("customer"), "c_custkey"),
                              stride(tbl("orders"), "o_orderkey"))
    val (sStride, pStride) = (stride(tbl("supplier"), "s_suppkey"),
                              stride(tbl("part"), "p_partkey"))

    replicate("documents", df => fan(df)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("r", (col("i") % size(col("toks"))).cast("int"))
      .select(
        (col("doc_id") + col("i") * dStride).as("doc_id"),
        concat_ws(" ",
          concat(slice(col("toks"), col("r") + lit(1),
                       size(col("toks")) - col("r")),
                 slice(col("toks"), lit(1), col("r")))).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long")))
    replicate("embeddings", df => fan(df)
      .withColumn("r", (col("i") % size(col("embedding"))).cast("int"))
      .select(
        (col("vec_id") + col("i") * eStride).as("vec_id"),
        col("i"),
        concat(slice(col("embedding"), col("r") + lit(1),
                     size(col("embedding")) - col("r")),
               slice(col("embedding"), lit(1), col("r"))).as("embedding"),
        col("label"))
      .withColumn("embedding",
        if (jitterPerMille == 0) col("embedding")
        else when(col("i") === 0, col("embedding")).otherwise(
          // interpreted HOF is fine here — one-off generation tool
          expr("transform(embedding, (x, p) -> CAST(x * " +
               "(CASE WHEN pmod(xxhash64(vec_id, p, 1), 2) = 0 " +
               "THEN 1.0 ELSE -1.0 END) * (1.0 + " +
               s"($jitterPerMille / 1000.0) * " +
               "((pmod(xxhash64(vec_id, p), 2001) - 1000) / 1000.0)) " +
               "AS FLOAT))")))
      .drop("i"))
    replicate("customer", df => fan(df)
      .withColumn("c_custkey", col("c_custkey") + col("i") * cStride)
      .drop("i"))
    replicate("supplier", df => fan(df)
      .withColumn("s_suppkey", col("s_suppkey") + col("i") * sStride)
      .drop("i"))
    replicate("part", df => fan(df)
      .withColumn("p_partkey", col("p_partkey") + col("i") * pStride)
      .drop("i"))
    replicate("orders", df => fan(df)
      .withColumn("o_orderkey", col("o_orderkey") + col("i") * oStride)
      .withColumn("o_custkey", col("o_custkey") + col("i") * cStride)
      .drop("i"))
    replicate("lineitem", df => fan(df)
      .withColumn("l_orderkey", col("l_orderkey") + col("i") * oStride)
      .withColumn("l_partkey", col("l_partkey") + col("i") * pStride)
      .withColumn("l_suppkey", col("l_suppkey") + col("i") * sStride)
      .drop("i"))
    for (t <- Seq("events", "nation", "region")) {
      val (from, to) = (java.nio.file.Paths.get(s"$src/$t.parquet"),
                        java.nio.file.Paths.get(s"$dst/$t.parquet"))
      if (java.nio.file.Files.isDirectory(from)) {
        // parquet written as a directory: copy recursively
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(from).iterator().asScala.foreach { p =>
          val q = to.resolve(from.relativize(p))
          if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(q)
          else java.nio.file.Files.copy(p, q,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
      } else java.nio.file.Files.copy(from, to,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    println(s"wrote ${k}x of $src to $dst")
    spark.stop()
  }
}
