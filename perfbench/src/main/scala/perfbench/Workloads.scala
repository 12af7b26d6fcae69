package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry
import graft.pipeline.{PipelineStats, RealEstatePipeline}

/** A workload: how to set it up in a fresh session and the ops of each of
  * its measured iterations. */
trait Workload {
  def setUp(spark: SparkSession): Unit
  def iterations: Seq[Seq[Op]]
  /** Checksums of the generated inputs, one per set-up. */
  def inputChecksums: Seq[String] = Nil
  /** Digests computed in this run, by op name. */
  def digests: Map[String, Digest] = Map.empty
  /** Ops whose output is random by contract: only the row count is checked. */
  def rowsOnly: Set[String] = Set.empty
}

object Workloads {

  /** With `record`, query outputs are only digested, for [[writeDigests]];
    * otherwise each is checked against the digest file. */
  def apply(name: String, seed: Long, work: Path, data: String,
            digestFile: String, record: Boolean): Workload = {
    def expected = if (record) None else Some(readDigests(digestFile))
    name match {
      case "etl" => new EtlWorkload(seed, work)
      case "session" => new QueryWorkload(Session, seed, data, expected)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }

  val RelationalPrefixes: Seq[String] = Seq("agg_", "anti_", "audit_", "cdc_",
    "distinct_", "filter_", "flagship", "geo_", "join_", "proj_", "q1_", "q18_",
    "q3_", "q5_", "scalar_", "semi_", "set_", "skew_", "sort_", "sql_", "src_",
    "time_", "union_", "window_")

  /** Every 38th of the short relational queries, in name order: a
    * systematic sample of the analyst's interactive queries, which use no
    * memo. */
  lazy val Relational: Seq[String] =
    SparkEntry.queries.keys.filter(n => RelationalPrefixes.exists(n.startsWith)).toSeq.sorted
      .zipWithIndex.collect { case (n, i) if i % 38 == 0 => n }

  /** Whole memo-sharing groups of the dedup, corpus and similarity
    * families: whichever member of a group runs first builds the shared
    * checkpointed frame and the others read it. */
  val MemoGroups: Seq[String] = Seq(
    // the SimHash fingerprint frame
    "dedup_simhash", "dedup_simhash_pairs",
    // the split-index seeds, assignment and serve
    "sim_split_topk", "sim_split_recall_eval",
    // the filtered-search serve
    "sim_filtered_topk", "sim_filtered_recall",
    // two corpus reports that share no memo
    "corpus_shard_plan", "corpus_vocab_growth")

  lazy val Session: Seq[String] = Relational ++ MemoGroups

  /** The session families the per-layer record totals. */
  def family(name: String): String =
    if (name.startsWith("dedup_")) "dedup"
    else if (name.startsWith("corpus_")) "corpus"
    else if (name.startsWith("sim_split") || name.startsWith("sim_cell_split")) "sim_split"
    else if (name.startsWith("sim_")) "sim"
    else "relational"

  /** Queries whose output is random by contract. */
  val RandomByContract: Set[String] = Set("window_sample_rand")

  def readDigests(file: String): Map[String, Digest] = {
    val line = """"([^"]+)":\s*\{"rows":\s*(\d+),\s*"hash":\s*(null|"[0-9a-f]{32}")\}""".r
    line.findAllMatchIn(Files.readString(Paths.get(file))).map { m =>
      val h = m.group(3)
      val (hi, lo) =
        if (h == "null") (0L, 0L)
        else (java.lang.Long.parseUnsignedLong(h.substring(1, 17), 16),
              java.lang.Long.parseUnsignedLong(h.substring(17, 33), 16))
      m.group(1) -> Digest(m.group(2).toLong, hi, lo)
    }.toMap
  }

  def writeDigests(file: String, ds: Map[String, Digest], rowsOnly: Set[String]): Unit = {
    val body = ds.toSeq.sortBy(_._1).map { case (n, d) =>
      val h = if (rowsOnly(n)) "null" else "\"" + d.hash + "\""
      s"""  "$n": {"rows": ${d.rows}, "hash": $h}"""
    }
    Files.writeString(Paths.get(file), body.mkString("{\n", ",\n", "\n}\n"))
  }
}

/** `session`: named program queries over the sf0.1 tables, in an order
  * shuffled by the seed, each forced by its digest. */
final class QueryWorkload(names: Seq[String], seed: Long, dir: String,
                          expected: Option[Map[String, Digest]]) extends Workload {
  private val fns = SparkEntry.queries
  private val order = new scala.util.Random(seed).shuffle(names)
  private val seen = scala.collection.mutable.Map.empty[String, Digest]
  override val rowsOnly: Set[String] = names.filter(Workloads.RandomByContract).toSet

  private val Tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Runs the flagship query and counts every table, so no timed query pays
    * the first file-index scan of its inputs, and compiles the anchor's
    * code. */
  def setUp(spark: SparkSession): Unit = {
    SparkEntry.flagship(spark, dir).write.format("noop").mode("overwrite").save()
    val counts = Tables.map(t => new java.util.concurrent.FutureTask(
      () => graft.Tables.load(spark, dir, t).count()))
    counts.foreach(c => new Thread(c, "warm-up").start())
    counts.foreach(_.get())
    Main.timeAnchor(spark)
  }

  /** One iteration: a second would find the memos built. */
  def iterations: Seq[Seq[Op]] = Seq(order.map { n =>
    Op(n, Workloads.family(n), s => fns(n)(s, dir), r => check(n, Digest.of(r.asInstanceOf[DataFrame])))
  })

  private def check(n: String, d: Digest): Either[String, String] = {
    seen(n) = d
    expected.map(_.get(n)) match {
      case None => Right("recorded")
      case Some(None) => Left("no expected digest")
      case Some(Some(e)) if rowsOnly(n) =>
        if (e.rows == d.rows) Right("rows") else Left(s"rows ${d.rows} != ${e.rows}")
      case Some(Some(e)) =>
        if (e == d) Right("digest") else Left(s"digest ${d.rows}/${d.hash} != ${e.rows}/${e.hash}")
    }
  }

  override def digests: Map[String, Digest] = seen.toMap
}

/** `etl`: the reference's path over generated inputs. Each iteration reads,
  * runs the pipeline (audit, sample, broadcast join, CSV write), registers
  * the catalog table (parquet write) and asks the catalog a few analyst
  * questions whose answers the generator knows. */
final class EtlWorkload(seed: Long, work: Path) extends Workload {
  private val in = work.resolve("etl_in")
  private val WarmRows = 20000L
  private var inputs: EtlInputs = _
  private val checksums = Vector.newBuilder[String]
  private var enriched: DataFrame = _
  private val Table = "real_estate_enriched"

  /** Generates the inputs, then warms up on one untimed iteration over a
    * small input of the same shape, so the measured iteration finds the
    * code paths compiled and pays for the data. */
  def setUp(spark: SparkSession): Unit = {
    inputs = EtlGen.generate(in, seed)
    checksums += inputs.checksum
    val small = EtlGen.generate(work.resolve("etl_warm"), seed, rows = WarmRows)
    iteration(small, seed).foreach { op =>
      op.action(op.construct(spark)).left.foreach(e =>
        throw new IllegalStateException(s"warm-up ${op.name}: $e"))
    }
    Main.timeAnchor(spark)
  }

  override def inputChecksums: Seq[String] = checksums.result()

  private def expectStats(inputs: EtlInputs, s: PipelineStats): Either[String, String] = {
    val want = Seq(
      "raw" -> (s.rawListings, inputs.raw),
      "after_state" -> (s.afterStateFilter, inputs.afterState),
      "after_null" -> (s.afterNullClean, inputs.afterNull),
      "after_coverage" -> (s.afterCoverage, inputs.afterCoverage),
      "census_zips" -> (s.censusZips, inputs.censusZips.toLong),
      "sampled" -> (s.sampled, 300L),
      "out_rows" -> (s.joined, 300L),
      "out_cols" -> (s.outputColumns.toLong, 18L))
    val bad = want.collect { case (k, (got, exp)) if got != exp => s"$k $got != $exp" }
    if (bad.nonEmpty) Left(bad.mkString("; "))
    else if (s.matchRatePct < 95.0) Left(s"match rate ${s.matchRatePct} < 95")
    else Right("stats")
  }

  /** Analyst queries over the catalog table and the rows they must give. */
  private val Sql: Seq[(String, String, Seq[String])] = Seq(
    ("sql.by_state",
     s"SELECT state, count(*) AS n FROM $Table GROUP BY state ORDER BY state",
     Seq("California,100", "Massachusetts,100", "New York,100")),
    ("sql.matched",
     s"SELECT count(*) FROM $Table WHERE census_median_income IS NOT NULL", Seq("300")),
    ("sql.price_per_sqft",
     s"SELECT count(*) FROM $Table WHERE price_per_sqft IS NULL " +
       "OR abs(price_per_sqft - price / house_size) > 0.0050001", Seq("0")),
    ("sql.clean",
     s"SELECT count(*) FROM $Table WHERE price > 0 AND house_size > 0 " +
       "AND bed IS NOT NULL AND bath IS NOT NULL", Seq("300")),
    ("sql.zip_state",
     s"SELECT count(*) FROM $Table WHERE NOT (" +
       "(state = 'Massachusetts' AND zip_code LIKE '01%') OR " +
       "(state = 'California' AND zip_code LIKE '93%') OR " +
       "(state = 'New York' AND zip_code LIKE '10%'))", Seq("0")),
    ("sql.covered",
     s"SELECT count(*) FROM $Table WHERE CAST(substr(zip_code, 3) AS INT) >= ${EtlGen.CoveredZips}",
     Seq("0")),
    ("sql.income_by_state",
     s"SELECT c.state, count(*) FROM $Table e JOIN (SELECT DISTINCT state FROM $Table) c " +
       "ON e.state = c.state WHERE e.census_population > 0 GROUP BY c.state ORDER BY c.state",
     Seq("California,100", "Massachusetts,100", "New York,100")))

  /** Two iterations, each sampling with its own seed derived from the
    * run's; two average the host's load over twice the time of one. */
  def iterations: Seq[Seq[Op]] = Seq(0, 1).map(i => iteration(inputs, seed * 1000 + i))

  private def iteration(inputs: EtlInputs, sampleSeed: Long): Seq[Op] = {
    val read = Op("pipeline.read", "pipeline.read", s => {
      RealEstatePipeline.readListings(s, inputs.listingsDir)
      RealEstatePipeline.readCensus(s, inputs.censusJson)
    }, _ => Right("ok"))
    val run = Op("pipeline.run", "pipeline.run", s => {
      val (df, stats) = RealEstatePipeline.run(s, inputs.listingsDir, inputs.censusJson,
        outDir = Some(work.resolve("etl_out").toString),
        sampleSeed = sampleSeed, maxAttempts = 1)
      enriched = df
      stats
    }, r => expectStats(inputs, r.asInstanceOf[PipelineStats]))
    val catalog = Op("pipeline.catalog", "pipeline.catalog", s => {
      RealEstatePipeline.registerCatalog(s, enriched, work.resolve("catalog").toString, Table)
      enriched.unpersist()
      enriched = null
      Table
    }, _ => Right("ok"))
    val sql = Sql.map { case (name, q, want) =>
      Op(name, "pipeline.sql", s => s.sql(q), r => {
        val got = r.asInstanceOf[DataFrame].collect().toSeq.map(_.toSeq.mkString(","))
        if (got == want) Right("answer") else Left(s"got ${got.mkString("|")}")
      })
    }
    Seq(read, run, catalog) ++ sql
  }
}
