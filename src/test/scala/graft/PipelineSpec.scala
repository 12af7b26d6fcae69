package graft

import java.nio.file.{Files, Paths}

import graft.pipeline.{RealEstatePipeline, Retry, Validate}
import graft.tools.RefScale
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.util.{Failure, Success}

/** End-to-end mirror of the reference pipeline over FIXTURES.md-shaped
  * fixtures, asserting the Step-Functions-declared invariants: 18
  * columns, rows = samplePerState × states present (or fewer if a state
  * lacks eligible rows), coverage >= 95 %, leading-zero ZIPs intact. */
class PipelineSpec extends SparkSpec {

  private lazy val fixtures: (String, String) = {
    val dir = Files.createTempDirectory("graft-pipeline").toString
    val csv = new StringBuilder(
      "brokered_by,status,price,bed,bath,acre_lot,street,city,state,zip_code,house_size,prev_sold_date\n")
    // 12 eligible MA rows on leading-zero ZIP 01002 + 8 CA rows + noise
    for (i <- 0 until 12)
      csv.append(s"b$i,for_sale,${300000 + i * 1000},3,2,0.3,${i} Main St,Amherst,Massachusetts,01002,${1500 + i * 10},2019-01-0${i % 9 + 1}\n")
    for (i <- 0 until 8)
      csv.append(s"c$i,for_sale,${800000 + i * 5000},4,3,0.1,${i} Oak Ave,Fresno,California,93650,${2000 + i * 25},2020-02-0${i % 9 + 1}\n")
    // null-clean victims: missing price / bed / house_size
    csv.append("x0,for_sale,,3,2,0.3,1 Elm,Amherst,Massachusetts,01002,1500,2019-01-01\n")
    csv.append("x1,for_sale,100000,,2,0.3,2 Elm,Amherst,Massachusetts,01002,1500,2019-01-01\n")
    csv.append("x2,for_sale,100000,3,2,0.3,3 Elm,Amherst,Massachusetts,01002,,2019-01-01\n")
    // non-target state
    csv.append("t0,for_sale,500000,3,2,0.5,9 Pine,Austin,Texas,73301,1800,2018-05-05\n")
    // target state but ZIP not in census → dropped by coverage semi-join
    csv.append("u0,for_sale,400000,3,2,0.5,7 Birch,Boston,Massachusetts,02199,1700,2018-05-05\n")
    val listingsPath = s"$dir/listings.csv"
    Files.writeString(Paths.get(listingsPath), csv.toString)
    // census: pretty-printed multiLine JSON array (A2 shape), one record
    // with null median_income, one ZIP with no listings
    val json =
      """[
        |  {"zip_code": "01002", "state": "MA", "name": "ZCTA5 01002",
        |   "median_income": 85000, "population": 39000,
        |   "college_educated_pct": 45.3, "unemployment_rate": 4.2,
        |   "median_age": 28, "data_source": "US Census Bureau ACS 2021"},
        |  {"zip_code": "93650", "state": "CA", "name": "ZCTA5 93650",
        |   "median_income": null, "population": 11000,
        |   "college_educated_pct": 12.1, "unemployment_rate": 9.9,
        |   "median_age": 31, "data_source": "US Census Bureau ACS 2021"},
        |  {"zip_code": "10001", "state": "NY", "name": "ZCTA5 10001",
        |   "median_income": 99000, "population": 25000,
        |   "college_educated_pct": 60.0, "unemployment_rate": 3.1,
        |   "median_age": 37, "data_source": "US Census Bureau ACS 2021"}
        |]""".stripMargin
    val censusPath = s"$dir/census.json"
    Files.writeString(Paths.get(censusPath), json)
    (listingsPath, censusPath)
  }

  private lazy val result = RealEstatePipeline.run(
    spark, fixtures._1, fixtures._2, samplePerState = 10)

  test("output has exactly the 18-column Schema.json contract") {
    val (enriched, stats) = result
    assert(enriched.columns.toSeq === RealEstatePipeline.outputColumns)
    assert(stats.outputColumns === 18)
  }

  test("stratified sampling caps per state; ineligible rows are excluded") {
    val (enriched, stats) = result
    // MA: 12 eligible → capped at 10; CA: 8 eligible → all 8
    val byState = enriched.groupBy("state").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byState("Massachusetts") === 10L)
    assert(byState("California") === 8L)
    assert(!byState.contains("Texas")) // state filter
    assert(stats.joined === 18L)
    // audit counts walk the cascade: 25 raw = 12 MA + 8 CA + 3 null
    // victims + 1 Texas + 1 uncovered-ZIP
    assert(stats.rawListings === 25L)
    assert(stats.afterStateFilter === 24L) // Texas row dropped
    assert(stats.afterNullClean === 21L)   // 3 null victims dropped
    assert(stats.afterCoverage === 20L)    // uncovered-ZIP row dropped
  }

  test("coverage rate reflects null census values; gate math works") {
    val (_, stats) = result
    // CA census row has null median_income → 8 of 18 rows unmatched
    assert(stats.matched === 10L)
    assert(math.abs(stats.matchRatePct - 100.0 * 10 / 18) < 1e-9)
    assert(Validate.coverageGate(stats.matchRatePct).isLeft) // below 95%
    assert(Validate.coverageGate(100.0).isRight)
  }

  test("derived price_per_sqft is round(price/size, 2); zips keep leading zeros") {
    val (enriched, _) = result
    val row = enriched.filter(org.apache.spark.sql.functions.col("brokered_by") === "b0").head()
    assert(row.getAs[String]("zip_code") === "01002")
    assert(row.getAs[Double]("price_per_sqft") ===
      BigDecimal(300000.0 / 1500).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(row.getAs[Double]("census_median_income") === 85000.0)
  }

  test("source probe reports header and sample rows (Zillow Lambda parity)") {
    val probe = Validate.probeCsv(spark, fixtures._1)
    assert(probe.exists && probe.status === "PASSED")
    assert(probe.columns.size === 12)
    assert(probe.sampleRows.size === 3)
    val missing = Validate.probeCsv(spark, "/tmp/does-not-exist-xyz.csv")
    assert(!missing.exists)
  }

  test("count gate passes on match, reports misses") {
    assert(Validate.countGate(("rows", 18L, 18L)).isRight)
    val miss = Validate.countGate(("rows", 300L, 18L), ("cols", 18L, 18L))
    assert(miss.left.exists(_.exists(_.contains("rows"))))
  }

  test("audit counts cost one uncached listings-CSV scan, not one per stage") {
    // Counts listings FileSourceScan nodes, in ANY file format, across
    // every EXECUTED plan of a full run, descending through AQE stages,
    // materialized query stages AND cached relations (a scan hidden
    // behind a cache fill still counts). The old per-stage audit issued 4
    // scanning counts and the window sample a 5th; the single grouped
    // aggregate issues exactly 1. The same walk finds no Window,
    // WindowGroupLimit or Sort node: the stratified sample is a bounded
    // top-k. And the one record parse in that scan decodes exactly the
    // six predicate columns, never the whole 12-column record.
    import org.apache.spark.sql.catalyst.expressions.CsvToStructs
    import org.apache.spark.sql.execution.{CollectLimitExec, FileSourceScanExec, SortExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    def nodes(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case m: InMemoryTableScanExec => m.children :+ m.relation.cachedPlan
        case other => other.children
      }
      p +: kids.flatMap(nodes)
    }
    def isListingsScan(p: SparkPlan): Boolean = p match {
      case f: FileSourceScanExec =>
        f.relation.location.rootPaths.exists(_.toString.contains("listings.csv"))
      case _ => false
    }
    // Header inference (readListings' schema) reads the first line twice,
    // and both reads are recognised by their shape, not their format: a
    // `CollectLimit 1` plan, and the `rdd` conversion of the lines, whose
    // plan is one deserializer directly over the scan.
    def isHeaderProbe(funcName: String, plan: SparkPlan): Boolean = plan match {
      case c: CollectLimitExec => c.limit == 1
      case p => funcName == "rdd" && p.children.nonEmpty &&
        p.children.forall(isListingsScan)
    }
    val scans = new java.util.concurrent.atomic.AtomicInteger(0)
    val ranked = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val parses = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
    val shapes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit = {
        val all = nodes(qe.executedPlan)
        val n = all.count(isListingsScan)
        if (n > 0 && !isHeaderProbe(funcName, qe.executedPlan)) {
          scans.addAndGet(n)
          shapes.add(s"$funcName: ${qe.executedPlan.treeString}")
          all.flatMap(_.expressions).flatMap(_.collect {
            case c: CsvToStructs => c.requiredSchema.getOrElse(c.schema).fieldNames.toSeq
          }).foreach(parses.add)
        }
        all.foreach {
          case n @ (_: WindowExec | _: WindowGroupLimitExec | _: SortExec) =>
            ranked.add(n.nodeName)
          case _ =>
        }
      }
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val (enriched, _) = RealEstatePipeline.run(
        spark, fixtures._1, fixtures._2, samplePerState = 10)
      // QueryExecutionListener delivery is async; a fixed sleep on a
      // contended box undercounts and the assertion passes vacuously.
      // Poll until the count is stable for 2 s (max 20 s) — late events
      // would move it, and a stable count is the drained state.
      var last = -1
      var stableMs = 0
      var waited = 0
      while (stableMs < 2000 && waited < 20000) {
        Thread.sleep(250); waited += 250
        val cur = scans.get()
        if (cur == last) stableMs += 250 else { stableMs = 0; last = cur }
      }
      enriched.unpersist()
      assert(scans.get() === 1,
        s"listings scanned ${scans.get()} times — expected exactly the " +
        "one scan of the grouped aggregate (0 means the listener events " +
        "never arrived; > 1 means a stage count or the sample got its own " +
        s"scan):\n${shapes.toArray.mkString("\n")}")
      assert(ranked.isEmpty,
        s"run() executed ${ranked.toArray.mkString(", ")} — the stratified " +
        "sample must stay a bounded top-k, never a window or a sort")
      assert(parses.size === 1,
        s"the listings scan must parse each line once: ${parses.toArray.mkString("; ")}")
      assert(parses.peek().sorted ===
               Seq("bath", "bed", "house_size", "price", "state", "zip_code"),
        "the scan's record parse must decode exactly the six predicate " +
        "columns; the full record is parsed only for the sampled winners")
    } finally spark.listenerManager.unregister(listener)
  }

  /** The window formulation the single aggregate replaced, kept here,
    * and only here, as the reference: steps 3–5 as filters and a
    * left-semi coverage join, then step 6 as
    * `row_number() over (partition by state order by rand(seed)) <= n`. */
  private def windowSample(listingsCsv: String, censusJson: String,
                           n: Int, seed: Long): DataFrame = {
    val covered = RealEstatePipeline.readListings(spark, listingsCsv)
      .filter(col("state").isin(RealEstatePipeline.targetStates: _*))
      .filter(Seq("price", "zip_code", "house_size", "bed", "bath")
        .map(col(_).isNotNull).reduce(_ && _))
      .join(broadcast(RealEstatePipeline.readCensus(spark, censusJson)
              .select("zip_code").distinct()),
            Seq("zip_code"), "left_semi")
    covered
      .withColumn("rn", row_number().over(
        Window.partitionBy("state").orderBy(rand(seed))))
      .filter(col("rn") <= n)
      .drop("rn")
  }

  /** The four stage counts as the old conditional aggregation took them. */
  private def conditionalCounts(listingsCsv: String, censusJson: String): Seq[Long] = {
    val stateOk = col("state").isin(RealEstatePipeline.targetStates: _*)
    val cleanOk = Seq("price", "zip_code", "house_size", "bed", "bath")
      .map(col(_).isNotNull).reduce(_ && _)
    val keys = RealEstatePipeline.readCensus(spark, censusJson)
      .select("zip_code").distinct().withColumn("__cov", lit(1))
    val r = RealEstatePipeline.readListings(spark, listingsCsv)
      .join(broadcast(keys), Seq("zip_code"), "left")
      .agg(
        count(lit(1)),
        sum(when(stateOk, 1L).otherwise(0L)),
        sum(when(stateOk && cleanOk, 1L).otherwise(0L)),
        sum(when(stateOk && cleanOk && col("__cov").isNotNull, 1L).otherwise(0L)))
      .head()
    (0 until 4).map(r.getLong)
  }

  /** run() ≡ the window reference for each seed: the same enriched rows
    * (as a set) and the same four stage counts. Returns the sampled
    * brokers per seed, so callers can check that the seed matters. */
  private def assertMatchesWindowForm(listingsCsv: String, censusJson: String,
                                      n: Int, seeds: Seq[Long]): Seq[Set[String]] =
    seeds.map { seed =>
      val (enriched, stats) = RealEstatePipeline.run(
        spark, listingsCsv, censusJson, samplePerState = n, sampleSeed = seed)
      try {
        val expected = RealEstatePipeline.enrich(
          windowSample(listingsCsv, censusJson, n, seed),
          RealEstatePipeline.readCensus(spark, censusJson))
        assert(enriched.count() === expected.count(), s"seed $seed")
        assert(enriched.exceptAll(expected).isEmpty &&
                 expected.exceptAll(enriched).isEmpty,
          s"seed $seed: the sample differs from the window formulation")
        assert(Seq(stats.rawListings, stats.afterStateFilter,
                   stats.afterNullClean, stats.afterCoverage) ===
                 conditionalCounts(listingsCsv, censusJson), s"seed $seed")
        assert(stats.sampled === enriched.count())
        enriched.select("brokered_by").collect().map(_.getString(0)).toSet
      } finally enriched.unpersist()
    }

  test("sample and counts ≡ the window formulation on the fixtures (3 seeds)") {
    val samples = assertMatchesWindowForm(
      fixtures._1, fixtures._2, 10, Seq(42L, 7L, 20261017L))
    // MA has 12 eligible rows for 10 slots, so the seeds draw different rows
    assert(samples.distinct.size > 1)
  }

  test("sample and counts ≡ the window formulation on RefScale's 22k rows (3 seeds)") {
    val dir = Files.createTempDirectory("graft-pipeline-ref").toString
    // several part files, so several splits each seeding its own rand stream
    RefScale.listings(spark, 22000L).write.mode("overwrite")
      .option("header", "true").csv(s"$dir/listings_csv")
    assert(new java.io.File(s"$dir/listings_csv").listFiles()
      .count(_.getName.startsWith("part-")) > 1)
    RefScale.writeCensusJson(s"$dir/census.json")
    val samples = assertMatchesWindowForm(
      s"$dir/listings_csv", s"$dir/census.json", 100, Seq(42L, 7L, 31000L))
    assert(samples.forall(_.size == 300))
    assert(samples.distinct.size === 3)
  }

  test("sample and counts ≡ the window formulation on CSV edge cases (3 seeds)") {
    // What the record-level scan must read exactly as the CSV source
    // does: a quoted field with an embedded comma, CRLF line endings,
    // blank / space-only / tab-only lines (one before a header), short
    // rows, and two part files that each start with a header.
    val dir = Files.createTempDirectory("graft-pipeline-edge").toString
    val header =
      "brokered_by,status,price,bed,bath,acre_lot,street,city,state,zip_code,house_size,prev_sold_date"
    def ma(i: Int, street: String) =
      s"e$i,for_sale,${310000 + i * 1000},3,2,0.3,$street,Amherst,Massachusetts,01002,${1510 + i},2019-03-0${i % 9 + 1}"
    val part0 = Seq(header) ++ (0 until 4).map(i => ma(i, s"$i Elm St")) ++ Seq(
      ma(4, "\"12 Main St, Apt 4\""),
      "", "   ", "\t",
      // short, still clean and covered: prev_sold_date is missing
      "s0,sold,420000,4,3,0.2,3 Short Rd,Amherst,Massachusetts,01002,1800",
      // short, unclean: stops before zip_code
      "s1,sold,420000,4,3,0.2,4 Short Rd,Amherst,Massachusetts",
      "c0,for_sale,810000,4,3,0.1,\"1 Oak Ave, Unit B\",Fresno,California,93650,2010,2020-02-01")
    val part1 = Seq("", "   ", header) ++ (5 until 9).map(i => ma(i, s"$i Birch Rd")) ++ Seq(
      "\t \t",
      "t0,for_sale,500000,3,2,0.5,9 Pine,Austin,Texas,73301,1800,2018-05-05",
      "c1,for_sale,820000,4,3,0.1,2 Oak Ave,Fresno,California,93650,2020,2020-02-02")
    Files.createDirectories(Paths.get(s"$dir/listings_csv"))
    Files.writeString(Paths.get(s"$dir/listings_csv/part-00000.csv"),
      part0.mkString("", "\r\n", "\r\n"))
    Files.writeString(Paths.get(s"$dir/listings_csv/part-00001.csv"),
      part1.mkString("", "\n", "\n"))
    val samples = assertMatchesWindowForm(
      s"$dir/listings_csv", fixtures._2, 5, Seq(42L, 7L, 20261017L))
    // 10 eligible MA rows (9 + the short s0) for 5 slots, plus both CA rows
    assert(samples.forall(_.size == 7))
    assert(samples.distinct.size > 1)
    val (enriched, stats) = RealEstatePipeline.run(
      spark, s"$dir/listings_csv", fixtures._2, samplePerState = 20)
    try {
      assert(stats.rawListings === 14L)
      assert(stats.afterNullClean === 12L)
      val streets = enriched.select("street").collect().map(_.getString(0)).toSet
      assert(streets.contains("12 Main St, Apt 4") && streets.contains("1 Oak Ave, Unit B"))
      assert(enriched.filter(col("brokered_by") === "s0")
        .select("prev_sold_date").head().isNullAt(0))
    } finally enriched.unpersist()
  }

  test("run() itself retries like the Step Functions contract (x2 @60s, backoff 2.0)") {
    var calls = 0
    val slept = scala.collection.mutable.ArrayBuffer[Long]()
    val (_, stats) = RealEstatePipeline.run(
      spark, fixtures._1, fixtures._2, samplePerState = 10,
      maxAttempts = 2, retrySleep = slept.append(_),
      onAttempt = n => { calls += 1
        if (n == 1) throw new RuntimeException("TaskFailed (transient)") })
    assert(calls === 2)                 // failed once, succeeded on retry
    assert(slept.toSeq === Seq(60000L)) // asl.json IntervalSeconds: 60
    assert(stats.outputColumns === 18)
    // exhausted retries rethrow — the Catch -> ProcessingFailed state
    val thrown = intercept[RuntimeException] {
      RealEstatePipeline.run(spark, fixtures._1, fixtures._2,
        samplePerState = 10, maxAttempts = 2, retrySleep = _ => (),
        onAttempt = _ => throw new RuntimeException("TaskFailed (permanent)"))
    }
    assert(thrown.getMessage.contains("permanent"))
  }

  test("enriched output registers as a persistent 18-column catalog table") {
    val (enriched, _) = result
    val loc = Tables.scratch("real_estate_catalog")
    RealEstatePipeline.registerCatalog(spark, enriched, loc)
    assert(spark.catalog.tableExists("real_estate_enriched"))
    val back = spark.table("real_estate_enriched")
    assert(back.columns.toSeq === RealEstatePipeline.outputColumns)
    assert(back.count() === enriched.count())
    // durable: backed by parquet at the declared location — ONE file,
    // because run() rebuilds the ≤ n × 3 sampled rows as one partition
    assert(new java.io.File(loc).listFiles().count(_.getName.endsWith(".parquet")) === 1)
  }

  test("census JSON array sink writes ONE pretty-printed [-prefixed file that round-trips") {
    val census = RealEstatePipeline.readCensus(spark, fixtures._2)
    val out = Tables.scratch("census_array_sink")
    ops.Sources.writeJsonArray(census, out)
    val parts = new java.io.File(out).listFiles().filter(_.getName.startsWith("part-"))
    assert(parts.length === 1) // single file, like json.dump
    val lines = Files.readAllLines(parts.head.toPath)
    assert(lines.get(0) === "[")                      // array, not JSON-lines
    assert(lines.get(1).startsWith("  {"))            // pretty-printed rows
    assert(lines.get(1).endsWith(","))                // element separators
    assert(lines.get(lines.size - 1) === "]")
    // content equality: the file is readable by the pipeline's own
    // multiLine census reader and matches the source exactly
    val back = spark.read.option("multiLine", "true")
      .option("pathGlobFilter", "part-*").json(out)
    assert(back.count() === census.count())
    assert(back.select(census.columns.map(org.apache.spark.sql.functions.col): _*)
      .exceptAll(census).isEmpty)
  }

  test("retry with backoff: succeeds after transient failures, exhausts on permanent") {
    var calls = 0
    val slept = scala.collection.mutable.ArrayBuffer[Long]()
    val ok = Retry.withBackoff(maxAttempts = 3, intervalMs = 10, backoff = 2.0,
      sleep = slept.append(_)) {
      calls += 1
      if (calls < 3) throw new RuntimeException("transient")
      "done"
    }
    assert(ok === Success("done"))
    assert(slept.toSeq === Seq(10L, 20L)) // 2.0 backoff
    val fail = Retry.withBackoff(maxAttempts = 2, intervalMs = 1,
      sleep = _ => ()) { throw new RuntimeException("permanent") }
    assert(fail.isInstanceOf[Failure[_]])
  }
}
