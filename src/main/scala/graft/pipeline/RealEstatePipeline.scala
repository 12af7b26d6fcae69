package graft.pipeline

import scala.jdk.CollectionConverters._

import graft.functions.{CsvRecordLine, SeededRand}
import org.apache.spark.sql.{Column, DataFrame, GraftSql, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.CsvToStructs
import org.apache.spark.sql.catalyst.expressions.aggregate.CollectTopK
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Stage-by-stage run report — the Spark-native analog of the reference's
  * printed audit trail + Step-Functions count assertions
  * (`/root/reference/real_estate_etl_job.py:210-221`,
  * `RealEstatePipeline.asl.json:22,34,90,102,126`). */
case class PipelineStats(
    censusZips: Long,
    rawListings: Long,
    afterStateFilter: Long,
    afterNullClean: Long,
    afterCoverage: Long,
    sampled: Long,
    joined: Long,
    matched: Long,
    matchRatePct: Double,
    outputColumns: Int)

/** The reference's 10-step ETL (`/root/reference/real_estate_etl_job.py`),
  * re-expressed Spark-first — same semantics, scale-safe mechanics:
  *
  *  - ONE listings scan feeds ONE grouped aggregate (key: the target
  *    state, or null) that yields the four audit counts AND the
  *    stratified sample together, instead of the reference's 13 uncached
  *    full rescans (SURVEY §3.2) plus a window sort;
  *  - the scan is late-materialized: it reads the listings as raw record
  *    lines, parses only the six predicate columns (`state` + the five
  *    clean columns) per line, carries the raw line as the sample
  *    payload, and parses the full 12-column record only for the
  *    ≤ n × |targetStates| winners;
  *  - the census-coverage restriction is a broadcast left JOIN with a
  *    marker column, not a driver-collected IN list (`:41,96` — unbounded
  *    at 100 TB);
  *  - stratified sampling (`row_number over (partition by state order by
  *    rand(seed)) <= n`, `:112-115`) is a bounded top-k (`CollectTopK`,
  *    smallest n of `rand(seed)` per state) — the same rows, with no
  *    window, no exchange of every covered row and no sort; the rand is
  *    [[graft.functions.SeededRand]], so a new seed reuses the compiled
  *    scan stage;
  *  - the enrichment join broadcasts the census side (`:130-134`);
  *  - final projection emits the 18-column Schema.json contract with the
  *    left `state` kept on ambiguity (`:181`).
  */
object RealEstatePipeline {

  val targetStates = Seq("Massachusetts", "California", "New York")

  /** Step-4 clean columns and the ONE predicate derived from them — the
    * clean-stage count and the sample's eligibility both apply it, so the
    * two can never diverge. The isNotNull conjunction equals the
    * reference's dropna ONLY because listings are read ALL-STRING (Glue
    * DynamicFrame parity — `na.drop` on typed float/double columns would
    * additionally drop NaN); stating the predicate once means a future
    * typed reader moves the stage and the audit together. */
  private val cleanColumns =
    Seq("price", "zip_code", "house_size", "bed", "bath")
  private val cleanOk: Column =
    cleanColumns.map(col(_).isNotNull).reduce(_ && _)
  val outputColumns: Seq[String] = Seq(
    "brokered_by", "status", "price", "bed", "bath", "acre_lot", "street",
    "city", "state", "zip_code", "house_size", "prev_sold_date",
    "census_median_income", "census_population", "census_college_pct",
    "census_unemployment_rate", "census_median_age", "price_per_sqft")

  /** STEP 1: census JSON (one multiLine array file, like
    * `CensusDataFetch.py:153-163` output read at `real_estate_etl_job.py:34`). */
  def readCensus(spark: SparkSession, path: String): DataFrame =
    spark.read.option("multiLine", "true").json(path)

  /** The listings CSV options — the ONE map `readListings` and the
    * scan's record parse share, so the two parses cannot drift. */
  private val listingsOptions = Map("header" -> "true")

  /** STEP 2: listings CSV, header, all-string (Glue DynamicFrame parity,
    * `real_estate_etl_job.py:49-54`); types arrive via casts in step 8.
    * The single definition of the reader: `runOnce` takes its schema
    * from here and parses record lines with its options. */
  def readListings(spark: SparkSession, path: String): DataFrame =
    spark.read.options(listingsOptions).csv(path)

  /** A raw listings line parsed as `readListings` parses it — same
    * schema, same options. With `required`, the CSV parser decodes only
    * those columns and skips the rest of the line. */
  private def parseRecord(line: Column, schema: StructType,
                          required: Option[StructType] = None): Column =
    GraftSql.column(new CsvToStructs(
      schema, listingsOptions, GraftSql.expression(line), None, required))

  /** Steps 7–9 over the stratified sample (PipelineSpec also applies it
    * to the window-form reference sample). */
  private[graft] def enrich(sampled: DataFrame, census: DataFrame): DataFrame = {
    // STEP 7: broadcast left-outer enrichment join on zip_code (:130-134)
    val joined = sampled.join(
      broadcast(census.withColumnRenamed("state", "census_state")),
      Seq("zip_code"), "left")
    // STEP 8: casts + derived price_per_sqft (:158-163); 2-dp round.
    // try_cast/try_divide reproduce the reference's non-ANSI Spark 3
    // semantics (malformed → null, /0 → null) under Spark 4's ANSI default.
    val derived = joined
      .withColumn("price_num", expr("try_cast(price AS double)"))
      .withColumn("size_num", expr("try_cast(house_size AS double)"))
      .withColumn("price_per_sqft",
        round(try_divide(col("price_num"), col("size_num")), 2))
    // STEP 9: the 18-column contract projection with aliases (:172-191);
    // left `state` survives, census `state` was renamed pre-join (P2)
    derived.select(
      col("brokered_by"), col("status"), col("price_num").as("price"),
      col("bed"), col("bath"), col("acre_lot"), col("street"), col("city"),
      col("state"), col("zip_code"), col("size_num").as("house_size"),
      col("prev_sold_date"),
      col("median_income").as("census_median_income"),
      col("population").as("census_population"),
      col("college_educated_pct").as("census_college_pct"),
      col("unemployment_rate").as("census_unemployment_rate"),
      col("median_age").as("census_median_age"),
      col("price_per_sqft"))
  }

  /** Full run: read → sample + audit → enrich → write (STEP 10:
    * single-file header CSV overwrite, `real_estate_etl_job.py:202`),
    * wrapped in the Step-Functions retry contract
    * (`RealEstatePipeline.asl.json:62-72`: 2 attempts, 60 s interval, 2.0
    * backoff on TaskFailed; exhausted retries rethrow = the Catch →
    * ProcessingFailed state `:73-81`). `sampleSeed` mirrors rand(42).
    * `onAttempt` is the TaskFailed seam (tests inject transient faults);
    * `retrySleep` is injectable so tests don't wait 60 s. Returns the
    * enriched frame + the audit stats the Step Functions contract checks. */
  def run(spark: SparkSession, listingsCsv: String, censusJson: String,
          outDir: Option[String] = None, samplePerState: Int = 100,
          sampleSeed: Long = 42L, maxAttempts: Int = 2,
          retrySleep: Long => Unit = Thread.sleep,
          onAttempt: Int => Unit = _ => ()): (DataFrame, PipelineStats) = {
    var attempt = 0
    Retry.withBackoff(maxAttempts, intervalMs = 60000L, backoff = 2.0,
                      sleep = retrySleep) {
      attempt += 1
      onAttempt(attempt)
      runOnce(spark, listingsCsv, censusJson, outDir, samplePerState, sampleSeed)
    }.get
  }

  private def runOnce(spark: SparkSession, listingsCsv: String, censusJson: String,
                      outDir: Option[String], samplePerState: Int,
                      sampleSeed: Long): (DataFrame, PipelineStats) = {
    val census = readCensus(spark, censusJson)
    val schema = readListings(spark, listingsCsv).schema
    val censusKeys = census.select(col("zip_code")).distinct()

    // STEP 2, late-materialized: the listings as raw record lines (the
    // line-based CSV reader takes one line as one record; blank and
    // header lines are dropped as it drops them), each parsed ONCE into
    // only the six columns the stage predicates read. PipelineSpec pins
    // the six.
    val predicateSchema = StructType(
      schema.filter(f => f.name == "state" || cleanColumns.contains(f.name)))
    val records = spark.read.text(listingsCsv)
      .filter(CsvRecordLine.col(col("value"),
        header = listingsOptions("header").toBoolean))
      .select(col("value"),
        parseRecord(col("value"), schema, Some(predicateSchema)).as("__rec"))
      .select(col("value"), col("__rec.*"))

    // STEPS 3–6 and their audit counts: the reference prints a count
    // after EVERY stage (13 uncached rescans, SURVEY §3.2) and samples
    // with a window. Here ONE scan feeds ONE aggregate grouped by the
    // target state (null for every other row, so ≤ |targetStates| + 1
    // groups). The stage boundaries are running-AND predicates, so each
    // count is a conditional count summed over the groups. Coverage
    // (STEP 5) is a broadcast LEFT join against the distinct census keys
    // (no row multiplication), marker-null = uncovered. PipelineSpec pins
    // the values, exactly 1 listings data scan per run (scans behind
    // caches included), and no Window/Sort node in any executed plan.
    val stateOk = col("state").isin(targetStates: _*)
    val covered = stateOk && cleanOk && col("__census_cov").isNotNull
    val groups = records
      .join(broadcast(censusKeys.withColumn("__census_cov", lit(1))),
            Seq("zip_code"), "left")
      // The aggregate reads only these four columns. Because `__cand`
      // holds rand, Catalyst cannot inline this projection into the
      // aggregate, so the candidate struct is built by the scan stage's
      // generated code and only for covered rows.
      .select(
        when(stateOk, col("state")).as("__state"),
        (stateOk && cleanOk).as("__clean"),
        covered.as("__covered"),
        // STEP 6 candidates: (rand, raw line) for covered rows only, rand
        // drawn in scan order — the same rand(seed) stream per split the
        // window form drew after its filters, so the same rows win
        // (PipelineSpec keeps the window form as the reference). SeededRand
        // keeps the seed out of the generated code, so a new seed reuses
        // the compiled scan stage.
        when(covered, struct(SeededRand.col(sampleSeed), col("value")))
          .as("__cand"))
      .groupBy(col("__state"))
      .agg(count(lit(1)), count_if(col("__clean")), count_if(col("__covered")),
        // STEP 6: the n smallest (rand, line) structs per state — a
        // bounded top-k; CollectTopK skips the nulls of uncovered rows
        GraftSql.column(new CollectTopK(
          GraftSql.expression(col("__cand")), samplePerState, reverse = true)))
      .collect().toSeq
    def total(rows: Seq[Row], i: Int): Long = rows.map(_.getLong(i)).sum
    val inStates = groups.filterNot(_.isNullAt(0))
    // the ≤ samplePerState × |targetStates| winning lines, per state in
    // rand order, parsed in full only now — as ONE partition, so the
    // step-10 coalesce(1) has nothing to merge
    val winners = inStates.sortBy(_.getString(0))
      .flatMap(_.getSeq[Row](4))
      .map(r => Row(r.getString(1)))
    val sampled = spark.createDataFrame(winners.asJava,
        StructType(Seq(StructField("value", StringType))))
      .select(parseRecord(col("value"), schema).as("__rec"))
      .select(col("__rec.*"))
      .coalesce(1)

    val enriched = enrich(sampled, census).cache()
    val audit = enriched.agg(
      count(lit(1)).as("joined"),
      count(col("census_median_income")).as("matched")).head()
    val (joinedN, matchedN) = (audit.getLong(0), audit.getLong(1))
    val stats = PipelineStats(
      censusZips = censusKeys.count(),
      rawListings = total(groups, 1),
      afterStateFilter = total(inStates, 1),
      afterNullClean = total(inStates, 2),
      afterCoverage = total(inStates, 3),
      sampled = winners.size,
      joined = joinedN,
      matched = matchedN,
      matchRatePct = if (joinedN > 0) 100.0 * matchedN / joinedN else 0.0,
      outputColumns = enriched.columns.length)

    outDir.foreach { d =>
      enriched.coalesce(1).write.mode("overwrite")
        .option("header", "true").csv(d)
    }
    (enriched, stats)
  }

  /** Persistent catalog registration — the durable 18-column table the
    * reference declares for Athena (`/root/reference/Schema.json:1-92`,
    * `RealEstatePipeline.asl.json:120-130`): `CREATE TABLE ... USING
    * parquet` at an explicit location, queryable by name across the
    * session catalog (vs the temp-view-only `sql_view_query`). */
  def registerCatalog(spark: SparkSession, enriched: DataFrame,
                      path: String,
                      tableName: String = "real_estate_enriched"): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $tableName")
    enriched.write.mode("overwrite").format("parquet")
      .option("path", path).saveAsTable(tableName)
  }
}
