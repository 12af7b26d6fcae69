package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built: every main and the test JVM
  * get the same local session, so its settings cannot drift. */
object Sessions {
  /** Cores for the mains: `SPARK_GRAFT_CPUS`, default 4. */
  private def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)

  /** `local[cpus]`, one shuffle partition per core; `warehouse` is the
    * test JVM's temp `spark.sql.warehouse.dir`. */
  def local(cpus: Int = envCpus, warehouse: Option[String] = None): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // the bounded top-k Aggregator (TopKPairsAggregator) must stay in
      // HASH-based object aggregation: the default fallback threshold
      // (128 keys) silently degrades the n-keys-per-partition ranked-IVF
      // partial agg to sort-based, re-paying the window sort it replaced
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
              "4194304")
      .config("spark.ui.enabled", "false")
      // poly_hash / poly_hash_mod and the other graft expressions in SQL
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    val spark = warehouse.fold(b)(b.config("spark.sql.warehouse.dir", _))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.ext.CapMetrics.register(spark)
    spark
  }
}
