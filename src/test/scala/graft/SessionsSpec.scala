package graft

/** The one session factory's settings, checked on the session it hands
  * the test JVM: a setting dropped from [[Sessions]] fails here instead
  * of drifting silently between mains. */
class SessionsSpec extends SparkSpec {

  test("the factory session: UTC, hash-agg fallback, UI off, 4 partitions, graft SQL") {
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get(
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold") === "4194304")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") === "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    val h = spark.sql("SELECT poly_hash('abc') AS h").head().getLong(0)
    assert(h === functions.PolyHash.hashBytes("abc".getBytes("UTF-8")))
  }
}
