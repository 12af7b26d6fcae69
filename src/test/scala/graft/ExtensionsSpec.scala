package graft

/** The SparkSessionExtensions injection path: the shared test session is
  * built with `spark.sql.extensions=graft.functions.GraftExtensions`
  * (a STATIC conf, applied at SparkContext creation — see Sessions), so
  * the custom expressions resolve from plain SQL in every session of the
  * application. This is the production registration route; per-session
  * `GraftSql.register` remains the fallback for externally-constructed
  * sessions (the driver's). */
class ExtensionsSpec extends SparkSpec {

  test("spark.sql.extensions registers poly_hash for SQL application-wide") {
    val h1 = spark.sql("SELECT poly_hash('abc') AS h").head().getLong(0)
    assert(h1 === functions.PolyHash.hashBytes("abc".getBytes("UTF-8")))
    // ...and in a derived newSession (application-level, not session-level)
    val h1b = spark.newSession().sql("SELECT poly_hash('abc') AS h").head().getLong(0)
    assert(h1b === h1)
  }

  test("array_l1 from SQL: codegen distance, null on length mismatch") {
    val r = spark.sql(
      "SELECT array_l1(array(1L, 5L, 3L), array(4L, 1L, 3L)) AS d").head()
    assert(r.getLong(0) === 7L)
    val mismatch = spark.sql(
      "SELECT array_l1(array(1L, 2L), array(1L)) AS d").head()
    assert(mismatch.isNullAt(0), "length mismatch must yield NULL")
  }

  test("poly_hash_mod from SQL matches the portable fold; non-literal params rejected") {
    val h2 = spark.sql("SELECT poly_hash_mod('abc', 31, 1000000007) AS h")
      .head().getLong(0)
    val expected = "abc".foldLeft(0L)((acc, c) => (acc * 31 + c) % 1000000007L)
    assert(h2 === expected)
    val err = intercept[Exception](
      spark.sql("SELECT poly_hash_mod('abc', length('xy'), 7)").head())
    assert(err.getMessage.contains("integer literal"))
  }
}
