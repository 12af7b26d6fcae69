package graft

import org.apache.spark.sql.functions._

/** Enforces the cross-engine ASCII assumption two oracles rest on
  * (flagged round 3): `mm_byte_histogram` equates UTF-8 byte high-nibbles
  * (Spark) with codepoint//16 (DuckDB), and `text_rollhash` equates
  * `ascii(char)` (DuckDB) with UTF-8 bytes (Spark's PolyHash). Both hold
  * iff every `documents.text` byte is < 0x80. This spec turns that
  * implicit testdata property into a gate failure the moment regenerated
  * testdata gains non-ASCII text — the fix then is byte-based oracles,
  * not silent divergence. */
class TestdataAsciiSpec extends SparkSpec {

  private def nonAsciiDocs(dir: String): Long =
    Tables.documents(spark, dir)
      // a string is pure ASCII iff its UTF-8 byte length == its char length
      .filter(octet_length(col("text")) =!= length(col("text")))
      .count()

  test("documents.text is pure ASCII at every verify/bench scale") {
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val dir = s"/root/testdata/$sf"
      if (new java.io.File(s"$dir/documents.parquet").exists()) {
        assert(nonAsciiDocs(dir) === 0L,
          s"$sf has non-ASCII documents.text — mm_byte_histogram and " +
            "text_rollhash oracles must switch to byte-based SQL")
      }
    }
  }

  test("rank-selection value columns are non-null at every scale") {
    // agg_median / time_value_quantiles / text_len_quantiles order by raw
    // stored values: Spark sorts NULLs FIRST asc, DuckDB LAST — a future
    // generator emitting NULLs would silently shift positional ranks on
    // one engine only. Fail loudly here instead (ADVICE round 11).
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val dir = s"/root/testdata/$sf"
      if (new java.io.File(s"$dir/events.parquet").exists()) {
        assert(Tables.events(spark, dir)
                 .filter(col("value").isNull).count() === 0L,
          s"$sf has NULL events.value — rank-selection oracles need an " +
            "IS NOT NULL guard on BOTH engines before this data is usable")
        assert(Tables.orders(spark, dir)
                 .filter(col("o_totalprice").isNull).count() === 0L,
          s"$sf has NULL orders.o_totalprice — agg_median's positional " +
            "rank needs an IS NOT NULL guard on BOTH engines")
      }
    }
  }

  test("embeddings.label is non-null at every scale") {
    // sim_filtered_topk's composite bucket key concat_ws("#", cell,
    // label) SKIPS a NULL label (concat_ws semantics), so null-labeled
    // vectors would bucket together and match each other on the Spark
    // side while the oracle's x.label = y.label join never matches NULL
    // — the bijective-key claim holds only on null-free labels. Enforce
    // it, don't assume it (ADVICE round 13).
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val dir = s"/root/testdata/$sf"
      if (new java.io.File(s"$dir/embeddings.parquet").exists()) {
        assert(Tables.embeddings(spark, dir)
                 .filter(col("label").isNull).count() === 0L,
          s"$sf has NULL embeddings.label — sim_filtered_topk's composite " +
            "(cell, label) key needs label.isNotNull on BOTH engines " +
            "before this data is usable")
      }
    }
  }

  test("lineitem.l_orderkey is non-null at every scale") {
    // agg_approx's exact count rewrites countDistinct(l_orderkey) as
    // distinct() + count(*): a NULL key would count as its own group,
    // while the oracle's count(DISTINCT l_orderkey) ignores it — the
    // rewrite is exact only on a null-free column.
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val dir = sf0001.replace("sf0.001", sf) // the scales sit side by side
      if (new java.io.File(s"$dir/lineitem.parquet").exists()) {
        assert(Tables.lineitem(spark, dir)
                 .filter(col("l_orderkey").isNull).count() === 0L,
          s"$sf has NULL lineitem.l_orderkey — agg_approx's distinct + " +
            "count rewrite needs an isNotNull filter before this data is usable")
      }
    }
  }

  // A third suspected invariant of this class — "the funnel/scd2/asof
  // strict-ts oracles need microsecond-grain event timestamps" — was
  // investigated and REFUTED: the at-rest nanos DO carry sub-µs
  // components at every scale, but DuckDB reads parquet TIMESTAMP(NANOS)
  // as its µs-resolution TIMESTAMP (DESCRIBE shows TIMESTAMP, and
  // epoch_ns(ts) % 1000 = 0 for all rows), i.e. the SAME ns→µs
  // truncation Tables.events applies. Both engines compare identical
  // µs values; there is no grain assumption to enforce.
}
