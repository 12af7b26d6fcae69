package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{expr, lit, round}

/** Cross-engine-stable rounding.
  *
  * `round(x, s)` is NOT portable for doubles: Spark rounds the exact
  * decimal expansion of the binary value (BigDecimal HALF_UP) while
  * DuckDB computes `round(x * 10^s) / 10^s` in doubles — they disagree
  * when x sits within a few ulps of a `.5 * 10^-s` boundary (observed on
  * testdata: 9508.845-ish → 9508.85 vs 9508.84).
  *
  * Fix: use the multiply–round–divide form on BOTH engines. The inner
  * multiply and outer divide are bit-identical IEEE ops, and scale-0
  * rounding agrees (both round half away from zero), so results are
  * bit-identical. `Num.sql` emits the matching ANSI SQL for the oracle.
  */
object Num {
  private def p10(s: Int): Double = math.pow(10, s)

  /** Portable round-to-s-decimals for double columns. */
  def rnd(c: Column, s: Int): Column = round(c * lit(p10(s))) / lit(p10(s))

  /** The identical expression in ANSI SQL (DuckDB oracle side). */
  def sql(expr: String, s: Int): String = {
    val p = s"1e$s" // 1e2 = 100.0 etc., double literal in DuckDB
    s"round(($expr) * $p) / $p"
  }

  /** `num / den` in integer micro-units (exact BIGINT `div`), `ifZero`
    * when `den` is 0 — the recall/precision ratio of every eval query,
    * written once so the metric cannot drift between them. */
  def micro(num: String, den: String, ifZero: Long): Column =
    expr(s"CASE WHEN $den = 0 THEN CAST($ifZero AS BIGINT) " +
      s"ELSE ($num * CAST(1000000 AS BIGINT)) div $den END")
}
