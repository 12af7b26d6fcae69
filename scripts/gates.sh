#!/usr/bin/env bash
# Round-gate runner: the three gates every round must record BEFORE the
# snapshot commit (VERDICT r12 item 1 — round evidence must be
# self-contained; the driver's capture artifacts have come back empty
# before, so the repo keeps its own record).
#
#   1. sbt -batch test                      (full ScalaTest suite)
#   2. graft.Verify sf0.01 + compare_oracle (the driver's DuckDB t2 mirror)
#   3. graft.Bench at sf0.1                 (builder bench -> bench.json)
#
# Usage: scripts/gates.sh <round-number>
# Appends a dated "Round <N> gates" block (gate results, memo evictions,
# the oracle-digest diff, plus per-file code-line counts of
# src/main/scala/graft/ext) to BASELINE.md, rewrites oracle_sql.sha256
# from the Verify dump and leaves this run's bench.json at the repo root
# for the commit. Exits non-zero on the first red gate. Full per-gate
# logs live in /tmp/gates_*_r<N>.log.
set -uo pipefail
cd "$(dirname "$0")/.."
ROUND="${1:?usage: scripts/gates.sh <round-number>}"
SF_VERIFY=/root/testdata/sf0.01
SF_BENCH=/root/testdata/sf0.1
OUT=/tmp/gates_out
LOG=/tmp/gates_r${ROUND}.log
: > "$LOG"

echo "== gate 1/3: sbt test ==" | tee -a "$LOG"
TLOG=/tmp/gates_tests_r${ROUND}.log
sbt -batch test > "$TLOG" 2>&1
TRC=$?
tail -5 "$TLOG" | tee -a "$LOG"
TESTS_LINE=$(grep -E "Tests: succeeded" "$TLOG" | tail -1)
# exit status AND the ScalaTest summary, grepped over the FULL log (a
# trailing shutdown/deprecation line must not flip the verdict)
if [ $TRC -ne 0 ] || ! grep -q "All tests passed" "$TLOG"; then
  echo "GATE 1 RED (rc=$TRC) — stopping; see $TLOG" | tee -a "$LOG"; exit 1
fi

echo "== gate 2/3: Verify + oracle mirror ==" | tee -a "$LOG"
rm -rf "$OUT"
VLOG=/tmp/gates_verify_r${ROUND}.log
if ! sbt -batch "runMain graft.Verify $SF_VERIFY $OUT" > "$VLOG" 2>&1; then
  echo "GATE 2 RED (Verify run failed) — stopping; see $VLOG" | tee -a "$LOG"
  exit 1
fi
if grep -q "failed:" "$VLOG"; then
  echo "GATE 2 RED (per-query Verify failures) — stopping; see $VLOG" \
    | tee -a "$LOG"
  exit 1
fi
# compare_oracle exits 1 on any FAIL or a >120 s single oracle (the
# hard cap — a blowup there WOULD empty the driver's t2 artifact, the
# CORRECTNESS_r18 failure mode); its last line is "N pass, N fail,
# N rows-only" and any per-oracle budget warnings land in the log
CLOG=/tmp/gates_compare_r${ROUND}.log
if ! python3 scripts/compare_oracle.py "$SF_VERIFY" "$OUT" > "$CLOG" 2>&1; then
  tail -3 "$CLOG" | tee -a "$LOG"
  echo "GATE 2 RED — stopping; see $CLOG" | tee -a "$LOG"; exit 1
fi
ORACLE_LINE=$(tail -1 "$CLOG")
grep -E "^(SLOW|ORACLE BUDGET)" "$CLOG" | tee -a "$LOG" || true
echo "oracle mirror: $ORACLE_LINE" | tee -a "$LOG"
# Verify's summary line carries the memo eviction count
VERIFY_MEMO=$(grep -o 'memo_evictions=[0-9]*' "$VLOG" | tail -1)
# per-key oracle SQL digests: compare with the committed file, then
# rewrite it from this dump (a Spark-side refactor shows "0 differ")
DIGEST_LINE=$(python3 scripts/oracle_digests.py "$OUT/oracle_sql.json" \
  oracle_sql.sha256 | tee -a "$LOG" | head -1)

echo "== gate 3/3: builder bench sf0.1 ==" | tee -a "$LOG"
BLOG=/tmp/gates_bench_r${ROUND}.log
if ! SPARK_GRAFT_SF_DIR="$SF_BENCH" SPARK_GRAFT_CPUS=32 \
     sbt -batch "runMain graft.Bench" > "$BLOG" 2>&1; then
  echo "GATE 3 RED (bench run failed) — stopping; see $BLOG" | tee -a "$LOG"
  exit 1
fi
# n_errors is Bench's own per-query failure count (errored queries keep
# their elapsed seconds in `queries` — never infer errors from values)
BENCH_LINE=$(python3 - <<'EOF'
import json
# guard the format: a schema change in bench.json must report itself as
# "malformed", never crash the f-string and leave a blank bench: line
try:
    b = json.load(open("bench.json"))
except Exception as e:
    print(f"malformed bench.json (unreadable: {e})")
else:
    value = b.get("value")
    if isinstance(value, (int, float)):
        print(f'{value:.1f} s / {len(b.get("queries", {}))} queries / '
              f'errors={b.get("n_errors", "?")} / '
              f'memo_evictions={b.get("memo_evictions", "?")}')
    else:
        print(f"malformed bench.json (no numeric value: {value!r})")
EOF
)
echo "bench: $BENCH_LINE" | tee -a "$LOG"
case "$BENCH_LINE" in
  *"errors=0"*) ;;
  *) echo "GATE 3 RED (bench query errors) — stopping; see $BLOG" \
       | tee -a "$LOG"; exit 1 ;;
esac

# Per-file code lines of the operator sources (comment-only and blank
# lines excluded), so the code-size aim has a number every round
CODE_LINES=$(for f in src/main/scala/graft/ext/*.scala; do
  printf '%s %s, ' "$(basename "$f" .scala)" \
    "$(grep -vcE '^[[:space:]]*(/\*\*|\*|//|$)' "$f")"
done)

{
  echo ""
  echo "## Round ${ROUND} gates ($(date -u +%Y-%m-%d))"
  echo ""
  echo "- tests: ${TESTS_LINE:-see $TLOG}"
  echo "- oracle mirror (sf0.01): ${ORACLE_LINE}; Verify ${VERIFY_MEMO:-memo_evictions=?}"
  echo "- ${DIGEST_LINE:-oracle digests: not computed} — oracle_sql.sha256 rewritten"
  echo "- builder bench (sf0.1, local[32]): ${BENCH_LINE} — committed bench.json"
  echo "- code lines, src/main/scala/graft/ext (grep -vcE" \
       "'^[[:space:]]*(/\*\*|\*|//|\$)'): ${CODE_LINES%, }"
} >> BASELINE.md
echo "Appended Round ${ROUND} gate block to BASELINE.md"

# Durable builder record: the driver's post-commit bench overwrites
# bench.json every round (VERDICT r13/r14 housekeeping item). Keep the
# builder's quiet-box run at a path the driver never touches, so the next
# round can restore bench.json with a one-line copy instead of git
# archaeology.
cp bench.json bench_builder.json
echo "Saved builder record to bench_builder.json"
