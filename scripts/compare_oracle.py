#!/usr/bin/env python3
"""Local mirror of the driver's t2 DuckDB-oracle compare.

Usage: python3 scripts/compare_oracle.py <sfDir> <verifyOutDir>
       python3 scripts/compare_oracle.py <verifyOutDir> --same-sql <other oracle_sql.json>

For each query dumped by graft.Verify: load the Spark parquet result and
the DuckDB result of the oracle SQL, sort columns by name, sort rows,
compare shape + values. Reports per-query PASS/FAIL. Queries without
oracle SQL get a rows-only report.

--same-sql proves a Spark-side change left the reference untouched: it
prints every query whose oracle SQL string in <verifyOutDir> differs from
(or is missing in) the other dump, and exits 1 if there is any.
"""
import json
import math
import sys
import time

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Per-oracle DuckDB wall budget (seconds). The driver's t2 compare has a
# TOTAL time budget; round 18 shipped with an EMPTY CORRECTNESS_r18.json
# because ONE oracle (sim_split_incremental_deep, a CTE fold DuckDB
# re-inlined exponentially) ran >17 min and blew it. Any oracle past this
# budget is flagged loudly at gate time so the blowup is caught at commit,
# not at the driver (VERDICT r18 item 1).
ORACLE_BUDGET_SEC = 20.0

# Above this, the compare itself goes RED: a >2-minute single oracle is an
# unambiguous blowup (not host noise) and WOULD empty the driver artifact.
ORACLE_HARD_CAP_SEC = 120.0


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize for stable sort/compare
    def norm(v):
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            return repr(v)
        if isinstance(v, bytes):
            return v.hex()
        return str(v)
    if len(df) == 0:
        return df
    key = df.apply(lambda r: tuple(norm(v) for v in r), axis=1)
    return df.iloc[key.sort_values(kind="mergesort").index].reset_index(drop=True)


def values_equal(a, b) -> bool:
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    try:
        if pd.isna(a) and pd.isna(b):
            return True
        if bool(pd.isna(a)) != bool(pd.isna(b)):
            return False
    except (TypeError, ValueError):
        pass
    return str(a) == str(b)


def same_sql(out_dir: str, other_path: str) -> int:
    with open(f"{out_dir}/oracle_sql.json") as f:
        mine = json.load(f)
    with open(other_path) as f:
        other = json.load(f)
    differ = sorted(n for n in mine.keys() | other.keys()
                    if mine.get(n) != other.get(n))
    for n in differ:
        why = ("only in the other dump" if n not in mine else
               "only in this dump" if n not in other else "SQL differs")
        print(f"DIFF  {n}: {why}")
    print(f"\n{len(mine)} oracle strings, {len(differ)} differ from "
          f"{other_path}")
    return 1 if differ else 0


def main(sf_dir: str, out_dir: str) -> int:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracle = json.load(f)

    import glob
    import os
    names = sorted(os.path.basename(p) for p in glob.glob(f"{out_dir}/*")
                   if os.path.isdir(p))
    n_pass = n_fail = 0
    over_budget = []
    for name in names:
        try:
            spark_df = pd.concat(
                [pd.read_parquet(p) for p in
                 sorted(glob.glob(f"{out_dir}/{name}/*.parquet"))],
                ignore_index=True) if glob.glob(f"{out_dir}/{name}/*.parquet") \
                else pd.read_parquet(f"{out_dir}/{name}")
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: cannot read spark output: {e}")
            n_fail += 1
            continue
        if name not in oracle:
            print(f"rows  {name}: {len(spark_df)} rows (no oracle)")
            continue
        try:
            t0 = time.time()
            duck_df = con.execute(oracle[name]).fetchdf()
            oracle_sec = time.time() - t0
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        if oracle_sec > ORACLE_BUDGET_SEC:
            over_budget.append((name, oracle_sec))
            print(f"SLOW  {name}: oracle took {oracle_sec:.1f}s "
                  f"(budget {ORACLE_BUDGET_SEC:.0f}s) — the driver's t2 "
                  "compare has a total budget; bound this oracle")
        s, d = canon(spark_df), canon(duck_df)
        if list(s.columns) != list(d.columns):
            print(f"FAIL  {name}: columns {list(s.columns)} vs {list(d.columns)}")
            n_fail += 1
            continue
        if len(s) != len(d):
            print(f"FAIL  {name}: rows {len(s)} vs {len(d)}")
            n_fail += 1
            continue
        bad = None
        for i in range(len(s)):
            for c in s.columns:
                if not values_equal(s.at[i, c], d.at[i, c]):
                    bad = (i, c, s.at[i, c], d.at[i, c])
                    break
            if bad:
                break
        if bad:
            print(f"FAIL  {name}: row {bad[0]} col {bad[1]}: "
                  f"spark={bad[2]!r} duck={bad[3]!r}")
            n_fail += 1
        else:
            print(f"PASS  {name}: {len(s)} rows")
            n_pass += 1
    if over_budget:
        print(f"\nORACLE BUDGET WARNING: {len(over_budget)} oracle(s) over "
              f"{ORACLE_BUDGET_SEC:.0f}s — "
              + ", ".join(f"{n} {s:.1f}s" for n, s in over_budget))
    blown = [(n, s) for n, s in over_budget if s > ORACLE_HARD_CAP_SEC]
    if blown:
        print("ORACLE HARD CAP EXCEEDED (gate red): "
              + ", ".join(f"{n} {s:.1f}s" for n, s in blown))
    print(f"\n{n_pass} pass, {n_fail} fail, "
          f"{len(names) - n_pass - n_fail} rows-only")
    return 1 if n_fail or blown else 0


if __name__ == "__main__":
    args = sys.argv[1:]
    if "--same-sql" in args:
        i = args.index("--same-sql")
        other = args[i + 1]
        del args[i:i + 2]
        sys.exit(same_sql(args[0], other))
    sys.exit(main(args[0], args[1]))
