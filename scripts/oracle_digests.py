#!/usr/bin/env python3
"""Per-key digests of a Verify dump's oracle SQL.

    scripts/oracle_digests.py <verify_out>/oracle_sql.json oracle_sql.sha256 [--check]

Reads the dump's {query name: oracle SQL} map, compares one sha256 per key
against the digest file (one sorted `name sha256` line per key), prints

    oracle digests: N differ, N added, N removed (K keys)

and then rewrites the digest file from the dump. `--check` compares only and
exits 1 on any difference. A Spark-side refactor that leaves every oracle
string alone shows "0 differ, 0 added, 0 removed" against the committed
file, with no second Verify run on the parent commit.
"""
import hashlib
import json
import sys


def digests(oracle_json):
    with open(oracle_json, encoding="utf-8") as f:
        sql = json.load(f)
    return {k: hashlib.sha256(v.encode("utf-8")).hexdigest()
            for k, v in sql.items()}


def read_file(path):
    try:
        with open(path, encoding="utf-8") as f:
            return dict(line.split() for line in f if line.strip())
    except FileNotFoundError:
        return {}


def main(argv):
    args = [a for a in argv if a != "--check"]
    if len(args) != 2:
        sys.exit(__doc__)
    new, old = digests(args[0]), read_file(args[1])
    differ = sorted(k for k in new.keys() & old.keys() if new[k] != old[k])
    added = sorted(new.keys() - old.keys())
    removed = sorted(old.keys() - new.keys())
    print(f"oracle digests: {len(differ)} differ, {len(added)} added, "
          f"{len(removed)} removed ({len(new)} keys)")
    for label, keys in (("differ", differ), ("added", added),
                        ("removed", removed)):
        for k in keys[:10]:
            print(f"  {label}: {k}")
        if len(keys) > 10:
            print(f"  {label}: … {len(keys) - 10} more")
    if "--check" in argv:
        return 1 if differ or added or removed else 0
    with open(args[1], "w", encoding="utf-8") as f:
        f.writelines(f"{k} {new[k]}\n" for k in sorted(new))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
