"""Turns the JVM's raw record of one run into the benchmark's metrics.

Kept apart from run.py so the arithmetic (the percentile rule, span self
time) is tested without a JVM: python3 -m unittest discover perfbench/tests
"""
import math
import statistics

MB = 1024.0 * 1024.0


def nearest_rank(xs, p):
    """The p-th percentile (0 < p <= 100) by the nearest-rank rule."""
    s = sorted(xs)
    rank = math.ceil(round(p * len(s) / 100.0, 9))
    return s[min(len(s), max(1, rank)) - 1]


def tail_percentile(n):
    """The highest percentile with at least ten samples beyond it by the
    nearest-rank rule, or None when there are ten samples or fewer."""
    return 100.0 * (n - 10) / n if n > 10 else None


def self_times(spans):
    """Self time per layer for one op's spans.

    `spans` is a list of (layer, start, end, parent_index) with the root
    first (parent_index None). A span's self time is its interval minus the
    part its children cover; children are clipped to their parent. Where
    spans of parallel branches are in their self time at once, the instant
    is split evenly between them, so the layers always sum to at most the
    root's duration.
    """
    if not spans:
        return {}
    clipped = []
    for layer, s, e, parent in spans:
        if parent is not None:
            ps, pe = clipped[parent][1], clipped[parent][2]
            s, e = max(s, ps), min(e, pe)
        clipped.append((layer, s, max(s, e), parent))
    events = []
    for i, (_, s, e, _) in enumerate(clipped):
        if e > s:
            events.append((s, 1, i))
            events.append((e, 0, i))
    events.sort()
    kids_active = [0] * len(clipped)
    active = set()
    out = {}
    last = None
    for t, kind, i in events:
        if last is not None and t > last:
            selfish = [j for j in active if kids_active[j] == 0]
            for j in selfish:
                layer = clipped[j][0]
                out[layer] = out.get(layer, 0.0) + (t - last) / len(selfish)
        last = t
        parent = clipped[i][3]
        if kind == 1:
            active.add(i)
            if parent is not None:
                kids_active[parent] += 1
        else:
            active.discard(i)
            if parent is not None:
                kids_active[parent] -= 1
    return out


def op_tree(op):
    """The span tree of one traced op: op > construct, action > Catalyst
    phases and jobs (by start time) > stages (inside their job)."""
    t0, t1, t2 = op["t0"], op["t1"], op["t2"]
    tree = [("op", t0, t2, None), ("construct", t0, t1, 0), ("action", t1, t2, 0)]

    def under(start):
        return 1 if start < t1 else 2

    raw = [tuple(s) for s in op["spans"]]
    jobs = []
    for layer, s, e in raw:
        if layer == "job":
            tree.append(("job", s, e, under(s)))
            jobs.append(len(tree) - 1)
        elif layer == "catalyst":
            tree.append(("catalyst", s, e, under(s)))
    for layer, s, e in raw:
        if layer == "stage":
            home = next((j for j in jobs if tree[j][1] <= s <= tree[j][2]), None)
            tree.append(("stage", s, e, home if home is not None else under(s)))
    return tree


def summarize(raw, cpus):
    """Returns (info, line): what is recorded but not bounded, and the
    result line with the workload's metrics."""
    ops = raw["ops"]
    walls = raw["iteration_ms"]
    wall = statistics.median(walls)
    failed = [o for o in ops if o["check"] == "failed"]
    correct = not failed and raw["inputs_identical"] and bool(ops)
    workload = raw["workload"]
    if workload == "etl":
        queries = [o for o in ops if o["family"] == "pipeline.sql"]
    else:
        queries = ops
    lat = [o["t2"] - o["t0"] for o in queries]
    tail = tail_percentile(len(lat))
    info = {
        "workload": workload,
        "seed": raw["seed"],
        "queries": len(lat),
        "query_p50_ms": statistics.median(lat),
        "query_tail": None if tail is None else
        {"percentile": round(tail, 2), "ms": nearest_rank(lat, tail)},
        "failed_frac": len(failed) / max(1, len(ops)),
        "failures": [{"op": o["name"], "error": o["error"]} for o in failed],
        "anchor_ms": raw["anchor_ms"],
        "op_ms": [[o["name"], round(o["t2"] - o["t0"], 1)] for o in ops],
        "setup_s": [x / 1000.0 for x in raw["setup_ms"]],
        "iteration_s": [x / 1000.0 for x in walls],
    }
    if not raw["trace"]:
        m = {
            "setup_s": (statistics.median(raw["setup_ms"]) / 1000.0, "s"),
            "wall_s": (wall / 1000.0, "s"),
            "heap_live_mb": (float(raw["heap_live_b"]) / MB, "MB"),
        }
    else:
        m = layers(raw, ops, walls, cpus)
    line = {
        "correct": correct,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()},
    }
    return info, line


def layers(raw, ops, walls, cpus):
    """Per-layer metrics of a traced run: totals per iteration (over the
    run's iterations, divided by their number), or peaks."""
    n = float(len(walls))

    def tot(key):
        return sum(o["layers"].get(key, 0.0) for o in ops)

    def fam(f):
        return sum(o["t2"] - o["t0"] for o in ops if o["family"] == f)

    self_ms = {}
    catalyst = 0.0
    for o in ops:
        for layer, v in self_times(op_tree(o)).items():
            self_ms[layer] = self_ms.get(layer, 0.0) + v
        catalyst += sum(e - s for layer, s, e in o["spans"] if layer == "catalyst")
    m = {
        "construct_ms": (sum(o["t1"] - o["t0"] for o in ops) / n, "ms"),
        "catalyst_ms": (catalyst / n, "ms"),
        "codegen_ms": (tot("codegen_ms") / n, "ms"),
        "codegen_classes": (tot("codegen_classes") / n, "count"),
        "task_ms": (tot("task_ms") / n, "ms"),
        "gc_ms": (tot("gc_ms") / n, "ms"),
        "n_tasks": (tot("n_tasks") / n, "count"),
        "n_jobs": (tot("n_jobs") / n, "count"),
        "shuffle_write_mb": (tot("shuffle_write_b") / MB / n, "MB"),
        "spill_mb": (tot("spill_b") / MB / n, "MB"),
        "executor_util": (tot("task_ms") / (cpus * sum(walls)), "ratio"),
        "scan_mb": (tot("input_b") / MB / n, "MB"),
        "pipeline.read_ms": (fam("pipeline.read") / n, "ms"),
        "pipeline.run_ms": (fam("pipeline.run") / n, "ms"),
        "pipeline.catalog_ms": (fam("pipeline.catalog") / n, "ms"),
        "pipeline.sql_ms": (fam("pipeline.sql") / n, "ms"),
        "storage_resident_mb": (max((o["layers"].get("storage_b", 0.0) for o in ops),
                                    default=0.0) / MB, "MB"),
        "persisted_rdds": (max((o["layers"].get("persisted_rdds", 0.0) for o in ops),
                               default=0.0), "count"),
        "memo_builds": (sum(1 for o in ops if o["layers"].get("new_persisted", 0) > 0) / n,
                        "count"),
        "family.dedup_s": (fam("dedup") / 1000.0 / n, "s"),
        "family.corpus_s": (fam("corpus") / 1000.0 / n, "s"),
        "family.sim_split_s": (fam("sim_split") / 1000.0 / n, "s"),
        "family.sim_s": (fam("sim") / 1000.0 / n, "s"),
        "family.relational_s": (fam("relational") / 1000.0 / n, "s"),
        "heap_live_peak_mb": (float(raw["heap_live_peak_b"]) / MB, "MB"),
        "anchor_ms": (statistics.median(raw["anchor_ms"]), "ms"),
        "traced_wall_s": (statistics.median(walls) / 1000.0, "s"),
    }
    for layer in ("construct", "action", "catalyst", "job", "stage"):
        m[f"self.{layer}_ms"] = (self_ms.get(layer, 0.0) / n, "ms")
    return m
