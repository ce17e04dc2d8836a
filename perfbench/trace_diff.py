#!/usr/bin/env python3
"""Compares the layer counts of two traced runs and prints what moved.

    python3 perfbench/trace_diff.py BEFORE.json AFTER.json

Inputs are the trace files `run.py --trace 1` writes under
$CARGO_TARGET_DIR/traces (default .bench_build/traces). Only counts are
compared (jobs, stages, tasks, compiles, shuffle and spill bytes, rows,
versions, files) because they do not depend on how busy the machine was;
times are left to the end-to-end runs. For query_sweep the per-query job,
task, compile and shuffle counts are compared too. Every change is printed,
except compile moves within COMPILE_NOISE: Janino compile counts move by a
few between identical runs, the other counts repeat exactly for the same
workload and seed. Exits 0 either way.
"""

import argparse
import json

COUNT_WORDS = ("jobs", "stages", "tasks", "compiles", "shuffle_bytes", "spill_bytes",
               "rows_per_batch", "versions", "merges", "files", "bytes", "dlq_rows")
# a compile count moved if it changed by more than 4 and by more than 30 %:
# between runs of the same seed, per-query compiles per pass moved by up to
# 3.7 (x13_ann_ivf, 14.0 to 10.3) and by up to 67 % on small counts (4.5 to 7.5)
COMPILE_NOISE = (4.0, 0.30)


def is_count(name):
    return any(w in name for w in COUNT_WORDS) and not name.endswith("_ms")


def moved(name, a, b):
    if "compiles" in name:
        return abs(b - a) > max(COMPILE_NOISE[0], COMPILE_NOISE[1] * abs(a))
    return a != b


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("before")
    ap.add_argument("after")
    args = ap.parse_args()
    a, b = (json.load(open(p)) for p in (args.before, args.after))
    if a["workload"] != b["workload"]:
        print(f"note: comparing different workloads {a['workload']} and {b['workload']}")
    if a["seed"] != b["seed"]:
        print(f"note: seeds differ ({a['seed']}, {b['seed']}), so input-dependent counts differ too")
    pa, pb = a["per_layer"], b["per_layer"]
    rows = []
    for k in sorted(set(pa) | set(pb)):
        if not is_count(k):
            continue
        x, y = pa.get(k, 0.0), pb.get(k, 0.0)
        if moved(k, x, y):
            rows.append((k, x, y))
    qa = a["traced"].get("trace", {}).get("per_query", {})
    qb = b["traced"].get("trace", {}).get("per_query", {})
    for q in sorted(set(qa) | set(qb)):
        for k in ("jobs", "tasks", "compiles", "shuffle_bytes"):
            x, y = qa.get(q, {}).get(k, 0.0), qb.get(q, {}).get(k, 0.0)
            if moved(k, x, y):
                rows.append((f"{q}.{k}", x, y))
    if not rows:
        print("no layer count moved")
        return
    width = max(len(r[0]) for r in rows)
    print(f"{'metric':<{width}}  {'before':>14}  {'after':>14}  change")
    for k, x, y in rows:
        rel = f"{(y - x) / x:+.1%}" if x else "new"
        print(f"{k:<{width}}  {x:>14.1f}  {y:>14.1f}  {rel}")


if __name__ == "__main__":
    main()
