#!/usr/bin/env python3
"""Replication benchmark for the dionysus-rb Spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine (src/main/scala) and the
benchmark harness (perfbench/src) from source with scalac into the build
directory ($CARGO_TARGET_DIR, default .bench_build), generates the fixed
snapshots once, writes the seeded inputs, runs one workload in one JVM,
checks every output, and prints one JSON result line last.

--trace 0 prints the end-to-end metrics. --trace 1 runs the workload with
tracing on and prints the per-layer metrics, including the tracing overhead
against this checkout's untraced runs; the traced run's outputs pass the
same checks. See perfbench/README.md.
"""

import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

T0_MS = int(time.time() * 1000)
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)


def spark_home():
    """$SPARK_HOME, else the first PATH entry `<home>/bin` whose `<home>/jars`
    holds a Spark distribution (a pip pyspark's bin directory does not)."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.abspath(d))
        if glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
            return home
    return ""


SPARK_JARS = os.path.join(spark_home(), "jars")
SCALA = ["scala-compiler", "scala-library", "scala-reflect"]
HEAP = "2g"
SNAP_TS_US = 1_767_225_600_000_000  # 2026-01-01T00:00:00Z, backfill snapshot time
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

# workload shapes (see README.md for why each number is what it is)
LIVE = dict(sf="sf0.001", interval_ms=60, rows_per_file=5, warm_files=20)
BACKFILL = dict(sf="sf0.01", pace_files=4, wave_files=4)
SWEEP = dict(sf="sf0.01", pass_s=6.5)  # one pass takes about 6.5 s on 4 cores
# runnable by hand, not part of BENCHMARK.json (see README.md)
EXTRA_WORKLOADS = {"backfill_aggregate"}


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def classpath_jars():
    jars = sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar")))
    if not jars:
        die(f"no Spark jars under {SPARK_JARS}")
    return jars


def build():
    """Compiles the engine and the harness once per source state."""
    product = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not product:
        die("no engine sources under src/main/scala; run from the root of a checkout")
    h = hashlib.sha256()
    for f in product + bench:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(build_dir(), "classes")
    stamp = os.path.join(out, ".stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return out
    jars = classpath_jars()
    compiler = [j for j in jars if any(os.path.basename(j).startswith(s + "-2") for s in SCALA)]
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx3g", "-cp", os.pathsep.join(compiler),
         "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", os.pathsep.join(jars)]
        + product + bench, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        die("build failed")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return out


def snapshots():
    """The fixed base tables, generated once per generator version."""
    import gen_data
    root = os.path.join(build_dir(), "data")
    sfs = sorted({c["sf"] for c in (LIVE, BACKFILL, SWEEP)})
    with open(os.path.join(HERE, "gen_data.py"), "rb") as fh:
        digest = hashlib.sha256(fh.read() + " ".join(sfs).encode()).hexdigest()
    stamp = os.path.join(root, ".stamp")
    if not (os.path.exists(stamp) and open(stamp).read() == digest):
        shutil.rmtree(root, ignore_errors=True)
        for sf in sfs:
            gen_data.generate(os.path.join(root, sf), float(sf[2:]))
        with open(stamp, "w") as fh:
            fh.write(digest)
    return root


def sweep_queries():
    with open(os.path.join(HERE, "sweep_queries.txt")) as fh:
        return [l.split()[0] for l in fh if l.strip() and not l.startswith("#")]


def make_inputs(workload, seed, seconds, data, inputs):
    import inputs as gen
    os.makedirs(inputs, exist_ok=True)
    args = []
    if workload == "live_aggregate":
        c = LIVE
        files = c["warm_files"] + seconds * 1000 // c["interval_ms"]
        sf = float(c["sf"][2:])
        gen.live_plan(seed, int(1_500_000 * sf), int(150_000 * sf), files, c["rows_per_file"],
                      os.path.join(inputs, "live_plan.tsv"))
        args = ["--interval-ms", str(c["interval_ms"]), "--warm-files", str(c["warm_files"]),
                "--sf", c["sf"]]
    elif workload == "backfill_aggregate":
        c = BACKFILL
        gen.backfill_wave(seed, os.path.join(data, c["sf"]), SNAP_TS_US,
                          int(150_000 * float(c["sf"][2:])),
                          c["wave_files"], inputs)
        args = ["--pace-files", str(c["pace_files"]), "--snap-ts-us", str(SNAP_TS_US),
                "--sf", c["sf"]]
    elif workload == "query_sweep":
        # the fewest whole passes that fill the window: 3 at 15 s; with 2,
        # the run-to-run spreads of the medians came close to the bounds
        measured = math.ceil(seconds / SWEEP["pass_s"])
        gen.sweep_order(seed, sweep_queries(), measured + 2,
                        os.path.join(inputs, "sweep_order.tsv"))
        args = ["--sf", SWEEP["sf"], "--passes", str(measured)]
    else:
        die(f"unknown workload {workload}")
    return args


def run_jvm(classes, workload, seconds, trace, data, run_dir, extra, t0_ms):
    work = os.path.join(run_dir, "work")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(work, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(run_dir, "raw.json")
    cmd = (["java", *ADD_OPENS, "-Dfile.encoding=UTF-8", f"-Xms{HEAP}", f"-Xmx{HEAP}",
            f"-Djava.io.tmpdir={tmp}", "-cp",
            os.pathsep.join([classes, os.path.join(SPARK_JARS, "*")]),
            "perfbench.Bench", "--workload", workload, "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--data", data,
            "--inputs", os.path.join(run_dir, "..", "inputs"), "--work", work,
            "--out", out, "--t0-ms", str(t0_ms)] + extra)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as fh:
        r = subprocess.run(cmd, cwd=work, env=env, stdout=fh, stderr=subprocess.STDOUT,
                           timeout=170)
    if r.returncode != 0 or not os.path.exists(out):
        with open(log) as fh:
            tail = [l for l in fh.read().splitlines() if "WARN" not in l][-40:]
        sys.stderr.write("\n".join(tail) + "\n")
        die(f"{workload} run failed (exit {r.returncode}); log: {log}")
    with open(out) as fh:
        return json.load(fh), work


def check(workload, raw, work, data, inputs):
    """(attempted, failed, details) of one run's outputs."""
    if workload == "query_sweep":
        with open(os.path.join(HERE, "golden_sf0.01.json")) as fh:
            golden = json.load(fh)["hashes"]
        got = raw["hashes"]
        bad = sorted(q for q, h in got.items() if golden.get(q) != h)
        return len(got), len(bad), {"queries_differing": bad}
    import expected
    c = LIVE if workload == "live_aggregate" else BACKFILL
    drop = os.path.join(inputs, "drop_lines.csv") if workload == "backfill_aggregate" else None
    r = expected.compare(work, os.path.join(data, c["sf"]), raw["snap_ts_us"], drop,
                         genesis_measured=workload == "backfill_aggregate")
    return r["keys_touched"], r["keys_differing"], r


def history_path(workload, seconds, classes):
    """Untraced results of this build of the engine and harness at this
    window length: the baseline of the tracing overhead."""
    with open(os.path.join(classes, ".stamp")) as fh:
        stamp = fh.read()[:16]
    return os.path.join(build_dir(), "history", f"{workload}-{stamp}-s{seconds}.jsonl")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]} | EXTRA_WORKLOADS:
        die(f"unknown workload {args.workload}")
    classes = build()
    data = snapshots()
    t0_ms = int(time.time() * 1000)  # set-up starts once the build is done
    root = os.path.join(build_dir(), "runs", args.workload)
    shutil.rmtree(root, ignore_errors=True)
    inputs = os.path.join(root, "inputs")
    run_dir = os.path.join(root, "run")
    extra = make_inputs(args.workload, args.seed, args.seconds, data, inputs)
    raw, work = run_jvm(classes, args.workload, args.seconds, bool(args.trace), data,
                        run_dir, extra, t0_ms)
    attempted, failed, details = check(args.workload, raw, work, data, inputs)
    raw["check"] = details
    if failed == 0:
        shutil.rmtree(work, ignore_errors=True)
    e2e = {m["name"]: float(raw[m["name"]]) for m in spec["end_to_end"]}
    history = history_path(args.workload, args.seconds, classes)
    if not args.trace:
        os.makedirs(os.path.dirname(history), exist_ok=True)
        diagnostics = {k: raw.get(k) for k in ("anchor_ms_before", "anchor_ms_after",
                                                 "feed_late_ms_p99", "feed_backlog_growth")}
        with open(history, "a") as fh:
            fh.write(json.dumps({"seed": args.seed, **e2e, **diagnostics}) + "\n")
        values, kind = e2e, "end_to_end"
    else:
        values, kind = per_layer(raw, history), "per_layer"
        keep = os.path.join(build_dir(), "traces")
        os.makedirs(keep, exist_ok=True)
        path = os.path.join(keep, f"{args.workload}-seed{args.seed}-{T0_MS}.json")
        with open(path, "w") as fh:
            json.dump({"workload": args.workload, "seed": args.seed, "traced": raw,
                       "end_to_end": e2e, "per_layer": values}, fh)
        print(f"trace written to {path}", file=sys.stderr)
    if failed:
        print(f"perfbench: output check failed: {json.dumps(details)[:600]}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                    for m in spec[kind]}}))


def per_layer(traced, history):
    """Flattens a traced run into the per-layer metric names. Tracing
    overhead compares the traced latency median with the median of the
    untraced runs in `history`; `trace.overhead_baseline_runs` says how many
    there were, and with none the overhead is not measured and reads 0."""
    t = dict(traced.get("trace", {}).get("metrics", {}))
    for k in ("genesis_s", "drain_s", "gc_ms", "heap_post_gc_peak_mb",
              "update_rows_per_s", "query_total_s"):
        if k in traced:
            t[k] = traced[k]
    t["anchor_ms.before"] = traced.get("anchor_ms_before", 0.0)
    t["anchor_ms.after"] = traced.get("anchor_ms_after", 0.0)
    t["feed.late_ms.p99"] = traced.get("feed_late_ms_p99", 0.0)
    t["feed.backlog_growth"] = traced.get("feed_backlog_growth", 0.0)
    past = []
    if os.path.exists(history):
        with open(history) as fh:
            past = [json.loads(l)["latency_p50_ms"] for l in fh if l.strip()]
    t["trace.overhead_baseline_runs"] = len(past)
    if past:
        base = sorted(past)[len(past) // 2]
        t["trace.overhead_pct"] = 100.0 * (traced["latency_p50_ms"] / base - 1.0)
    else:
        print("perfbench: no untraced run of this build and window yet; "
              "tracing overhead not measured", file=sys.stderr)
    return t


if __name__ == "__main__":
    main()
