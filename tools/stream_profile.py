#!/usr/bin/env python3
"""Per-micro-batch profile of a streaming Spark run, from its event log.

Usage:
  tools/stream_profile.py EVENTLOG [--codegen CODEGEN_LOG]
                          [--query SUBSTR] [--batches FIRST-LAST]
                          [--working-set]

EVENTLOG is a Spark event log: a plain or zstd-compressed events file, or
a rolling `eventlog_v2_*` directory (or the directory that holds exactly
one). CODEGEN_LOG is a log written with `tools/codegen-log4j2.properties`:
the DEBUG records of Spark's `CodeGenerator` (one per compile, carrying the
generated source) and its INFO "Code generated in X ms" lines, each
stamped with epoch millis and thread name. tools/README.md has the recipe.

For every micro-batch of every streaming query it prints the batch's
trigger time, jobs, stages and tasks, and then one line per SQL execution
the batch ran (nested executions, e.g. the actions inside `foreachBatch`):
wall time, jobs, stages, tasks, join and aggregate operators in the
physical plan, and a plan class (a label plus a hash of the operator
tree, so the same step lines up across batches). With a codegen log each
line also counts compiles, distinct generated classes (by source hash)
and compile time. Compiles are attributed by thread:
  - an executor thread names its stage: stage -> job -> execution;
  - a `stream execution thread` names its query run: the batch whose
    trigger window holds the record, then the innermost execution of that
    batch running at that time;
  - a `graft-lane-<model>` thread (one replica lane of a consumer
    micro-batch) names its replica: the latest-started nested execution
    running at that time whose step label names `<model>`;
  - other driver threads (exchange and query-stage threads) name no
    query. Such a record goes to the innermost execution running at that
    time (a batch root that is running a nested execution does not
    count) only when there is exactly one; it is counted as `by time` in
    the summary. With several running (a producer batch beside a
    consumer step), it goes to no batch and is counted in the summary's
    `ambiguous` line instead.
Each batch line also prints its `overlap`: the summed walls of the
batch's nested executions over the wall of its root execution. Steps run
one after another read below 1; above 1, some ran at the same time (the
consumer's replica lanes).
The closing summary gives, per query over the selected batches, compiles
per batch, the distinct classes of the whole window and the mean overlap.

--working-set needs a CODEGEN_LOG written with
`tools/codegen-refs-log4j2.properties`, which also logs every codegen
cache lookup, hits included. Spark keys that cache by (thread context
class loader, source), so for each selected batch of the --query queries
it counts the distinct (loader side, source hash) keys looked up from the
batch's start to the next batch of the same query, other queries'
batches in that time included, and splits them by the step (execution)
that looked them up; the keys of `ambiguous` records get their own row.
A whole-stage class counts twice: the driver
validates it and each executor compiles it under its own loader.
"""
import argparse
import collections
import glob
import hashlib
import json
import os
import re
import subprocess
import sys
from datetime import datetime


def read_text(path):
    if not path.endswith(".zstd"):
        with open(path, encoding="utf-8") as fh:
            return fh.read()
    try:
        import pyarrow as pa
        return pa.CompressedInputStream(pa.OSFile(path), "zstd").read().decode("utf-8")
    except ImportError:
        return subprocess.run(["zstd", "-dc", path], check=True,
                              stdout=subprocess.PIPE).stdout.decode("utf-8")


def event_files(path):
    if os.path.isfile(path):
        return [path]
    dirs = [path] if os.path.basename(path).startswith("eventlog_v2_") else \
        glob.glob(os.path.join(path, "eventlog_v2_*"))
    if len(dirs) != 1:
        sys.exit(f"stream_profile: expected one event log under {path}, found {len(dirs)}")
    files = glob.glob(os.path.join(dirs[0], "events_*"))
    return sorted(files, key=lambda f: int(os.path.basename(f).split("_")[1]))


def events(path):
    for f in event_files(path):
        for line in read_text(f).splitlines():
            if line.strip():
                yield json.loads(line)


class Exec:
    def __init__(self, e):
        self.id = e["executionId"]
        self.root = e.get("rootExecutionId", self.id)
        self.start = e["time"]
        self.end = None
        self.desc = e.get("description") or ""
        self.details = e.get("details") or ""
        self.plan = e.get("physicalPlanDescription") or ""
        self.jobs = []
        self.compiles = []
        self.names = None   # the words of its step label, set on first use

    def wall(self):
        return (self.end or self.start) - self.start

    def names_model(self, model):
        if self.names is None:
            self.names = set(re.split(r"[^A-Za-z0-9_]+", plan_class(self.plan)[0]))
        return model in self.names


def plan_class(plan):
    """(label, hash, joins, aggregates) of a physical plan description."""
    tree = plan.split("\n\n\n")[0].split("\n")[1:]
    ops = [re.sub(r"\s*\(\d+\)$", "", re.sub(r"^[\s:+\-|*]*", "", l)) for l in tree]
    ops = [o for o in ops if o]
    digest = hashlib.sha1("\n".join(ops).encode()).hexdigest()[:6]
    joins = sum("Join" in o for o in ops)
    aggs = sum("Aggregate" in o for o in ops)
    m = re.search(r"Arguments: file:(\S+?),", plan)
    top = [o for o in ops if o != "AdaptiveSparkPlan"]
    if top and top[0].startswith("Execute InsertIntoHadoopFsRelationCommand") and m:
        target = m.group(1)
        r = re.search(r"/replicas/([^/]+)/(v\d+|compact-v\d+)(/delta-\d+)?$", target)
        if r:
            label = f"write {r.group(1)} " + (
                "delta" if r.group(3) else "compaction" if r.group(2)[0] == "c" else "buckets")
        else:
            label = "write " + "/".join(re.sub(r"\d+", "N", p)
                                        for p in target.rstrip("/").split("/")[-2:])
    else:
        scans = sorted(set(re.findall(r"/replicas/([^/]+)/", plan)))
        head = next((o for o in ops if o not in ("AdaptiveSparkPlan", "Project")), "?")
        label = "query " + head.split(" ")[0] + (" over " + ",".join(scans) if scans else "")
        if "pmod(hash(" in plan:
            label += " (bucket set)"
    return label, digest, joins, aggs


LOG_HEAD = re.compile(r"^(\d{13}) \[(.*)\] (TRACE|DEBUG|INFO|WARN|ERROR) (\S+): ?(.*)$")
TASK_THREAD = re.compile(r"in stage (\d+)\.\d+ \(TID")
STREAM_THREAD = re.compile(r"^stream execution thread for .*runId = ([0-9a-f-]+)\]$")
LANE_THREAD = re.compile(r"^graft-lane-(.+)$")


def records(path):
    """(millis, thread, level, logger, message lines) per log record."""
    rec = None
    with open(path, encoding="utf-8", errors="replace") as fh:
        for line in fh:
            m = LOG_HEAD.match(line.rstrip("\n"))
            if not m:
                if rec:
                    rec[4].append(line.rstrip("\n"))
                continue
            if rec:
                yield rec
            t, thread, level, logger, msg = m.groups()
            rec = (int(t), thread, level, logger, [msg])
    if rec:
        yield rec


def source_hash(lines):
    """Hash of the generated source a record carries: its lines from the
    formatter's first numbered line on, so a lookup record ("code for
    ...:" header) and the compile record of the same source agree."""
    for i, l in enumerate(lines):
        if l.startswith("/* 001 */"):
            return hashlib.sha1("\n".join(lines[i:]).encode()).hexdigest()
    return None


def compiles(path):
    """(millis, thread, source hash, compile ms) per CodeGenerator compile."""
    out, pending = [], {}
    for t, thread, level, logger, lines in records(path):
        if logger != "CodeGenerator":
            continue
        g = re.match(r"Code generated in ([0-9.]+) ms", lines[0])
        h = source_hash(lines) if level == "DEBUG" else None
        if h:
            pending.setdefault(thread, []).append([t, thread, h, 0.0])
            out.append(pending[thread][-1])
        elif level == "INFO" and g and pending.get(thread):
            pending[thread].pop(0)[3] = float(g.group(1))
    return out


def cache_keys(path):
    """(millis, thread, keys) per codegen cache lookup in a log written with
    tools/codegen-refs-log4j2.properties. Spark keys its codegen cache by
    (thread context class loader, source): a key is (side, source hash),
    side `executor` on a task thread and `driver` elsewhere. A whole-stage
    class is logged once, at driver-side code generation, but looked up
    twice (the driver's validation compile and the executor's), so its
    record carries both keys. A compile record is a lookup that missed;
    it adds the keys of generators that log no lookup of their own."""
    for t, thread, level, logger, lines in records(path):
        if level != "DEBUG" or not (logger.startswith("Generate") or
                                    logger in ("WholeStageCodegenExec", "CodeGenerator")):
            continue
        h = source_hash(lines)
        if not h:
            continue
        if logger == "WholeStageCodegenExec":
            yield t, thread, (("driver", h), ("executor", h))
        else:
            yield t, thread, (("executor" if TASK_THREAD.search(thread) else "driver", h),)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("eventlog")
    ap.add_argument("--codegen")
    ap.add_argument("--query", default="", help="only queries whose label contains this")
    ap.add_argument("--batches", help="FIRST-LAST batch ids to print and summarize")
    ap.add_argument("--working-set", action="store_true",
                    help="codegen cache keys per cycle of the --query batches, by step "
                         "(needs --codegen from tools/codegen-refs-log4j2.properties)")
    args = ap.parse_args()
    lo, hi = (map(int, args.batches.split("-")) if args.batches else (0, 1 << 62))

    execs, jobs, stage_job, stage_tasks, batches, labels = {}, {}, {}, {}, {}, {}
    for e in events(args.eventlog):
        kind = e["Event"].rsplit(".", 1)[-1]
        if kind == "SparkListenerSQLExecutionStart":
            execs[e["executionId"]] = Exec(e)
        elif kind == "SparkListenerSQLExecutionEnd":
            if e["executionId"] in execs:
                execs[e["executionId"]].end = e["time"]
        elif kind == "SparkListenerJobStart":
            p = e.get("Properties") or {}
            jobs[e["Job ID"]] = {
                "exec": int(p["spark.sql.execution.id"]) if "spark.sql.execution.id" in p else None,
                "run": p.get("spark.jobGroup.id"), "batch": p.get("streaming.sql.batchId"),
                "stages": []}
            for s in e["Stage IDs"]:
                stage_job[s] = e["Job ID"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            stage_tasks[info["Stage ID"]] = info["Number of Tasks"]
            j = stage_job.get(info["Stage ID"])
            if j is not None:
                jobs[j]["stages"].append(info["Stage ID"])
        elif kind == "StreamingQueryListener$QueryProgressEvent":
            p = e["progress"]
            batches[(p["runId"], p["batchId"])] = p
        elif kind == "StreamingQueryListener$QueryStartedEvent":
            labels[e["runId"]] = e.get("name") or e["id"][:8]

    # executions of a micro-batch: its root (description "runId = …
    # batch = N") and every execution nested under that root
    for x in execs.values():
        m = re.search(r"runId = ([0-9a-f-]+)\nbatch = (\d+)", x.desc)
        x.batch = (m.group(1), int(m.group(2))) if m else None
    for x in execs.values():
        if not x.batch and x.root in execs:
            x.batch = execs[x.root].batch
    for j, info in jobs.items():
        if info["exec"] in execs:
            execs[info["exec"]].jobs.append(j)
    # a query's label: the engine frame that started it, from its root
    # executions' call site ("Engine.consumeTopic"), else its name or id
    for x in execs.values():
        m = re.search(r"graft\.(\w+)\$\.(\w+)\(", x.details)
        if x.batch and m:
            labels[x.batch[0]] = f"{m.group(1)}.{m.group(2)}"

    def millis(ts):
        return int(datetime.strptime(ts.replace("Z", "+0000"),
                                     "%Y-%m-%dT%H:%M:%S.%f%z").timestamp() * 1000)
    windows = collections.defaultdict(list)
    for (run, b), p in batches.items():
        t0 = millis(p["timestamp"])
        windows[run].append((t0, t0 + p["durationMs"].get("triggerExecution", 0), b))

    def attribute(t, thread):
        """("exec", execution), ("outside", (run, batch)) or ("ambiguous",
        None) of a record stamped `t` on `thread`, with whether it went by
        time; None if it falls in no execution or batch."""
        m = TASK_THREAD.search(thread)
        if m:
            j = stage_job.get(int(m.group(1)))
            x = execs.get(jobs[j]["exec"]) if j is not None else None
            if x:
                return ("exec", x), False
            if j is not None and jobs[j]["run"]:
                return ("outside", (jobs[j]["run"], int(jobs[j]["batch"] or -1))), False
            return None, False
        m = STREAM_THREAD.match(thread)
        if m:
            run = m.group(1)
            b = next((b for (s, e, b) in windows[run] if s <= t <= e), None)
            live = [x for x in execs.values() if x.batch == (run, b) and x.id != x.root
                    and x.start <= t <= (x.end or t)]
            if live:
                return ("exec", max(live, key=lambda x: x.start)), False
            return ("outside", (run, b)), False
        m = LANE_THREAD.match(thread)
        if m:
            live = [x for x in execs.values() if x.batch and x.id != x.root
                    and x.start <= t <= (x.end or t) and x.names_model(m.group(1))]
            if live:
                return ("exec", max(live, key=lambda x: x.start)), False
        # any other driver thread names no query: it goes to the one
        # innermost execution live at `t` (a batch root running a nested
        # step defers to the step), else it is ambiguous
        live = [x for x in execs.values() if x.start <= t <= (x.end or t)]
        busy = {x.root for x in live if x.id != x.root}
        inner = [x for x in live if x.id not in busy]
        if len(inner) == 1:
            return ("exec", inner[0]), True
        if inner:
            return ("ambiguous", None), True
        return None, False

    outside = collections.defaultdict(list)   # (run, batch) -> compiles outside executions
    ambiguous = []   # compiles of driver threads while several executions ran
    by_time = 0
    comp = compiles(args.codegen) if args.codegen else []
    for c in comp:
        where, timed = attribute(c[0], c[1])
        if where and where[0] == "exec":
            where[1].compiles.append(c)
            by_time += timed
        elif where and where[0] == "ambiguous":
            ambiguous.append(c)
        elif where:
            outside[where[1]].append(c)

    def csum(cs):
        return len(cs), len({c[2] for c in cs}), sum(c[3] for c in cs)

    summary = collections.defaultdict(lambda: {"batches": 0, "compiles": 0, "classes": set(),
                                               "jobs": 0, "tasks": 0, "trigger": 0,
                                               "overlap": []})
    for (run, b), p in sorted(batches.items(), key=lambda kv: millis(kv[1]["timestamp"])):
        label = labels.get(run, run[:8])
        if args.query not in label or not (lo <= b <= hi):
            continue
        inner = sorted((x for x in execs.values() if x.batch == (run, b)), key=lambda x: x.id)
        bj = [j for j, info in jobs.items() if info["run"] == run and info["batch"] == str(b)]
        stages = [s for j in bj for s in jobs[j]["stages"]]
        tasks = sum(stage_tasks.get(s, 0) for s in stages)
        allc = [c for x in inner for c in x.compiles] + outside.get((run, b), [])
        n, d, ms = csum(allc)
        trig = p["durationMs"].get("triggerExecution", 0)
        root = next((x for x in inner if x.id == x.root), None)
        overlap = (sum(x.wall() for x in inner if x.id != x.root) / root.wall()
                   if root and root.wall() else None)
        print(f"{label} run {run[:8]} batch {b}: trigger {trig} ms, "
              f"addBatch {p['durationMs'].get('addBatch', 0)} ms, {len(bj)} jobs, "
              f"{len(stages)} stages, {tasks} tasks, {n} compiles "
              f"({d} distinct, {ms:.0f} ms)"
              + (f", overlap {overlap:.2f}" if overlap is not None else ""))
        print(f"  {'exec':>5} {'wall_ms':>7} {'jobs':>4} {'stg':>3} {'tasks':>5} "
              f"{'join':>4} {'agg':>3} {'comp':>4} {'dist':>4} {'c_ms':>5}  step")
        for x in inner:
            lab, h, joins, aggs = plan_class(x.plan)
            if x.id == x.root:
                lab = "batch root: " + lab
            st = [s for j in x.jobs for s in jobs[j]["stages"]]
            n, d, ms = csum(x.compiles)
            print(f"  {x.id:>5} {x.wall():>7} {len(x.jobs):>4} "
                  f"{len(st):>3} {sum(stage_tasks.get(s, 0) for s in st):>5} {joins:>4} "
                  f"{aggs:>3} {n:>4} {d:>4} {ms:>5.0f}  {lab} [{h}]")
        if outside.get((run, b)):
            n, d, ms = csum(outside[(run, b)])
            print(f"  {'-':>5} {'':>7} {'':>4} {'':>3} {'':>5} {'':>4} {'':>3} "
                  f"{n:>4} {d:>4} {ms:>5.0f}  outside executions")
        s = summary[label]
        s["batches"] += 1
        s["compiles"] += len(allc)
        s["classes"] |= {c[2] for c in allc}
        s["jobs"] += len(bj)
        s["tasks"] += tasks
        s["trigger"] += trig
        if overlap is not None:
            s["overlap"].append(overlap)
    print()
    for label, s in summary.items():
        k = max(s["batches"], 1)
        line = (f"summary {label}: {s['batches']} batches, trigger {s['trigger'] / k:.0f} ms, "
                f"{s['jobs'] / k:.1f} jobs, {s['tasks'] / k:.1f} tasks per batch")
        if args.codegen:
            line += (f"; {s['compiles'] / k:.1f} compiles per batch, "
                     f"{len(s['classes'])} distinct classes over the window")
        if s["overlap"]:
            line += f"; overlap {sum(s['overlap']) / len(s['overlap']):.2f}"
        print(line)
    if args.codegen:
        print(f"compiles attributed by time (non-task driver threads): {by_time} of {len(comp)}")
        n, d, ms = csum(ambiguous)
        print(f"ambiguous (driver threads while several executions ran, in no batch): "
              f"{n} compiles ({d} distinct, {ms:.0f} ms)")
    if args.working_set and args.codegen:
        working_set(args, lo, hi, batches, labels, millis, attribute)


AMBIGUOUS = "ambiguous (several executions live)"


def working_set(args, lo, hi, batches, labels, millis, attribute):
    """Distinct codegen cache keys of each selected batch's cycle: every
    lookup from the batch's start to the next batch of the same query
    (the other queries' batches in that time included), split by the step
    that looked the key up. `own` counts the keys no other step of the
    cycle looked up."""
    cycles = collections.defaultdict(list)
    for (run, b), p in batches.items():
        if args.query in labels.get(run, run[:8]):
            cycles[run].append((millis(p["timestamp"]), b, p))
    windows = []
    for run, bs in cycles.items():
        bs.sort()
        for i, (t0, b, p) in enumerate(bs):
            end = bs[i + 1][0] if i + 1 < len(bs) else \
                t0 + p["durationMs"].get("triggerExecution", 0)
            if lo <= b <= hi:
                windows.append((t0, end, run, b))
    if not windows:
        return
    steps = {w: collections.defaultdict(set) for w in windows}
    for t, thread, keys in cache_keys(args.codegen):
        w = next((w for w in windows if w[0] <= t < w[1]), None)
        if not w:
            continue
        where, _ = attribute(t, thread)
        if where is None:
            step = "unattributed"
        elif where[0] == "ambiguous":
            step = AMBIGUOUS
        elif where[0] == "outside":
            step = f"{labels.get(where[1][0], where[1][0][:8])}: outside executions"
        else:
            x = where[1]
            q = labels.get(x.batch[0], x.batch[0][:8]) if x.batch else "no batch"
            if x.batch and x.batch[0] == w[2]:
                lab, h, _, _ = plan_class(x.plan)
                step = ("batch root: " if x.id == x.root else "") + f"{lab} [{h}]"
            else:
                step = q
        steps[w][step].update(keys)
    print()
    totals = []
    for w in sorted(windows):
        by_step = steps[w]
        cycle = set().union(*by_step.values()) if by_step else set()
        totals.append(len(cycle))
        driver = sum(k[0] == "driver" for k in cycle)
        print(f"working set {labels.get(w[2], w[2][:8])} batch {w[3]}: {len(cycle)} keys "
              f"({driver} driver, {len(cycle) - driver} executor) over {w[1] - w[0]} ms")
        print(f"  {'keys':>4} {'own':>4}  step")
        for step, ks in sorted(by_step.items(), key=lambda kv: (kv[0] == AMBIGUOUS, -len(kv[1]))):
            others = set().union(*(v for s, v in by_step.items() if s != step))
            print(f"  {len(ks):>4} {len(ks - others):>4}  {step}")
    print(f"working set summary: {len(totals)} cycles, "
          f"{sum(totals) / len(totals):.1f} keys per cycle (min {min(totals)}, max {max(totals)})")


if __name__ == "__main__":
    main()
