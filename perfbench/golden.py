#!/usr/bin/env python3
"""Regenerates perfbench/golden_sf0.01.json: the result hash of every
`SparkEntry.queries` entry on the generated sf0.01 snapshot, taken from a
run whose results were checked against their oracles first.

    python3 perfbench/golden.py [query ...]

Oracles: DuckDB `SparkEntry.oracleSql` where declared, else the Spark-naive
oracle (`SparkEntry.naiveOracle`) dumped by the same run. Comparison rules
are tools/check.py's: exact floats (repr), columns by name,
order-insensitive rows. A query that disagrees with its oracle, or has
none, is recorded with its reason instead of a hash, so `query_sweep`
reports it as a failure rather than silently accepting its output.
"""

import json
import os
import shutil
import subprocess
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402


def norm(v):
    return repr(v) if isinstance(v, float) else v


def rows_of(cur):
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    data = [tuple(norm(r[i]) for i in order) for r in cur.fetchall()]
    return [cols[i] for i in order], sorted(data, key=lambda t: tuple(str(x) for x in t))


def main():
    only = sys.argv[1:]
    classes = run.build()
    data = run.snapshots()
    sf_dir = os.path.join(data, "sf0.01")
    out = os.path.join(run.build_dir(), "golden")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "work"))
    cmd = (["java", *run.ADD_OPENS, "-Dfile.encoding=UTF-8", f"-Xmx{run.HEAP}",
            f"-Djava.io.tmpdir={out}/work", "-cp",
            os.pathsep.join([classes, os.path.join(run.SPARK_JARS, "*")]),
            "perfbench.Bench", "--workload", "golden", "--data", data, "--sf", "sf0.01",
            "--work", f"{out}/work", "--out", f"{out}/raw.json", "--dump", out,
            "--queries", ",".join(only)])
    subprocess.run(cmd, cwd=f"{out}/work", check=True,
                   env=dict(os.environ, SPARK_LOCAL_DIRS=f"{out}/work"))
    hashes = json.load(open(f"{out}/raw.json"))["hashes"]
    oracle = json.load(open(f"{out}/oracle_sql.json"))
    con = duckdb.connect()
    for t in os.listdir(sf_dir):
        con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM read_parquet('{sf_dir}/{t}')")
    golden, mismatches = {}, {}
    for q in sorted(hashes):
        if hashes[q] == "error":
            mismatches[q] = "query threw"
            continue
        naive = os.path.join(out, "naive", q)
        sql = oracle.get(q) or (f"SELECT * FROM read_parquet('{naive}/*.parquet')"
                                if os.path.isdir(naive) else None)
        if sql is None:
            mismatches[q] = "no oracle"
            continue
        try:
            got = rows_of(con.execute(f"SELECT * FROM read_parquet('{out}/results/{q}/*.parquet')"))
            want = rows_of(con.execute(sql))
        except Exception as e:  # an oracle that cannot run is a failure too
            mismatches[q] = f"oracle error: {str(e)[:200]}"
            continue
        if got != want:
            mismatches[q] = f"differs from oracle ({len(got[1])} vs {len(want[1])} rows)"
        else:
            golden[q] = hashes[q]
    path = os.path.join(HERE, "golden_sf0.01.json")
    if only and os.path.exists(path):
        prev = json.load(open(path))
        golden = {**prev["hashes"], **golden}
        mismatches = {**{k: v for k, v in prev["oracle_mismatches"].items() if k not in golden},
                      **mismatches}
    for q in mismatches:
        golden.pop(q, None)
    with open(path, "w") as fh:
        json.dump({"snapshot": "gen_data.py sf0.01", "hashes": golden,
                   "oracle_mismatches": mismatches}, fh, indent=1, sort_keys=True)
    print(f"{len(golden)} oracle-checked hashes, {len(mismatches)} mismatches: {sorted(mismatches)}")


if __name__ == "__main__":
    main()
