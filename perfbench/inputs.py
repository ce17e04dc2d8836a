"""Seeded workload inputs. The same seed gives the same inputs; the engine
receives only what these functions write.

live_plan:   change rows per fed file for `live_aggregate` (TSV; the feeder
             in the JVM assigns event times when it writes each file).
backfill_wave: the `backfill_aggregate` update wave as change files with
             their event times, plus the child lines its snapshot lacks.
sweep_order: per-pass query order for `query_sweep`.
"""

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CANCELED_MOD, CANCELED_REM = 53, 7
CANCELED_AGE_US = 86_400 * 1_000_000
STATUS = ["F", "O", "P"]
PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
# change mix of the live feed (the rest are updates)
MIX = {"resend": 0.03, "stale": 0.02, "ins": 0.05, "cancel": 0.03, "uncancel": 0.02}


def _attrs(rng, n_cust):
    return (int(rng.integers(0, n_cust)), STATUS[rng.integers(0, 3)],
            round(float(rng.uniform(1000.0, 500000.0)), 2), PRIORITY[rng.integers(0, 5)])


def _zipf_keys(rng, n, s=1.1):
    """Key sampler: Zipf(s) over ranks, ranks mapped to ids by a seeded
    permutation so the hot keys are scattered over the key space."""
    p = 1.0 / np.arange(1, n + 1) ** s
    p /= p.sum()
    perm = rng.permutation(n)
    return lambda k: perm[rng.choice(n, size=k, p=p)]


def live_plan(seed, n_orders, n_cust, files, rows_per_file, path):
    rng = np.random.default_rng([seed, 1])
    keys = _zipf_keys(rng, n_orders)
    canceled = {k for k in range(CANCELED_REM, n_orders, CANCELED_MOD)}
    next_id = n_orders
    rows, published = [], []
    cum = np.cumsum(list(MIX.values()))
    for f in range(files):
        file_start = len(rows)
        draws = rng.random(rows_per_file)
        hot = keys(rows_per_file)
        for i in range(rows_per_file):
            kind = ["resend", "stale", "ins", "cancel", "uncancel", "upd"][int(np.searchsorted(cum, draws[i], side="right"))]
            key = int(hot[i])
            ref = -1
            if kind == "resend":
                earlier = [j for j in published[-200:] if j < file_start]
                if earlier:
                    ref = earlier[rng.integers(0, len(earlier))]
                    rows.append((f, "resend") + rows[ref][2:7] + (ref,))
                    continue
                kind = "upd"
            if kind == "ins":
                key, next_id = next_id, next_id + 1
            elif kind == "uncancel":
                if canceled:
                    pool = sorted(canceled)
                    key = pool[rng.integers(0, len(pool))]
                    canceled.discard(key)
                else:
                    kind = "upd"
            elif kind == "cancel":
                # cancels hit orders uniformly, not the hot keys updates favour
                key = int(rng.integers(0, n_orders))
                if key in canceled:
                    kind = "upd_c"
                else:
                    canceled.add(key)
            if kind == "upd" and key in canceled:
                kind = "upd_c"
            if kind != "upd_c":
                published.append(len(rows))
            rows.append((f, kind, key) + _attrs(rng, n_cust) + (ref,))
    with open(path, "w") as out:
        out.write("file\tkind\tid\tcustkey\tstatus\ttotal\tpriority\tref\n")
        for r in rows:
            out.write("\t".join(repr(x) if isinstance(x, float) else str(x) for x in r) + "\n")
    return len(rows)


def backfill_wave(seed, snap_dir, snap_ts_us, n_cust, files, out_dir, share=0.10):
    """About `share` of the orders get one change (updates, cancels or
    restores of soft-deleted orders, stale replays); some get a second
    update in a later file; some rows are resent exactly in a later file.
    Half of the touched orders with two or more lines lose their last line
    from the wave's line snapshot."""
    rng = np.random.default_rng([seed, 2])
    orders = pq.read_table(os.path.join(snap_dir, "orders.parquet"), columns=["o_orderkey"])
    n_orders = orders.num_rows
    chosen = rng.choice(n_orders, size=int(n_orders * share), replace=False)
    rows = []  # (file, id, attrs..., op, old, new, kind)
    for key in chosen.tolist():
        f = int(rng.integers(0, files - 1))
        a = _attrs(rng, n_cust)
        if key % CANCELED_MOD == CANCELED_REM:
            rows.append([f, key, *a, "update", snap_ts_us - CANCELED_AGE_US, None, "uncancel"])
            continue
        r = rng.random()
        kind = "upd" if r < 0.80 else "cancel" if r < 0.88 else "stale"
        rows.append([f, key, *a, "update", None, None, kind])
        if kind == "upd" and rng.random() < 0.05:
            rows.append([int(rng.integers(f + 1, files)), key, *_attrs(rng, n_cust),
                         "update", None, None, "upd"])
    for r in list(rows):
        if r[0] < files - 1 and rng.random() < 0.03:
            rows.append([int(rng.integers(r[0] + 1, files))] + r[1:9] + ["resend"])
    rows.sort(key=lambda r: r[0])
    wave_dir = os.path.join(out_dir, "wave")
    os.makedirs(wave_dir, exist_ok=True)
    tsu = pa.timestamp("us", tz="UTC")
    ts_of = {}
    for f in range(files):
        cols = {k: [] for k in ["id", "custkey", "status", "total", "priority",
                                "__op", "__old_canceled", "__new_canceled", "__ts"]}
        for i, r in enumerate(x for x in rows if x[0] == f):
            _, key, c, st, tot, pri, op, old, _, kind = r
            ident = (key, c, st, tot, pri)
            if kind == "resend":
                ts, new = ts_of[ident]
            elif kind == "stale":
                ts, new = snap_ts_us - 1000 - i, None
            else:
                ts = snap_ts_us + 1_000_000 + f * 100_000 + i
                new = ts if kind == "cancel" else None
            ts_of[ident] = (ts, new)
            for k, v in zip(cols, [key, c, st, tot, pri, op, old, new, ts]):
                cols[k].append(v)
        pq.write_table(pa.table({
            "id": pa.array(cols["id"], pa.int64()),
            "custkey": pa.array(cols["custkey"], pa.int64()),
            "status": pa.array(cols["status"], pa.string()),
            "total": pa.array(cols["total"], pa.float64()),
            "priority": pa.array(cols["priority"], pa.string()),
            "__op": pa.array(cols["__op"], pa.string()),
            "__old_canceled": pa.array(cols["__old_canceled"], tsu),
            "__new_canceled": pa.array(cols["__new_canceled"], tsu),
            "__ts": pa.array(cols["__ts"], tsu)}),
            os.path.join(wave_dir, f"w-{f:04d}.parquet"))
    li = pq.read_table(os.path.join(snap_dir, "lineitem.parquet"),
                       columns=["l_orderkey", "l_linenumber"]).to_pandas()
    touched = np.array(sorted(set(chosen.tolist())))
    drop_orders = touched[rng.random(len(touched)) < 0.5]
    sub = li[li.l_orderkey.isin(drop_orders)]
    last = sub.groupby("l_orderkey").l_linenumber.agg(["max", "count"])
    last = last[last["count"] >= 2]
    drop_ids = (last.index.to_numpy() * 8 + last["max"].to_numpy()).tolist()
    with open(os.path.join(out_dir, "drop_lines.csv"), "w") as out:
        out.write("".join(f"{i}\n" for i in sorted(drop_ids)))
    return len(rows)


def sweep_order(seed, queries, passes, path):
    rng = np.random.default_rng([seed, 3])
    with open(path, "w") as out:
        out.write("pass\tquery\n")
        for p in range(passes):
            for i in rng.permutation(len(queries)):
                out.write(f"{p}\t{queries[i]}\n")
