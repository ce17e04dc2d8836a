"""Expected replica state of an aggregate workload, computed in DuckDB from
the generated inputs alone (no engine code), and compared with the final
replicas the engine left behind.

Rules applied (dionysus-rb consumer semantics):
  * event type from the change images: insert -> created, delete ->
    destroyed, cancel (old null, new set) -> destroyed, restore (old set,
    new null) -> created, both set -> not published, else updated;
  * C7 last-writer-wins on the event time per key; exact resends are
    identical rows, so ties cannot pick different content;
  * C9: a created/updated winner carries the payload's canceled_at (null,
    a restore); a destroyed winner sets canceled_at (the new image, else
    the event time) and keeps the attributes, links and created_at of the
    row it lands on. With per-micro-batch keep-latest (the reference's
    default batch strategy) that row is the state before the winner's
    micro-batch, so it may be any earlier live version of the key, or the
    attribute-less row a destroyed event leaves when it lands on no row;
    the check accepts exactly that set;
  * children are upserted from every live parent payload (the snapshot the
    producer joined at publish time) and C11 removes a parent's children
    missing from the id list of any later live payload of that parent.

Usage (library): compare(work_dir, snapshot_dir, snap_ts_us, drop_csv,
genesis_measured) returns a dict with keys_compared, keys_touched,
keys_differing and a digest of the final replicas.
"""

import glob
import os

import duckdb

CANCELED_MOD, CANCELED_REM = 53, 7
CANCELED_AGE_US = 86_400 * 1_000_000


def _setup(con, work, snap, g, drop_csv):
    con.execute(f"""
      CREATE TABLE lines1 AS SELECT l_orderkey * 8 + l_linenumber AS id,
        l_orderkey AS order_id, l_partkey AS partkey, l_quantity AS quantity,
        l_extendedprice AS extendedprice, l_returnflag AS returnflag
      FROM read_parquet('{snap}/lineitem.parquet')""")
    if drop_csv:
        con.execute(f"""CREATE TABLE lines2 AS SELECT * FROM lines1 WHERE id NOT IN
          (SELECT column0 FROM read_csv('{drop_csv}', header=false, columns={{'column0':'BIGINT'}}))""")
    else:
        con.execute("CREATE TABLE lines2 AS SELECT * FROM lines1")
    src = sorted(glob.glob(os.path.join(work, "src", "*.parquet")))
    changes = (f"SELECT * FROM read_parquet({src!r})" if src else
               "SELECT NULL::BIGINT id, NULL::BIGINT custkey, NULL status, NULL::DOUBLE total,"
               " NULL priority, NULL __op, NULL::TIMESTAMPTZ __old_canceled,"
               " NULL::TIMESTAMPTZ __new_canceled, NULL::TIMESTAMPTZ __ts WHERE false")
    con.execute(f"""
      CREATE TABLE ev AS
      SELECT o_orderkey AS id, o_custkey AS custkey, o_orderstatus AS status,
        o_totalprice AS total, o_orderpriority AS priority, {g}::BIGINT AS ts,
        CASE WHEN o_orderkey % {CANCELED_MOD} = {CANCELED_REM} THEN 'destroyed' ELSE 'updated' END AS et,
        CASE WHEN o_orderkey % {CANCELED_MOD} = {CANCELED_REM} THEN {g - CANCELED_AGE_US}::BIGINT END AS canceled,
        1 AS snap
      FROM read_parquet('{snap}/orders.parquet')
      UNION ALL
      SELECT * FROM (
        SELECT id, custkey, status, total, priority, epoch_us(__ts) AS ts,
          CASE WHEN __op = 'insert' THEN 'created'
               WHEN __op = 'delete' THEN 'destroyed'
               WHEN __old_canceled IS NULL AND __new_canceled IS NOT NULL THEN 'destroyed'
               WHEN __old_canceled IS NOT NULL AND __new_canceled IS NULL THEN 'created'
               WHEN __old_canceled IS NOT NULL AND __new_canceled IS NOT NULL THEN NULL
               ELSE 'updated' END AS et,
          coalesce(epoch_us(__new_canceled), epoch_us(__ts)) AS canceled,
          2 AS snap
        FROM ({changes})) WHERE et IS NOT NULL""")
    for n in ("1", "2"):
        con.execute(f"""CREATE TABLE ll{n} AS SELECT order_id, list(id ORDER BY id) AS ids
                        FROM lines{n} GROUP BY order_id""")
    # every event with the child id list its payload carried (live only)
    con.execute("""
      CREATE TABLE evl AS
      SELECT e.*, CASE WHEN e.et = 'destroyed' THEN NULL
                       ELSE coalesce(CASE WHEN e.snap = 1 THEN a.ids ELSE b.ids END, []::BIGINT[])
                  END AS links
      FROM ev e LEFT JOIN ll1 a ON a.order_id = e.id LEFT JOIN ll2 b ON b.order_id = e.id""")
    con.execute("CREATE TABLE live AS SELECT * FROM evl WHERE et <> 'destroyed'")
    con.execute("""
      CREATE TABLE win AS SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY id ORDER BY ts DESC, et) AS rn FROM evl) WHERE rn = 1""")


def compare(work, snap, snap_ts_us, drop_csv=None, genesis_measured=False):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    _setup(con, work, snap, int(snap_ts_us), drop_csv)
    fin = os.path.join(work, "final")
    con.execute(f"""CREATE TABLE got_o AS SELECT synced_id AS id, custkey, status, total, priority,
        epoch_us(synced_created_at) AS created, epoch_us(synced_updated_at) AS updated,
        epoch_us(synced_canceled_at) AS canceled, list_sort(synced_order_line_ids) AS links
      FROM read_parquet('{fin}/order/*.parquet')""")
    con.execute(f"""CREATE TABLE got_l AS SELECT synced_id AS id, order_id, partkey, quantity,
        extendedprice, returnflag, epoch_us(synced_created_at) AS created,
        epoch_us(synced_updated_at) AS updated, epoch_us(synced_canceled_at) AS canceled
      FROM read_parquet('{fin}/order_line/*.parquet')""")

    # orders: live winners compare exactly; destroyed winners compare the
    # key, times and cancel stamp exactly and the preserved part by set
    con.execute("""
      CREATE TABLE o_bad AS
      SELECT coalesce(w.id, g.id) AS id FROM win w FULL OUTER JOIN got_o g ON w.id = g.id
      WHERE w.id IS NULL OR g.id IS NULL
         OR g.updated IS DISTINCT FROM w.ts
         OR (w.et <> 'destroyed' AND (
              g.canceled IS NOT NULL OR g.created IS DISTINCT FROM w.ts
              OR g.custkey IS DISTINCT FROM w.custkey OR g.status IS DISTINCT FROM w.status
              OR g.total IS DISTINCT FROM w.total OR g.priority IS DISTINCT FROM w.priority
              OR g.links IS DISTINCT FROM w.links))
         OR (w.et = 'destroyed' AND (
              g.canceled IS DISTINCT FROM w.canceled
              OR NOT (
                (g.custkey IS NULL AND g.status IS NULL AND g.total IS NULL AND g.priority IS NULL
                  AND g.links IS NULL AND EXISTS (SELECT 1 FROM evl v WHERE v.id = w.id
                    AND v.et = 'destroyed' AND v.ts <= w.ts AND v.ts = g.created))
                OR EXISTS (SELECT 1 FROM live v WHERE v.id = w.id AND v.ts < w.ts
                  AND v.ts = g.created AND v.custkey IS NOT DISTINCT FROM g.custkey
                  AND v.status IS NOT DISTINCT FROM g.status AND v.total IS NOT DISTINCT FROM g.total
                  AND v.priority IS NOT DISTINCT FROM g.priority
                  AND v.links IS NOT DISTINCT FROM g.links))))""")

    # children: present iff some live parent payload carried them and no
    # later live payload of the parent dropped them from its id list
    con.execute(f"""
      CREATE TABLE exp_l AS
      SELECT l.*, {int(snap_ts_us)}::BIGINT AS created, {int(snap_ts_us)}::BIGINT AS updated,
             NULL::BIGINT AS canceled
      FROM lines1 l
      WHERE (EXISTS (SELECT 1 FROM live v WHERE v.id = l.order_id AND v.snap = 1)
             AND NOT EXISTS (SELECT 1 FROM live v WHERE v.id = l.order_id AND v.snap = 2)
            ) OR (
             l.id IN (SELECT id FROM lines2)
             AND EXISTS (SELECT 1 FROM live v WHERE v.id = l.order_id))""")
    con.execute("""
      CREATE TABLE l_bad AS
      SELECT coalesce(e.id, g.id) AS id FROM exp_l e FULL OUTER JOIN got_l g ON e.id = g.id
      WHERE e.id IS NULL OR g.id IS NULL
         OR (e.order_id, e.partkey, e.quantity, e.extendedprice, e.returnflag, e.created, e.updated)
            IS DISTINCT FROM (g.order_id, g.partkey, g.quantity, g.extendedprice, g.returnflag, g.created, g.updated)
         OR g.canceled IS NOT NULL""")

    n_o = con.execute("SELECT count(*) FROM (SELECT id FROM win UNION SELECT id FROM got_o)").fetchone()[0]
    n_l = con.execute("SELECT count(*) FROM (SELECT id FROM exp_l UNION SELECT id FROM got_l)").fetchone()[0]
    # keys the measured work touched: with genesis in the measured window
    # every key; otherwise the changed orders and their children
    touched = n_o + n_l if genesis_measured else con.execute("""
      SELECT (SELECT count(DISTINCT id) FROM ev WHERE snap = 2)
           + (SELECT count(*) FROM lines1 WHERE order_id IN (SELECT id FROM ev WHERE snap = 2))""").fetchone()[0]
    bad_o = con.execute("SELECT count(*) FROM o_bad").fetchone()[0]
    bad_l = con.execute("SELECT count(*) FROM l_bad").fetchone()[0]
    sample = con.execute("SELECT id FROM o_bad ORDER BY id LIMIT 5").fetchall() + \
        con.execute("SELECT id FROM l_bad ORDER BY id LIMIT 5").fetchall()
    digest = con.execute("""
      SELECT (SELECT bit_xor(hash(id, custkey, status, total, priority, created, updated, canceled, links)) FROM got_o),
             (SELECT bit_xor(hash(id, order_id, partkey, quantity, extendedprice, returnflag, created, updated, canceled)) FROM got_l)
    """).fetchone()
    con.close()
    return {"keys_compared": n_o + n_l, "keys_touched": touched,
            "keys_differing": bad_o + bad_l, "orders_differing": bad_o,
            "lines_differing": bad_l, "sample_differing": [r[0] for r in sample],
            "replica_hash": f"{digest[0]}:{digest[1]}"}
