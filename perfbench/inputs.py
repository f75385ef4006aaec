"""Seeded input generators. The same seed gives the same inputs.

Tables have the shapes of the TPC-H tables the engine's tests use
(orders, lineitem, supplier, nation, part), generated here so that a
run needs nothing outside the checkout.
"""
import os
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STATUSES = np.array(["F", "O", "P"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
DAY0 = 8035  # 1992-01-01 as days since the epoch
DAYS = 2405

ORDER_FIELDS = [
    ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
    ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
    ("o_orderdate", pa.date32()), ("o_orderpriority", pa.string()),
]
CHANGE_SCHEMA = pa.schema(ORDER_FIELDS + [("_op", pa.string()), ("_seq", pa.int64())])


def order_values(rng, n):
    return {
        "o_custkey": rng.integers(1, 15001, n, dtype=np.int64),
        "o_orderstatus": STATUSES[rng.integers(0, 3, n)],
        "o_totalprice": np.round(rng.uniform(900.0, 500000.0, n), 2),
        "o_orderdate": rng.integers(DAY0, DAY0 + DAYS, n).astype(np.int32),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, n)],
    }


def orders(rng, n):
    v = order_values(rng, n)
    return pa.table({
        "o_orderkey": np.arange(1, n + 1, dtype=np.int64),
        "o_custkey": v["o_custkey"],
        "o_orderstatus": v["o_orderstatus"],
        "o_totalprice": v["o_totalprice"],
        "o_orderdate": pa.array(v["o_orderdate"], pa.date32()),
        "o_orderpriority": v["o_orderpriority"],
    })


class KeyPool:
    """Live keys with O(1) random pick and removal."""

    def __init__(self, keys):
        self.keys = list(keys)
        self.pos = {k: i for i, k in enumerate(self.keys)}

    def __len__(self):
        return len(self.keys)

    def pick(self, u):
        return self.keys[int(u * len(self.keys))]

    def add(self, k):
        self.pos[k] = len(self.keys)
        self.keys.append(k)

    def remove(self, k):
        i = self.pos.pop(k, None)
        if i is None:
            return
        last = self.keys.pop()
        if i < len(self.keys):
            self.keys[i] = last
            self.pos[last] = i


def change_batches(rng, n0, batches, per_batch, mix=(0.6, 0.2, 0.2),
                   hot_frac=0.05, hot_prob=0.8):
    """CDC change files for the `orders` table of `n0` rows: per event
    60% update, 20% delete, 20% insert; 80% of updated or deleted keys
    come from a hot 5% of the keys (new keys join it at the same rate).
    Updates are full post-images, deletes carry the key only. `_seq`
    is global: batch b holds seqs b*per_batch+1 .. (b+1)*per_batch.
    """
    live = KeyPool(range(1, n0 + 1))
    hot = KeyPool(rng.choice(np.arange(1, n0 + 1), int(hot_frac * n0), replace=False).tolist())
    next_key = n0 + 1
    seq = 1
    for _ in range(batches):
        ops = rng.choice(3, size=per_batch, p=mix)
        from_hot = rng.random(per_batch) < hot_prob
        u = rng.random(per_batch)
        keys = np.empty(per_batch, dtype=np.int64)
        for i in range(per_batch):
            if ops[i] == 2:
                k = next_key
                next_key += 1
                live.add(k)
                if from_hot[i]:
                    hot.add(k)
            else:
                k = (hot if from_hot[i] and len(hot) else live).pick(u[i])
                if ops[i] == 1:
                    live.remove(k)
                    hot.remove(k)
            keys[i] = k
        v = order_values(rng, per_batch)
        dead = ops == 1
        cols = {"o_orderkey": pa.array(keys)}
        for name, typ in ORDER_FIELDS[1:]:
            cols[name] = pa.array(v[name], typ, mask=dead)
        cols["_op"] = pa.array(np.array(["update_postimage", "delete", "insert"])[ops])
        cols["_seq"] = pa.array(np.arange(seq, seq + per_batch, dtype=np.int64))
        seq += per_batch
        yield pa.table(cols, schema=CHANGE_SCHEMA)


def write_landing(directory, tables):
    """One parquet file per micro-batch; modification times one second
    apart so the file source takes them in order."""
    os.makedirs(directory, exist_ok=True)
    paths = []
    for b, t in enumerate(tables):
        p = os.path.join(directory, f"batch_{b:05d}.parquet")
        pq.write_table(t, p)
        os.utime(p, (1.6e9 + b, 1.6e9 + b))
        paths.append(p)
    return paths


def orders_snapshot(path, seed, n0):
    """The `orders` snapshot every table starts from. Like the sf0.1
    table it stands for, it is the same for every run (fixed seed)."""
    if not os.path.exists(path):
        pq.write_table(orders(np.random.default_rng(seed), n0), path + ".tmp")
        os.rename(path + ".tmp", path)
    return path


def cdc_inputs(seed, work, n0, batches, per_batch):
    """`batches` change files for the `orders` snapshot (file 0 is the
    set-up micro-batch); `landing_warm` holds file 0 alone."""
    rng = np.random.default_rng(seed)
    files = write_landing(os.path.join(work, "landing"),
                          change_batches(rng, n0, batches, per_batch))
    warm = os.path.join(work, "landing_warm")
    os.makedirs(warm)
    os.link(files[0], os.path.join(warm, os.path.basename(files[0])))
    return {"landing": os.path.join(work, "landing"), "landing_warm": warm}


def dims(rng, work):
    """supplier, nation and part tables for the backfill join."""
    out = {}
    out["nation"] = pa.table({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i:02d}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    ns = 1000
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(1, ns + 1, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(1, ns + 1)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2)})
    npart = 20000
    out["part"] = pa.table({
        "p_partkey": np.arange(1, npart + 1, dtype=np.int64),
        "p_brand": [f"Brand#{a}{b}" for a, b in zip(rng.integers(1, 6, npart), rng.integers(1, 6, npart))],
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(rng.uniform(900.0, 2100.0, npart), 2)})
    paths = {}
    for name, t in out.items():
        paths[name] = os.path.join(work, f"{name}.parquet")
        pq.write_table(t, paths[name])
    return paths


def lineitem_values(rng, n):
    return {
        "l_partkey": rng.integers(1, 20001, n, dtype=np.int64),
        "l_suppkey": rng.integers(1, 1001, n, dtype=np.int64),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 100000.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
    }


# pgoutput relation of the backfilled table: (name, type OID, key)
LINEITEM_COLUMNS = [
    ("l_orderkey", 20, True), ("l_linenumber", 23, True),
    ("l_partkey", 20, False), ("l_suppkey", 20, False),
    ("l_quantity", 701, False), ("l_extendedprice", 701, False),
    ("l_discount", 701, False), ("l_tax", 701, False),
    ("l_returnflag", 25, False), ("l_linestatus", 25, False),
]
REL_ID = 16385


def pg_text(v):
    """A value in Postgres's text output format."""
    return repr(v) if isinstance(v, float) else str(v)


def pg_tuple(cells):
    out = [struct.pack(">h", len(cells))]
    for c in cells:
        if c is None:
            out.append(b"n")
        else:
            b = pg_text(c).encode()
            out.append(b"t" + struct.pack(">i", len(b)) + b)
    return b"".join(out)


def pg_relation():
    out = [b"R", struct.pack(">i", REL_ID), b"public\0", b"lineitem\0", b"d",
           struct.pack(">h", len(LINEITEM_COLUMNS))]
    for name, oid, key in LINEITEM_COLUMNS:
        out.append(struct.pack(">b", 1 if key else 0) + name.encode() + b"\0"
                   + struct.pack(">ii", oid, -1))
    return b"".join(out)


def pg_frames(log):
    """pgoutput messages for the change log, per the PostgreSQL logical
    replication message formats: the Relation message first, then an
    Insert, Update (new tuple only, replica identity default) or Delete
    (key tuple) per change."""
    cols = [log.column(name).to_pylist() for name, _, _ in LINEITEM_COLUMNS]
    keys = [k for _, _, k in LINEITEM_COLUMNS]
    frames = []
    rel = struct.pack(">i", REL_ID)
    for i, op in enumerate(log.column("_op").to_pylist()):
        cells = [c[i] for c in cols]
        if op == "I":
            frames.append(b"I" + rel + b"N" + pg_tuple(cells))
        elif op == "U":
            frames.append(b"U" + rel + b"N" + pg_tuple(cells))
        else:
            frames.append(b"D" + rel + b"K" + pg_tuple([c if k else None for c, k in zip(cells, keys)]))
    return frames


def pg_inputs(seed, work, orders_path, n_orders, update_frac=0.3, delete_frac=0.1):
    """Dimension tables, the `lineitem` change log of a Postgres backfill
    and its pgoutput frames. Every row is inserted (1-7 lines per order,
    about 4 on average, for the first `n_orders` orders of the snapshot
    at `orders_path`), then updates of `update_frac` and deletes of
    `delete_frac` of the rows follow, interleaved. Updated and deleted
    rows are disjoint, so no change targets a missing row. The frames
    are written as (seq, frame) in eight files in seq order, as a
    capture tool would roll them."""
    rng = np.random.default_rng(seed)
    paths = dims(rng, work)
    paths["orders"] = orders_path
    lines = rng.integers(1, 8, n_orders)
    okeys = np.repeat(np.arange(1, n_orders + 1, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    lnum = (np.arange(len(okeys)) - starts + 1).astype(np.int32)
    n = len(okeys)
    perm = rng.permutation(n)
    n_del = int(delete_frac * n)
    dele = perm[:n_del]
    upd = rng.choice(perm[n_del:], int(update_frac * n), replace=True)
    tail = np.concatenate([upd, dele])
    tail_ops = np.array(["U"] * len(upd) + ["D"] * len(dele))
    order = rng.permutation(len(tail))
    rows = np.concatenate([np.arange(n), tail[order]])
    ops = np.concatenate([np.full(n, "I"), tail_ops[order]])
    m = len(rows)
    v = lineitem_values(rng, m)
    dead = ops == "D"
    cols = {"_seq": np.arange(1, m + 1, dtype=np.int64), "_op": ops,
            "l_orderkey": okeys[rows], "l_linenumber": lnum[rows]}
    for k, a in v.items():
        cols[k] = pa.array(a, mask=dead)
    log = pa.table(cols)
    paths["log"] = os.path.join(work, "lineitem_log.parquet")
    pq.write_table(log, paths["log"])
    frames = pa.table({"seq": pa.array(np.arange(m + 1, dtype=np.int64)),
                       "frame": pa.array([pg_relation()] + pg_frames(log), pa.binary())})
    paths["frames"] = os.path.join(work, "frames")
    os.makedirs(paths["frames"])
    step = -(-(m + 1) // 8)
    for i in range(8):
        pq.write_table(frames.slice(i * step, step), os.path.join(paths["frames"], f"part-{i}.parquet"))
    return paths, m


def point_reads(seed, max_key, n, span=200):
    """`n` seeded key ranges of `span` consecutive `orders` keys: the
    point reads whose pruning a traced cdc_upsert_delta run records. The
    span is a choice, not taken from any measured workload."""
    rng = np.random.default_rng(seed)
    return [[lo, lo + span - 1] for lo in (int(k) for k in rng.integers(1, max_key - span, n))]
