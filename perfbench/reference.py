"""Reference computations that check each workload's output. They use
DuckDB over the generator's inputs and read Delta tables by replaying
`_delta_log` here, so none of them runs the engine layer under test.
"""
import glob
import json
import math
import os
from urllib.parse import unquote

import duckdb

ORDER_COLS = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"


def close(a, b, rel=1e-9):
    if isinstance(a, float) or isinstance(b, float):
        return math.isclose(float(a), float(b), rel_tol=rel, abs_tol=1e-6)
    return a == b


def rows_match(got, want):
    return len(got) == len(want) and all(
        len(g) == len(w) and all(close(x, y) for x, y in zip(g, w))
        for g, w in zip(got, want))


class DeltaLog:
    """Replays a Delta table's JSON commits: live files per version and
    the streaming `txn` watermark written with each commit."""

    def __init__(self, table):
        self.table = table
        self.commits = []
        for p in sorted(glob.glob(os.path.join(table, "_delta_log", "*.json"))):
            actions = [json.loads(l) for l in open(p) if l.strip()]
            self.commits.append((int(os.path.basename(p)[:20]), actions))
        versions = [v for v, _ in self.commits]
        if versions != list(range(len(versions))):
            raise ValueError(f"{table}: commit files are not 0..n ({versions[:5]}…)")

    @property
    def latest(self):
        return len(self.commits) - 1

    def files(self, version):
        live = {}
        for v, actions in self.commits[:version + 1]:
            for a in actions:
                if "add" in a:
                    if a["add"].get("deletionVector"):
                        raise ValueError("deletion vectors are not read by the reference")
                    live[a["add"]["path"]] = a["add"]
                elif "remove" in a:
                    live.pop(a["remove"]["path"], None)
        return [os.path.join(self.table, unquote(p)) for p in live]

    def txn(self, version):
        """Micro-batch id recorded by commit `version`, or -1."""
        for a in self.commits[version][1]:
            if "txn" in a:
                return a["txn"]["version"]
        return -1

    def commit_stats(self, version):
        """(files removed, rows written) by one commit."""
        removed = written = 0
        for a in self.commits[version][1]:
            if "remove" in a:
                removed += 1
            elif "add" in a:
                written += json.loads(a["add"]["stats"])["numRecords"]
        return removed, written


class OrdersHistory:
    """Every image of every `orders` key, valid from the batch that wrote
    it until the batch that replaced it: the state after batch b is a
    filter. Batch -1 is the starting snapshot."""

    def __init__(self, con, orders, landing, per_batch):
        self.con = con
        files = sorted(glob.glob(os.path.join(landing, "*.parquet")))
        con.execute(f"""
            CREATE OR REPLACE TABLE images AS
            WITH allrows AS (
              SELECT {ORDER_COLS}, 'insert' AS _op, -1 AS _batch, 0 AS _seq
              FROM read_parquet('{orders}')
              UNION ALL
              SELECT {ORDER_COLS}, _op, (_seq - 1) // {per_batch} AS _batch, _seq
              FROM read_parquet({files!r})),
            last AS (
              SELECT * FROM allrows QUALIFY row_number() OVER
                (PARTITION BY o_orderkey, _batch ORDER BY _seq DESC) = 1)
            SELECT *, lead(_batch, 1, 2147483647) OVER
              (PARTITION BY o_orderkey ORDER BY _batch) AS _until FROM last""")

    def state(self, batch):
        return (f"(SELECT {ORDER_COLS} FROM images WHERE _batch <= {batch} "
                f"AND _until > {batch} AND _op <> 'delete')")

    def matches_table(self, batch, files):
        """True when the parquet `files` hold exactly the state after `batch`."""
        got = f"(SELECT {ORDER_COLS} FROM read_parquet({files!r}))"
        want = self.state(batch)
        extra = self.con.execute(f"SELECT count(*) FROM ({got} EXCEPT ALL {want})").fetchone()[0]
        missing = self.con.execute(f"SELECT count(*) FROM ({want} EXCEPT ALL {got})").fetchone()[0]
        return extra == 0 and missing == 0


def check_cdc(inputs, table, per_batch, batches):
    """The table holds the starting snapshot with every landed file
    applied, and its last commit recorded the last micro-batch."""
    log = DeltaLog(table)
    last = log.txn(log.latest)
    if last != batches - 1:
        return False, f"last committed micro-batch {last}, expected {batches - 1}"
    con = duckdb.connect()
    hist = OrdersHistory(con, inputs["orders"], inputs["landing"], per_batch)
    if not hist.matches_table(last, log.files(log.latest)):
        return False, "table state differs from the change log"
    return True, ""


PG_SQL = """
WITH lineitem AS (
  SELECT * EXCLUDE (_op, _seq) FROM read_parquet('{log}')
  QUALIFY row_number() OVER (PARTITION BY l_orderkey, l_linenumber ORDER BY _seq DESC) = 1
      AND _op <> 'D')
SELECT n.n_name, p.p_brand, o.o_orderstatus, count(*),
       sum(l.l_quantity), sum(l.l_extendedprice * (1 - l.l_discount))
FROM lineitem l
JOIN read_parquet('{orders}') o ON l.l_orderkey = o.o_orderkey
JOIN read_parquet('{supplier}') s ON l.l_suppkey = s.s_suppkey
JOIN read_parquet('{nation}') n ON s.s_nationkey = n.n_nationkey
JOIN read_parquet('{part}') p ON l.l_partkey = p.p_partkey
GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
"""


def check_pg(inputs, result):
    want = [list(r) for r in duckdb.connect().execute(PG_SQL.format(**inputs)).fetchall()]
    got = sorted(result, key=lambda r: (r[0], r[1], r[2]))
    if not rows_match(got, want):
        return False, f"backfill result differs from the reference ({len(got)} vs {len(want)} groups)"
    return True, ""

