"""``lake_read``: read-only analytics over two LakeTables with a deep log.

Chosen because nearly all of its time is commit-log planning, stats
pruning, Catalyst and the parquet scan, with no writes and no Arrow
kernels: a planning, pruning or scan change shows here and a kernel change
must not.

Set-up builds ``db.orders`` (one narrow key range per append, each
followed by table-property commits, 24 versions in all: more than the log's
20-commit checkpoint interval, so ``AS OF`` targets sit below the newest
checkpoint) and ``db.lineitem`` (shipdate-clustered, several
range-partitioned files per commit) through the public write API. The
timed loop is one client issuing a seeded mix of point lookups, date-range
aggregates, Q1/Q3-shaped ``Catalog.sql`` queries, ``VERSION``/``TIMESTAMP
AS OF`` reads and a metadata-table query. Every answer is compared after
the loop with DuckDB over the generated parquet, with the same predicate
and the same version cut.
"""

from __future__ import annotations

import datetime as dt
import os

import duckdb
import numpy as np

import gen
from harness import Ctx, rows_equal

ORDERS_APPENDS = 8
ORDERS_FILES = 2          # files per orders append
PROPS_PER_APPEND = 2      # metadata-only commits after each append
LINEITEM_COMMITS = 3
LINEITEM_FILES = 8        # files per lineitem commit
# One deck is the unit of the timed loop: a run is a whole number of decks,
# so every run holds exactly this mix and ops_per_s does not move with
# where a run happens to stop. The counts follow one rule: every read kind
# gets an equal share of deck wall time, i.e. its count is proportional to
# 1 / its median latency. The medians were measured with this benchmark at
# sf0.1 on 4 cores (10 seeds): lookup 217 ms, time_travel 262 ms, range
# 452 ms, agg 1031 ms (Q1 and Q3 alternating). Scaled to two aggregates per
# deck (one Q1, one Q3): 9.5 lookups, 7.9 AS OF reads, 4.6 range scans,
# rounded to the nearest whole op. One metadata query per deck (history and
# files alternating between decks) rides along at ~5% of the wall.
MIX = {"lookup": 10, "time_travel": 8, "range": 5, "agg": 2, "metadata": 1}

Q1 = """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
  sum(l_extendedprice) AS sum_base, sum(l_extendedprice * (1 - l_discount))
  AS sum_disc, avg(l_quantity) AS avg_qty, count(*) AS n
FROM {lineitem} WHERE l_shipdate <= '{d}'
GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"""
Q3 = """SELECT o.o_orderpriority, count(*) AS n,
  sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue
FROM {orders} o JOIN {lineitem} l ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderdate < '{d}' AND l.l_shipdate > '{d}'
GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority"""
TRAVEL = "SELECT count(*) AS n, sum(o_totalprice) AS total FROM {orders}{cut}"


def _day(d: int) -> str:
    return (gen.EPOCH + dt.timedelta(days=int(d))).strftime("%Y-%m-%d")


class LakeRead:
    name = "lake_read"

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.data = os.path.join(ctx.work, "data")
        orders, lineitem = gen.orders_lineitem(ctx.seed, ctx.sf)
        gen.write_parquet(orders, os.path.join(self.data, "orders.parquet"))
        gen.write_parquet(lineitem, os.path.join(self.data, "lineitem.parquet"))
        self.n_orders = orders.num_rows
        self.rng = np.random.default_rng([ctx.seed, 1])
        self.checks: list[tuple] = []
        # per-kind op count: alternates Q1/Q3, VERSION/TIMESTAMP AS OF and
        # history/files within each kind
        self.turns: dict[str, int] = {}

    def build(self, i: int) -> None:
        """One full set-up: load the inputs and build both tables."""
        from lakeshed import io
        from lakeshed.catalog import Catalog

        spark = self.ctx.spark
        self.cat = Catalog(spark, os.path.join(self.ctx.work, f"wh{i}"))
        src = io.load_star(spark, self.data, "orders", "lineitem")
        kb = [self.n_orders * j // ORDERS_APPENDS
              for j in range(ORDERS_APPENDS + 1)]
        self.order_versions = []   # (version, commit ms, keys below)
        for j in range(ORDERS_APPENDS):
            part = src["orders"].where(
                f"o_orderkey >= {kb[j]} AND o_orderkey < {kb[j + 1]}"
            ).repartitionByRange(ORDERS_FILES, "o_orderkey")
            if j == 0:
                t = self.cat.create_table("db.orders", part)
                commits = [t.head()]
            else:
                commits = [t.append(part).version]
            commits += [t.set_properties(**{"bench.step": f"{j}.{p}"}).version
                        for p in range(PROPS_PER_APPEND)]
            self.order_versions += [(v, t.committed_at_ms(v), kb[j + 1])
                                    for v in commits]
        self.orders = t
        days = gen.DAYS + 122
        db = [days * j // LINEITEM_COMMITS for j in range(LINEITEM_COMMITS + 1)]
        for j in range(LINEITEM_COMMITS):
            part = src["lineitem"].where(
                f"l_shipdate >= '{_day(db[j])}' AND "
                f"l_shipdate < '{_day(db[j + 1])}'"
            ).repartitionByRange(LINEITEM_FILES, "l_shipdate")
            if j == 0:
                li = self.cat.create_table("db.lineitem", part)
            else:
                li.append(part)
        self.lineitem = li

    def warmup(self) -> None:
        for kind in MIX:
            for t in (0, 1):   # both variants of each kind
                self.turns[kind] = t
                getattr(self, kind)(None)
        self.turns.clear()

    def step(self) -> list:
        """One deck: the whole mix in a seeded order."""
        deck = [k for k, n in MIX.items() for _ in range(n)]
        self.rng.shuffle(deck)
        ops = []
        for kind in deck:
            self.turns[kind] = self.turns.get(kind, 0) + 1
            ops.append(self.ctx.run(kind, getattr(self, kind)))
        return ops

    # ------------------------------------------------------------- ops
    # Each op files away (op, rows, DuckDB sql) for the check after the
    # loop, so no check runs inside the timing.
    def _done(self, op, rows, sql: str) -> int:
        if op is not None:
            self.checks.append((op, [tuple(r) for r in rows], sql))
        return len(rows)

    def lookup(self, op):
        k = int(self.rng.integers(0, self.n_orders))
        df = self.orders.scan(f"o_orderkey = {k}")
        rows = self.ctx.action(df.collect)
        if op is not None:
            op.info["rows_returned"] = len(rows)
        return self._done(op, rows,
                          f"SELECT * FROM orders WHERE o_orderkey = {k}")

    def range(self, op):
        from pyspark.sql import functions as F

        d0 = int(self.rng.integers(0, gen.DAYS + 122 - 30))
        pred = (f"l_shipdate >= '{_day(d0)}' AND "
                f"l_shipdate < '{_day(d0 + 30)}'")
        df = self.lineitem.scan(pred).agg(
            F.count("*").alias("n"), F.sum("l_extendedprice"),
            F.sum("l_quantity"))
        rows = self.ctx.action(df.collect)
        if op is not None:
            op.info["rows_returned"] = rows[0][0]
        return self._done(op, rows, "SELECT count(*), sum(l_extendedprice), "
                          f"sum(l_quantity) FROM lineitem WHERE {pred}")

    def agg(self, op):
        q = (Q1, Q3)[self.turns.get("agg", 0) % 2]
        d = _day(int(self.rng.integers(800, gen.DAYS)))
        df = self.cat.sql(q.format(orders="db.orders",
                                   lineitem="db.lineitem", d=d))
        rows = self.ctx.action(df.collect)
        return self._done(op, rows, q.format(orders="orders",
                                             lineitem="lineitem", d=d))

    def time_travel(self, op):
        depth = int(self.rng.integers(1, len(self.order_versions)))
        v, ms, below = self.order_versions[-1 - depth]
        cut = (f" VERSION AS OF {v}", f" TIMESTAMP AS OF {ms}")[
            self.turns.get("time_travel", 0) % 2]
        df = self.cat.sql(TRAVEL.format(orders="db.orders", cut=cut))
        rows = self.ctx.action(df.collect)
        return self._done(op, rows, TRAVEL.format(
            orders="orders", cut=f" WHERE o_orderkey < {below}"))

    def metadata(self, op):
        if self.turns.get("metadata", 0) % 2:
            df = self.cat.sql("SELECT count(*) AS n FROM db.orders.history")
            want = f"SELECT {len(self.order_versions)}"
        else:
            df = self.cat.sql(
                "SELECT sum(record_count) AS n FROM db.orders.files")
            want = "SELECT count(*) FROM orders"
        rows = self.ctx.action(df.collect)
        return self._done(op, rows, want)

    # ----------------------------------------------------------- checks
    def verify(self, ops) -> None:
        con = duckdb.connect()
        try:
            for name in ("orders", "lineitem"):
                path = os.path.join(self.data, f"{name}.parquet")
                con.execute(f"CREATE VIEW {name} AS "
                            f"SELECT * FROM read_parquet('{path}')")
            for op, got, sql in self.checks:
                want = [tuple(r) for r in con.execute(sql).fetchall()]
                ok = rows_equal(got, want)
                if op.ok is None or not ok:
                    op.ok = ok
                if not ok:
                    op.error = f"mismatch: got {got[:3]} want {want[:3]}"
        finally:
            con.close()

    def completed(self, ops) -> list[float]:
        """Latencies of the ops ``ops_per_s`` and the tail count: every
        query."""
        return [o.seconds for o in ops]

    def primary(self, ops) -> list[float]:
        """Latencies behind ``trace.overhead_pct``: the point lookups."""
        return [o.seconds for o in ops if o.kind == "lookup"]

    def detail(self, ops) -> dict:
        out = {}
        for kind, metric in (("lookup", "lookup_p50_ms"),
                             ("range", "range_scan_p50_ms"),
                             ("agg", "agg_p50_ms"),
                             ("time_travel", "time_travel_p50_ms")):
            out[metric] = ("ms", [o.seconds * 1e3 for o in ops
                                  if o.kind == kind])
        return out
