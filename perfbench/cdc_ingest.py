"""``cdc_ingest``: changelog micro-batches upserted into a keyed table, with
reads beside them.

Chosen because most of its time is micro-batch overhead, the MERGE file
rewrite and commit/checkpoint I/O. The read-your-write lookup after every
batch shows a write-side gain that costs readers (and the reverse), and the
compaction and snapshot expiry after every batch show in the cycle rate.

Set-up creates a table keyed by ``block_number`` from the generated
orders, range-partitioned into ``SEED_FILES`` files. Each cycle lands one
changelog text file, drains it with one ``availableNow`` trigger of
``streaming.changelog_upsert``, then looks up a key from that batch. The
final table must equal a pure-Python last-writer-wins replay of every
generated line (malformed lines dropped), and every lookup must see its own
batch.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa

import gen
from harness import Ctx

# the 2,000-line micro-batch of the sizing table in README.md; at sf0.1 a
# MERGE rewrites every file its keys touch, so a commit costs about the same
# at 500 lines (~2.4 s on 4 cores)
BATCH_LINES = 2000
WARMUP_CYCLES = 2
SEED_FILES = 8


def _dir_files(root: str) -> dict[str, int]:
    out = {}
    for r, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(r, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass  # removed between listing and stat
    return out


class CdcIngest:
    name = "cdc_ingest"

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.data = os.path.join(ctx.work, "data")
        orders, _ = gen.orders_lineitem(ctx.seed, ctx.sf)
        keys = orders.column("o_orderkey").to_numpy().astype(np.int32)
        r = np.random.default_rng([ctx.seed, 2])
        hashes = ["%016x" % int(x) for x in r.integers(0, 2**63, len(keys))]
        gen.write_parquet(pa.table({"block_number": keys, "hash": hashes}),
                          os.path.join(self.data, "cdc_seed.parquet"))
        self.seed_state = dict(zip(keys.tolist(), hashes))
        self.first_key = int(keys.max()) + 1

    def build(self, i: int) -> None:
        from lakeshed import io
        from lakeshed.streaming import changelog
        from lakeshed.table import LakeTable

        spark = self.ctx.spark
        root = os.path.join(self.ctx.work, f"cdc{i}")
        src = io.load_star(spark, self.data, "cdc_seed")["cdc_seed"]
        self.table = LakeTable(spark, os.path.join(root, "table")).create(
            src.repartitionByRange(SEED_FILES, "block_number"))
        self.inbox = os.path.join(root, "inbox")
        self.staging = os.path.join(root, "staging")
        self.ckpt = os.path.join(root, "checkpoint")
        os.makedirs(self.inbox)
        os.makedirs(self.staging)
        self.parsed = changelog.parse_changelog(spark.readStream.text(self.inbox))
        self.state = dict(self.seed_state)
        self.next_key = self.first_key
        self.rng = np.random.default_rng([self.ctx.seed, 3])
        self.batches = 0
        self.input_bytes = 0
        self.input_rows = 0
        self.seen = _dir_files(self.table.path)
        self.bytes_written = 0

    def warmup(self) -> None:
        for _ in range(WARMUP_CYCLES):
            self.step()
        self.input_bytes = self.input_rows = self.bytes_written = 0
        self.seen = _dir_files(self.table.path)

    # ------------------------------------------------------------- ops
    def _land(self) -> tuple[str, list[str]]:
        lines, self.next_key = gen.changelog_batch(
            self.rng, self.next_key, BATCH_LINES)
        name = f"b{self.batches:06d}.txt"
        tmp = os.path.join(self.staging, name)
        with open(tmp, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        self.input_bytes += os.path.getsize(tmp)
        self.input_rows += len(lines)
        self.batches += 1
        return tmp, lines

    def commit(self, op, tmp: str):
        from lakeshed.streaming import changelog

        head = self.table.head()
        os.replace(tmp, os.path.join(self.inbox, os.path.basename(tmp)))
        q = changelog.changelog_upsert(
            self.parsed, self.table, checkpoint=self.ckpt,
            trigger={"availableNow": True})
        op.groups.append(str(q.runId))
        self.ctx.action(q.awaitTermination)
        if self.table.head() <= head:
            raise RuntimeError("trigger ended without a visible commit")
        prog = [p for p in q.recentProgress if p.get("numInputRows")]
        op.info["batch_ms"] = sum(p["durationMs"].get("triggerExecution", 0)
                                  for p in prog)
        op.info["add_batch_ms"] = sum(p["durationMs"].get("addBatch", 0)
                                      for p in prog)
        op.info["rows"] = sum(p["numInputRows"] for p in prog)

    def rw_lookup(self, op, key: int):
        df = self.table.scan(f"block_number = {key}")
        return [tuple(r) for r in self.ctx.action(df.collect)]

    def step(self) -> list:
        tmp, lines = self._land()
        ops = [self.ctx.run("commit", lambda op: self.commit(op, tmp))]
        gen.replay(self.state, lines)
        touched = [int(p[1]) for p in (ln.split(",") for ln in lines)
                   if len(p) == 3 and p[0] in ("I", "D") and p[1].isdigit()]
        key = touched[int(self.rng.integers(0, len(touched)))]
        ops.append(self.ctx.run("rw_lookup", lambda op: self.rw_lookup(op, key)))
        want = ([(key, self.state[key])] if key in self.state else [])
        got = ops[-1].info.get("result")
        if ops[-1].ok is None:
            ops[-1].ok = got == want
            if got != want:
                ops[-1].error = f"key {key}: got {got} want {want}"
        # compact + expire after every batch: each MERGE adds ~30 files, and
        # a longer cadence makes commit latency a sawtooth whose median
        # swings with how many commits of each phase a run happens to hold
        ops.append(self.ctx.run("compact", lambda op: self.table.compact()))
        ops.append(self.ctx.run(
            "expire", lambda op: self.table.expire_snapshots()))
        for o in ops:
            if o.kind != "rw_lookup" and o.ok is None:
                o.ok = True
        now = _dir_files(self.table.path)
        self.bytes_written += sum(s for p, s in now.items() if p not in self.seen)
        self.seen.update(now)
        return ops

    # ----------------------------------------------------------- checks
    def verify(self, ops) -> None:
        """Final state against the replay; a mismatch fails every commit
        (any of them may have been the wrong one)."""
        rows = self.table.read().collect()
        got = {r[0]: r[1] for r in rows}
        self.live_arrow_bytes = pa.table({
            "block_number": pa.array(list(got), pa.int32()),
            "hash": pa.array(list(got.values()), pa.string())}).nbytes
        self.disk_bytes = sum(_dir_files(self.table.path).values())
        if len(rows) != len(got) or got != self.state:
            diff = len(set(got.items()) ^ set(self.state.items()))
            for o in ops:
                if o.kind == "commit":
                    o.ok = False
                    o.error = f"final table differs from the replay in {diff} rows"

    def primary(self, ops) -> list[float]:
        return [o.seconds for o in ops if o.kind == "commit"]

    completed = primary

    def detail(self, ops) -> dict:
        commits = [o for o in ops if o.kind == "commit"]
        return {
            "commit_p50_ms": ("ms", [o.seconds * 1e3 for o in commits]),
            "commit_tail_ms": ("ms", [o.seconds * 1e3 for o in commits]),
            "read_under_write_p50_ms": (
                "ms", [o.seconds * 1e3 for o in ops if o.kind == "rw_lookup"]),
            "write_amp": ("ratio", self.bytes_written / max(self.input_bytes, 1)),
            "space_amp": ("ratio", self.disk_bytes
                          / max(self.live_arrow_bytes, 1)),
        }

