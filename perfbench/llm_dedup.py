"""``llm_dedup``: the batch corpus-curation pipeline.

Chosen because most of its time is Arrow/pandas kernels, shuffle and
connected-components checkpoint I/O, with almost no table planning: it is
the control for ``lake_read``'s planning changes and the target for kernel
changes.

The input is ``COPIES`` replicas of a seeded corpus (see
:func:`gen.corpus`). One pass runs the quality filter, exact dedup,
MinHash-LSH pairs, connected components and semantic dedup, then appends
the kept documents to a LakeTable; each stage is materialised so it can be
timed as its own operation. Every stage count must equal ``COPIES ×`` the
one-copy value the registered DuckDB oracles (``oracle_sql()``) give,
chained over the same survivors.
"""

from __future__ import annotations

import os

import duckdb

import gen
from harness import Ctx

COPIES = 8
STAGES = ("quality", "exact", "minhash", "cc", "semantic", "write")


def _docs_per_copy(sf: float) -> int:
    return max(60, int(2500 * sf))


class LlmDedup:
    name = "llm_dedup"

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.data = os.path.join(ctx.work, "data")
        self.n_docs = _docs_per_copy(ctx.sf)
        docs, emb = gen.corpus(ctx.seed, self.n_docs, COPIES)
        gen.write_parquet(docs, os.path.join(self.data, "documents.parquet"))
        gen.write_parquet(emb, os.path.join(self.data, "embeddings.parquet"))
        self.expected: dict[str, int] | None = None
        self.passes: list[tuple[list, dict]] = []

    def build(self, i: int) -> None:
        from lakeshed import io
        from lakeshed.table import LakeTable

        spark = self.ctx.spark
        src = io.load_star(spark, self.data, "documents", "embeddings")
        self.docs, self.emb = src["documents"], src["embeddings"]
        self.out = LakeTable(spark, os.path.join(self.ctx.work, f"kept{i}"))
        self.out.create(schema="doc_id bigint, text string")

    def warmup(self) -> None:
        self.step()
        self.passes.clear()

    # ------------------------------------------------------------- pass
    def step(self) -> list:
        from pyspark.sql import functions as F

        from lakeshed.llm import dedup, release_persisted, similarity, text

        ctx, got, held = self.ctx, {}, []

        def hold(df):
            df = df.persist()
            held.append(df)
            return df

        def quality(op):
            keep = text.quality_rules(self.docs).where("keep").select("doc_id")
            s["docs"] = hold(self.docs.join(keep, "doc_id"))
            got["quality"] = ctx.action(s["docs"].count)

        def exact(op):
            reps = dedup.exact_dedup(s["docs"]).select("doc_id")
            s["docs"] = hold(s["docs"].join(reps, "doc_id"))
            got["exact"] = ctx.action(s["docs"].count)

        def minhash(op):
            s["pairs"] = hold(dedup.minhash_lsh_pairs(
                s["docs"], threshold=0.7, num_hashes=128, bands=32, shingle=3))
            got["pairs"] = ctx.action(s["pairs"].count)

        def cc(op):
            labels = hold(dedup.dedup_clusters(
                s["pairs"], s["docs"].select("doc_id"), id_col="doc_id",
                shuffle_partitions=8))
            got["clusters"] = ctx.action(
                labels.select("cluster").distinct().count)
            s["reps"] = labels.where("doc_id = cluster").select("doc_id")

        def semantic(op):
            vecs = self.emb.join(
                s["reps"].select(F.col("doc_id").alias("vec_id")), "vec_id")
            sd = hold(similarity.semantic_dedup(vecs, threshold=0.97))
            s["kept"] = hold(sd.where("keep").select(
                F.col("vec_id").alias("doc_id")))
            got["semantic"] = ctx.action(s["kept"].count)

        def write(op):
            c = self.out.append(s["docs"].join(s["kept"], "doc_id"))
            got["written"] = sum(a.rows for a in c.add)

        s: dict = {}
        ops = []
        for kind, fn in zip(STAGES, (quality, exact, minhash, cc, semantic,
                                     write)):
            op = ctx.run(kind, fn)
            ops.append(op)
            if op.ok is False:
                break
        for df in held:
            df.unpersist(blocking=False)
        release_persisted()
        self.passes.append((ops, got))
        return ops

    # ----------------------------------------------------------- checks
    def oracle(self) -> dict[str, int]:
        """One-copy counts from the registered DuckDB oracles, each run
        over the survivors of the stage before it."""
        import __spark_entry__

        sql = __spark_entry__.oracle_sql()
        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                path = os.path.join(self.data, f"{t}.parquet")
                key = "doc_id" if t == "documents" else "vec_id"
                con.execute(f"CREATE TABLE {t}0 AS SELECT * FROM "
                            f"read_parquet('{path}') WHERE {key} < "
                            f"{gen.COPY_STRIDE}")
            out = {}

            def docs(where: str) -> None:
                con.execute("CREATE OR REPLACE VIEW documents AS SELECT * "
                            f"FROM documents0 WHERE {where}")

            docs("true")
            con.execute("CREATE TABLE q AS " + sql["llm_quality_filter"])
            out["quality"] = con.execute(
                "SELECT count(*) FROM q WHERE keep").fetchone()[0]
            docs("doc_id IN (SELECT doc_id FROM q WHERE keep)")
            con.execute("CREATE TABLE ex AS " + sql["llm_exact_dedup"])
            out["exact"] = con.execute("SELECT count(*) FROM ex").fetchone()[0]
            docs("doc_id IN (SELECT doc_id FROM ex)")
            con.execute("CREATE TABLE pairs AS " + sql["llm_minhash_neardup"])
            out["pairs"] = con.execute("SELECT count(*) FROM pairs").fetchone()[0]
            con.execute("CREATE TABLE labels AS " + sql["llm_dedup_clusters"])
            out["clusters"] = con.execute(
                "SELECT count(DISTINCT cluster) FROM labels").fetchone()[0]
            con.execute("CREATE OR REPLACE VIEW embeddings AS SELECT * FROM "
                        "embeddings0 WHERE vec_id IN (SELECT doc_id FROM "
                        "labels WHERE doc_id = cluster)")
            sem = sql["llm_semantic_dedup"]
            out["semantic"] = con.execute(
                f"SELECT count(*) FROM ({sem}) WHERE NOT has_exact_dup_smaller"
            ).fetchone()[0]
            out["written"] = out["semantic"]
            return out
        finally:
            con.close()

    def verify(self, ops) -> None:
        one = self.oracle()
        self.expected = {k: COPIES * v for k, v in one.items()}
        for stage_ops, got in self.passes:
            for op, key in zip(stage_ops, ("quality", "exact", "pairs",
                                           "clusters", "semantic", "written")):
                if op.ok is False:
                    continue
                ok = got.get(key) == self.expected[key]
                op.ok = ok
                if not ok:
                    op.error = (f"{key}: got {got.get(key)} want "
                                f"{self.expected[key]}")

    def primary(self, ops) -> list[float]:
        """Wall seconds of each complete pass among ``ops``."""
        mine = {id(o) for o in ops}
        return [sum(o.seconds for o in stage_ops)
                for stage_ops, _ in self.passes
                if len(stage_ops) == len(STAGES) and id(stage_ops[0]) in mine]

    completed = primary

    def detail(self, ops) -> dict:
        walls = self.primary(ops)
        docs = COPIES * self.n_docs
        return {"docs_per_s": ("1/s", docs * len(walls) / max(sum(walls), 1e-9))}
