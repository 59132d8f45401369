"""Operation records, timing and summary statistics shared by the workloads."""

from __future__ import annotations

import math
import statistics
import time
import traceback
from dataclasses import dataclass, field

from spans import Tracer, job_stats


@dataclass
class Op:
    kind: str
    seconds: float
    ok: bool | None = None        # None until checked; False = failed/errored/wrong
    error: str | None = None
    info: dict = field(default_factory=dict)   # span counts, job stats
    groups: list[str] = field(default_factory=list)


class Ctx:
    """What a workload needs from the run: the session, its inputs' seed and
    scale, a working directory, and the tracer."""

    def __init__(self, spark, seed: int, sf: float, work: str,
                 tracer: Tracer) -> None:
        self.spark = spark
        self.seed = seed
        self.sf = sf
        self.work = work
        self.tracer = tracer
        self._n = 0

    def action(self, fn):
        """Run a Spark action (collect/count/await) under an ``exec`` span."""
        with self.tracer.span("exec.action"):
            return fn()

    def run(self, kind: str, fn) -> Op:
        """Time ``fn(op)`` as one operation under its own Spark job group.
        An exception makes the op failed; it never ends the run."""
        self._n += 1
        gid = f"perfbench-op-{self._n}"
        sc = self.spark.sparkContext
        sc.setJobGroup(gid, kind)
        traced = self.tracer.enabled
        op = Op(kind, 0.0, groups=[gid], info={"op_id": self._n})
        t0 = time.perf_counter()
        try:
            with self.tracer.op(self._n, kind) as counts:
                op.info["result"] = fn(op)
            op.info.update(counts)
        except Exception as e:  # an engine error is a failed op, not a crash
            op.ok = False
            op.error = "".join(traceback.format_exception_only(e)).strip()[-500:]
        op.seconds = time.perf_counter() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)
        if traced:
            self.tracer.settle()
            op.info["jobs"] = job_stats(sc, op.groups)
        return op


def p50(xs) -> float | None:
    xs = list(xs)
    return statistics.median(xs) if xs else None


def tail(xs) -> tuple[float | None, float | None, int]:
    """The highest percentile with at least ten samples beyond it:
    ``(value, percentile, n)``; ``(None, None, n)`` below 11 samples."""
    s = sorted(xs)
    n = len(s)
    if n < 11:
        return None, None, n
    return s[n - 11], 100.0 * (n - 10) / n, n


def close(a, b, rel: float = 1e-6) -> bool:
    """Equality for result cells: floats within a relative tolerance
    (Spark and DuckDB sum in different orders), everything else exact."""
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=rel, abs_tol=1e-6)
    return a == b


def rows_equal(got, want) -> bool:
    if len(got) != len(want):
        return False
    return all(len(g) == len(w) and all(close(x, y) for x, y in zip(g, w))
               for g, w in zip(got, want))
