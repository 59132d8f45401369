"""In-memory span tracing for the traced benchmark run.

Spans are recorded from the benchmark's own files: :meth:`Tracer.install`
wraps the public entry points of each engine module (``io.load_star``,
``Catalog.sql``, the ``LakeTable`` read/plan/DML/maintenance methods,
``streaming.changelog_upsert`` and the ``llm`` kernels) and restores them on
:meth:`Tracer.uninstall`. Nothing inside the engine is edited.

A span is ``(name, start, end, parent, op)``. The workload opens one root
span per operation (:meth:`Tracer.op`); wrapped calls nest under whatever
span is open on the calling thread, or under the operation thread's
innermost open span when the call arrives on another thread
(``foreachBatch`` callbacks run on the py4j callback thread). A layer's self time is its spans' duration minus
the part covered by their children.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    counts: dict = field(default_factory=dict)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self._local = threading.local()
        self._op_stack: list[int] | None = None
        self._op_id: int | None = None
        self._restore: list[tuple[object, str, object]] = []
        # filtered plan_files calls whose live-file count is still due, and
        # live-file counts per (table path, version)
        self._pending: list[tuple[dict, object, int | None]] = []
        self._live: dict[tuple[str, int], int] = {}
        self._orig_plan = None

    # ------------------------------------------------------------- spans
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str):
        """Record one span; yields its ``counts`` dict for the caller to
        fill. A no-op (yielding a throwaway dict) while tracing is off."""
        if not self.enabled:
            yield {}
            return
        st = self._stack()
        # a call on another thread nests under the op thread's innermost
        # open span (a foreachBatch merge under the wait that drives it)
        parent = st[-1] if st else (self._op_stack[-1] if self._op_stack
                                    else None)
        sp = Span(name, time.perf_counter(), parent=parent, op=self._op_id)
        self.spans.append(sp)
        st.append(len(self.spans) - 1)
        try:
            yield sp.counts
        finally:
            sp.end = time.perf_counter()
            st.pop()

    @contextlib.contextmanager
    def op(self, op_id: int, kind: str):
        """Root span of one benchmark operation."""
        if not self.enabled:
            yield {}
            return
        self._op_id = op_id
        with self.span(f"op.{kind}") as counts:
            self._op_stack = self._stack()
            try:
                yield counts
            finally:
                self._op_stack = None
                self._op_id = None

    # ---------------------------------------------------------- patching
    def wrap(self, owner: object, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper.
        ``after(counts, result, args, kwargs)`` runs once the span has
        closed, so the cost of counting is not charged to the layer."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as counts:
                res = orig(*args, **kwargs)
            if after is not None and tracer.enabled:
                after(counts, res, args, kwargs)
            return res

        self._restore.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        from lakeshed import catalog, io, table
        from lakeshed.llm import dedup, similarity, text
        from lakeshed.streaming import changelog

        lt = table.LakeTable
        self._orig_plan = lt.plan_files

        def planned(counts, res, args, kwargs):
            self_, where = args[0], (args[1] if len(args) > 1
                                     else kwargs.get("where"))
            version = args[2] if len(args) > 2 else kwargs.get("version")
            counts["filtered"] = where is not None
            counts["files_planned"] = len(res)
            counts["rows_planned"] = sum(a.rows for a in res)
            if where is None:
                counts["files_live"] = len(res)
            else:   # counted by settle(), outside the op's wall
                self._pending.append((counts, self_, version))

        def committed(counts, res, args, kwargs):
            t = args[0]
            counts["files_added"] = len(res.add)
            counts["files_removed"] = len(res.remove)
            counts["rows_added"] = sum(a.rows for a in res.add)
            counts["bytes_added"] = sum(a.bytes for a in res.add)
            try:
                counts["log_bytes"] = os.path.getsize(t._commit_path(res.version))
            except OSError:
                counts["log_bytes"] = 0

        self.wrap(io, "load_star", "io.load_star")
        self.wrap(catalog.Catalog, "sql", "catalog.sql")
        self.wrap(lt, "plan_files", "table.plan_files", planned)
        for m in ("scan", "read"):
            self.wrap(lt, m, f"table.{m}")
        for m in ("merge", "append", "compact"):
            self.wrap(lt, m, f"table.{m}", committed)
        self.wrap(lt, "expire_snapshots", "table.expire_snapshots")
        self.wrap(changelog, "changelog_upsert", "streaming.changelog_upsert")
        self.wrap(text, "quality_rules", "llm.text.quality_rules")
        for m in ("exact_dedup", "minhash_lsh_pairs", "dedup_clusters"):
            self.wrap(dedup, m, f"llm.dedup.{m}")
        self.wrap(similarity, "semantic_dedup", "llm.similarity.semantic_dedup")
        self.enabled = True

    def settle(self) -> None:
        """Fill in ``files_live`` for the filtered plans of the op that just
        ended. Called after the op's clock stops, so the extra unfiltered
        plan is charged neither to the op nor to a layer; each table
        version is counted once."""
        for counts, t, version in self._pending:
            v = t.head() if version is None else version
            key = (t.path, v)
            if key not in self._live:
                self._live[key] = len(self._orig_plan(t, None, v))
            counts["files_live"] = self._live[key]
        self._pending.clear()

    def uninstall(self) -> None:
        self.settle()
        self.enabled = False
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    # -------------------------------------------------------- analysis
    def children(self) -> dict[int, list[int]]:
        kids: dict[int, list[int]] = {}
        for i, s in enumerate(self.spans):
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(i)
        return kids

    def self_times(self) -> dict[str, float]:
        """Seconds of self time per layer (the span name up to its first
        dot: ``table``, ``catalog``, ``exec``...) over the spans of timed
        ops; op roots count as ``op``, the benchmark's own time between
        layer calls."""
        kids = self.children()
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s.op is None:
                continue
            covered = _union([(self.spans[k].start, self.spans[k].end)
                              for k in kids.get(i, [])], s.start, s.end)
            layer = s.name.split(".")[0]
            out[layer] = out.get(layer, 0.0) + (s.end - s.start) - covered
        return out

    def uncovered_share(self) -> dict[str, float]:
        """Per op kind: share of op wall time not covered by any layer
        span (time spent in the benchmark itself)."""
        kids = self.children()
        wall: dict[str, float] = {}
        bare: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if not s.name.startswith("op."):
                continue
            kind = s.name[3:]
            covered = _union([(self.spans[k].start, self.spans[k].end)
                              for k in kids.get(i, [])], s.start, s.end)
            wall[kind] = wall.get(kind, 0.0) + (s.end - s.start)
            bare[kind] = bare.get(kind, 0.0) + (s.end - s.start) - covered
        return {k: bare[k] / wall[k] for k in wall if wall[k] > 0}

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


def _union(iv: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in iv):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ------------------------------------------------------------ Spark side
def job_stats(sc, groups: list[str]) -> dict[str, int]:
    """Jobs, stages, tasks and failed tasks launched under the given job
    groups, read from the status tracker."""
    st = sc.statusTracker()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
    for g in groups:
        for jid in st.getJobIdsForGroup(g):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                si = st.getStageInfo(sid)
                if si is None:
                    continue
                out["stages"] += 1
                out["tasks"] += si.numTasks
                out["failed_tasks"] += si.numFailedTasks
    return out


def event_log_stats(log_dir: str) -> dict[str, dict[str, float]]:
    """Task metrics from the Spark event log, summed per job group:
    executor run and CPU time, GC, shuffle bytes written, spill bytes."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    files = [os.path.join(r, f) for r, _, fs in os.walk(log_dir) for f in fs]
    for path in sorted(files):
        with open(path, errors="replace") as fh:
            for line in fh:
                if '"Event":"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g or "-"
                elif '"Event":"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    m = ev.get("Task Metrics") or {}
                    g = stage_group.get(ev.get("Stage ID"), "-")
                    d = out.setdefault(g, {"cpu_ms": 0.0, "run_ms": 0.0,
                                           "gc_ms": 0.0, "shuffle_bytes": 0.0,
                                           "spill_bytes": 0.0})
                    d["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    d["run_ms"] += m.get("Executor Run Time", 0)
                    d["gc_ms"] += m.get("JVM GC Time", 0)
                    d["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}
                                           ).get("Shuffle Bytes Written", 0)
                    d["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                         + m.get("Disk Bytes Spilled", 0))
    return out
