"""End-to-end and per-layer metrics from the op records and the spans.

``GATED`` lists the end-to-end metrics every workload reports (the ones
``BENCHMARK.json`` bounds); the rest of a workload's end-to-end metrics are
printed in its full record. Per-layer metrics are reported under one name
set on every workload, 0 where the workload does not exercise the layer.
"""

from __future__ import annotations

import statistics

from harness import p50, tail
from spans import event_log_stats

GATED = ("setup_s", "ops_per_s")


def _m(value, unit, **extra) -> dict:
    return {"value": value, "unit": unit, **extra}


def end_to_end(wl, ops, wall: float, setup: dict, rss_mb: float) -> dict:
    done = wl.completed(ops)
    t, pct, n = tail([s * 1e3 for s in done])
    out = {
        "setup_s": _m(setup["session_s"] + statistics.median(setup["builds"]),
                      "s", builds=setup["builds"]),
        "ops_per_s": _m(len(done) / wall, "1/s", n=len(done)),
        "op_tail_ms": _m(t, "ms", percentile=pct, n=n),
        "failed_op_ratio": _m(
            sum(1 for o in ops if o.ok is not True) / max(len(ops), 1),
            "ratio", n=len(ops)),
        "peak_rss_mb": _m(rss_mb, "MB"),
    }
    for name, (unit, v) in wl.detail(ops).items():
        if isinstance(v, list):
            if name.endswith("_tail_ms"):
                t, pct, n = tail(v)
                out[name] = _m(t, unit, percentile=pct, n=n)
            else:
                out[name] = _m(p50(v), unit, n=len(v))
        else:
            out[name] = _m(v, unit)
    if wl.name == "cdc_ingest":
        out["ingest_rows_per_s"] = _m(wl.input_rows / wall, "1/s")
    for k in GATED:
        out[k]["gated"] = True
    return out


# name -> unit, for every per-layer metric (reported on every workload)
PER_LAYER = {
    "session.start_s": "s", "io.load_s": "s", "fixture.build_s": "s",
    "catalog.sql_ms": "ms",
    "table.plan_ms": "ms", "table.files_live": "count",
    "table.files_planned": "count",
    "pruning.file_keep_ratio": "ratio",
    "pruning.rows_examined_per_row_returned": "ratio",
    "exec.action_ms": "ms", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.failed_tasks": "count",
    "exec.cpu_ms": "ms", "exec.run_ms": "ms", "exec.shuffle_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.gc_ms": "ms",
    "table.merge_ms": "ms", "table.files_rewritten": "count",
    "table.rows_rewritten_per_row_changed": "ratio",
    "table.bytes_written": "bytes", "table.log_bytes": "bytes",
    "table.compact_ms": "ms", "table.expire_ms": "ms",
    "table.compact_bytes_rewritten": "bytes",
    "table.files_after_compact": "count",
    "streaming.batch_ms": "ms", "streaming.add_batch_ms": "ms",
    "streaming.overhead_ms": "ms", "streaming.rows_per_batch": "count",
    "llm.quality_ms": "ms", "llm.exact_ms": "ms", "llm.minhash_ms": "ms",
    "llm.cc_ms": "ms", "llm.cc_jobs": "count", "llm.semantic_ms": "ms",
    "llm.write_ms": "ms", "llm.verified_pairs": "count",
    "llm.clusters": "count", "llm.kept_docs": "count",
    **{f"self.{layer}_ms": "ms" for layer in (
        "op", "io", "catalog", "table", "streaming", "llm", "exec")},
    **{f"uncovered.{kind}": "ratio" for kind in (
        "lookup", "range", "agg", "time_travel", "metadata",
        "commit", "rw_lookup", "compact", "expire")},
    "trace.overhead_pct": "%",
}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(wl, ops, tracer, events: str, setup: dict, plain) -> dict:
    v: dict[str, float] = {k: 0.0 for k in PER_LAYER}
    dur = lambda s: (s.end - s.start) * 1e3  # noqa: E731
    spans = tracer.spans
    v["session.start_s"] = setup["session_s"]
    v["fixture.build_s"] = statistics.median(setup["builds"])
    loads = [dur(s) / 1e3 for s in tracer.named("io.load_star") if s.op is None]
    v["io.load_s"] = p50(loads) or 0.0
    spans = [s for s in spans if s.op is not None]   # the timed loop only
    by_name: dict[str, list] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)
    med = lambda name: p50(dur(s) for s in by_name.get(name, [])) or 0.0  # noqa: E731

    v["catalog.sql_ms"] = med("catalog.sql")
    table_read = ("table.scan", "table.read", "table.plan_files")
    top = [s for s in spans if s.name in table_read and not (
        s.parent is not None and tracer.spans[s.parent].name in table_read)]
    v["table.plan_ms"] = p50(dur(s) for s in top) or 0.0
    filtered = [s for s in by_name.get("table.plan_files", [])
                if s.counts.get("filtered")]
    v["table.files_live"] = _mean(s.counts["files_live"] for s in filtered)
    v["table.files_planned"] = _mean(s.counts["files_planned"] for s in filtered)
    live = sum(s.counts["files_live"] for s in filtered)
    v["pruning.file_keep_ratio"] = (
        sum(s.counts["files_planned"] for s in filtered) / live if live else 0.0)
    examined = returned = 0
    for o in ops:
        if "rows_returned" in o.info:
            examined += sum(s.counts.get("rows_planned", 0) for s in spans
                            if s.op == o.info["op_id"]
                            and s.name == "table.plan_files")
            returned += o.info["rows_returned"]
    v["pruning.rows_examined_per_row_returned"] = (
        examined / returned if returned else 0.0)

    # Spark execution, per op
    per_op_action: dict[int, float] = {}
    for s in by_name.get("exec.action", []):
        per_op_action[s.op] = per_op_action.get(s.op, 0.0) + dur(s)
    v["exec.action_ms"] = _mean(per_op_action.values())
    for k in ("jobs", "stages", "tasks"):
        v[f"exec.{k}"] = _mean(o.info.get("jobs", {}).get(k, 0) for o in ops)
    v["exec.failed_tasks"] = sum(o.info.get("jobs", {}).get("failed_tasks", 0)
                                 for o in ops)
    ev = event_log_stats(events)
    for k in ("cpu_ms", "run_ms", "shuffle_bytes", "spill_bytes", "gc_ms"):
        v[f"exec.{k}"] = _mean(sum(ev.get(g, {}).get(k, 0.0) for g in o.groups)
                               for o in ops)

    # DML and maintenance
    merges = by_name.get("table.merge", [])
    v["table.merge_ms"] = med("table.merge")
    v["table.files_rewritten"] = _mean(s.counts.get("files_removed", 0)
                                       for s in merges)
    changed = sum(o.info.get("rows", 0) for o in ops if o.kind == "commit")
    v["table.rows_rewritten_per_row_changed"] = (
        sum(s.counts.get("rows_added", 0) for s in merges) / changed
        if changed else 0.0)
    commits = [s for n in ("table.merge", "table.append", "table.compact")
               for s in by_name.get(n, [])]
    v["table.bytes_written"] = _mean(s.counts.get("bytes_added", 0)
                                     for s in commits)
    v["table.log_bytes"] = _mean(s.counts.get("log_bytes", 0) for s in commits)
    v["table.compact_ms"] = med("table.compact")
    v["table.expire_ms"] = med("table.expire_snapshots")
    compacts = by_name.get("table.compact", [])
    v["table.compact_bytes_rewritten"] = _mean(
        s.counts.get("bytes_added", 0) for s in compacts)
    v["table.files_after_compact"] = _mean(
        s.counts.get("files_added", 0) for s in compacts)

    # streaming
    cs = [o for o in ops if o.kind == "commit" and o.ok is not False]
    if cs:
        v["streaming.batch_ms"] = p50(o.info.get("batch_ms", 0) for o in cs)
        v["streaming.add_batch_ms"] = p50(o.info.get("add_batch_ms", 0)
                                          for o in cs)
        merge_in = {s.op: dur(s) for s in merges}
        v["streaming.overhead_ms"] = p50(
            o.seconds * 1e3 - merge_in.get(o.info["op_id"], 0.0) for o in cs)
        v["streaming.rows_per_batch"] = _mean(o.info.get("rows", 0) for o in cs)

    # llm stages
    for kind in ("quality", "exact", "minhash", "cc", "semantic", "write"):
        v[f"llm.{kind}_ms"] = p50(o.seconds * 1e3 for o in ops
                                  if o.kind == kind) or 0.0
    v["llm.cc_jobs"] = _mean(o.info.get("jobs", {}).get("jobs", 0)
                             for o in ops if o.kind == "cc")
    if wl.name == "llm_dedup" and wl.passes:
        got = wl.passes[-1][1]
        v["llm.verified_pairs"] = got.get("pairs", 0)
        v["llm.clusters"] = got.get("clusters", 0)
        v["llm.kept_docs"] = got.get("written", 0)

    # self time per layer and uncovered share, per traced op
    n = max(len(ops), 1)
    for layer, secs in tracer.self_times().items():
        key = f"self.{layer}_ms"
        if key in v:
            v[key] = secs * 1e3 / n
    for kind, share in tracer.uncovered_share().items():
        key = f"uncovered.{kind}"
        if key in v:
            v[key] = share
    base = p50(wl.primary(plain))
    traced = p50(wl.primary(ops))
    if base and traced:
        v["trace.overhead_pct"] = (traced - base) / base * 100.0
    return {k: {"value": val, "unit": PER_LAYER[k], "gated": True}
            for k, val in v.items()}
