#!/usr/bin/env python3
"""lakeshed benchmark: three seeded closed-loop workloads, one command.

    python3 perfbench/run.py --workload lake_read --seed 1 --seconds 12 --trace 0

Run from the root of a lakeshed checkout. One client drives the engine on a
``local[<cores this process may use>]`` session; see ``perfbench/README.md``
for the workloads and every metric. With ``--trace 0`` the last stdout line
carries the end-to-end metrics; with ``--trace 1`` it carries the per-layer
metrics of a traced run. The line before it is the full record (environment,
every end-to-end metric of the workload, the first failures). Everything is
written under ``.perfbench_work/`` in the checkout and removed on exit.

Exit codes: 0 = measured (check ``correct``/``failed``), 1 = the run broke,
2 = no lakeshed package next to this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPEATS = 2
WORKLOADS = ("lake_read", "cdc_ingest", "llm_dedup")


def _env(work: str) -> None:
    """Keep every file the run writes inside ``work``; pin UTC so Spark and
    DuckDB timestamps agree."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "LAKESHED_WAREHOUSE": os.path.join(work, "warehouse"),
        "LAKESHED_DERBY_HOME": os.path.join(work, "derby"),
        "TZ": "UTC",
        # every JVM of the run (the spark-submit launcher too): temp files
        # under work, no hsperfdata file under the system /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    time.tzset()


def _workload(name: str):
    if name == "lake_read":
        from lake_read import LakeRead
        return LakeRead
    if name == "cdc_ingest":
        from cdc_ingest import CdcIngest
        return CdcIngest
    from llm_dedup import LlmDedup
    return LlmDedup


def _git_commit() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def _jvm_peak_kb(spark) -> int:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is None:
        return 0
    try:
        with open(f"/proc/{proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _stop(spark) -> None:
    """Stop the session and the gateway JVM, and wait for the JVM to exit
    (it exits when its stdin closes; its Python workers go with it)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine so far."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f)


def _loop(wl, seconds: float) -> tuple[list, float]:
    """Closed loop: the next op starts when the last one ends. Returns the
    ops and the timed wall (start to the end of the last op)."""
    ops: list = []
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        ops.extend(wl.step())
    return ops, time.perf_counter() - t0


def measure(args, work: str) -> dict:
    import harness
    import metrics
    from spans import Tracer

    from lakeshed.session import get_spark

    cores = len(os.sched_getaffinity(0))
    conf = {}
    if args.trace:
        events = os.path.join(work, "events")
        os.makedirs(events)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": events,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", master=f"local[{cores}]",
                      extra_conf=conf)
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    tracer = Tracer()
    ctx = harness.Ctx(spark, args.seed, args.sf, work, tracer)
    env = {
        "cores": cores,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "spark": spark.version,
        "pyarrow": __import__("pyarrow").__version__,
        "python": platform.python_version(),
        "seed": args.seed,
        "sf": args.sf,
        "seconds": args.seconds,
        "trace": args.trace,
        "git_commit": _git_commit(),
    }
    try:
        wl = _workload(args.workload)(ctx)
        builds = []
        if args.trace:
            tracer.install()
        for i in range(SETUP_REPEATS):
            t = time.perf_counter()
            wl.build(i)
            builds.append(time.perf_counter() - t)
        tracer.uninstall()
        wl.warmup()
        if args.trace:
            # the untraced half is the baseline for trace.overhead_pct
            tracer.install()
            ops, wall = _loop(wl, args.seconds / 2)
            tracer.uninstall()
            plain, _ = _loop(wl, args.seconds / 2)
            all_ops = ops + plain
        else:
            j0 = _cpu_jiffies()
            ops, wall = _loop(wl, args.seconds)
            j1 = _cpu_jiffies()
            env["steal_share"] = (j1[0] - j0[0]) / max(j1[1] - j0[1], 1)
            all_ops = ops
        wl.verify(all_ops)
        rss_mb = (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
                  + _jvm_peak_kb(spark)) / 1024
    finally:
        _stop(spark)
    setup = {"session_s": session_s, "builds": builds}
    e2e = metrics.end_to_end(wl, ops, wall, setup, rss_mb)
    kinds: dict[str, list] = {}
    for o in ops:
        kinds.setdefault(o.kind, []).append(o.seconds * 1e3)
    record = {"workload": args.workload, "env": env, "end_to_end": e2e,
              "op_kinds": {k: {"n": len(v), "p50_ms": harness.p50(v),
                               "ms": [round(x, 1) for x in v]}
                           for k, v in kinds.items()},
              "attempted": len(all_ops),
              "failed": sum(1 for o in all_ops if o.ok is not True),
              "failures": [f"{o.kind}: {o.error}" for o in all_ops
                           if o.ok is not True][:5]}
    if args.trace:
        record["per_layer"] = metrics.per_layer(
            wl, ops, tracer, events, setup, plain=plain)
        if args.out:
            tracer.dump(args.out + ".spans.jsonl")
    return record


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.1,
                    help="input scale (sf0.1 = 150k orders)")
    ap.add_argument("--out", help="also write the full record to this file "
                    "(and a traced run's spans to FILE.spans.jsonl)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "lakeshed", "__init__.py")):
        print(f"perfbench: no lakeshed package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [p for p in (HERE, ROOT) if p not in sys.path]
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    _env(work)   # before lakeshed is imported: it reads the env at import
    try:
        record = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run is still using it

    if args.out:
        with open(args.out, "w") as fh:
            json.dump(record, fh, indent=1)
    print(json.dumps(record))
    key = "per_layer" if args.trace else "end_to_end"
    print(json.dumps({
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {k: {"value": v["value"], "unit": v["unit"]}
                    for k, v in record[key].items() if v.get("gated")},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
