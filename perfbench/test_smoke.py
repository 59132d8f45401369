"""Quick checks of the benchmark itself, at sf0.001.

    python3 -m pytest perfbench/test_smoke.py -q

Each test runs ``run.py`` in a fresh process (one JVM per run), so a run's
Spark session, environment and clean-up are exercised exactly as the
command line does.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from metrics import GATED, PER_LAYER  # noqa: E402


def _run(*args: str, code: str | None = None):
    cli = ["--seed", "7", "--seconds", "2", "--sf", "0.001", *args]
    if code is None:
        cmd = [sys.executable, os.path.join(HERE, "run.py"), *cli]
    else:
        # plant something in the benchmark before main() runs
        cmd = [sys.executable, "-c",
               f"import sys; sys.path[:0] = [{HERE!r}, {ROOT!r}]\n{code}\n"
               f"import run; sys.exit(run.main({cli!r}))"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=600)
    return p


def _last(p) -> dict:
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    return out


@pytest.mark.parametrize("workload", ["lake_read", "cdc_ingest", "llm_dedup"])
def test_workload_is_correct(workload):
    out = _last(_run("--workload", workload))
    assert out["correct"] is True and out["failed"] == 0
    assert out["attempted"] >= 1
    assert set(out["metrics"]) == set(GATED)
    for m in out["metrics"].values():
        assert m["value"] > 0 and m["unit"]


def test_planted_wrong_expectation_counts_as_failed_op():
    code = """
import lake_read
_verify = lake_read.LakeRead.verify
def planted(self, ops):
    op, got, sql = self.checks[0]
    self.checks[0] = (op, got, "SELECT -1 AS wrong")
    _verify(self, ops)
lake_read.LakeRead.verify = planted
"""
    out = _last(_run("--workload", "lake_read", code=code))
    assert out["correct"] is False
    assert out["failed"] == 1


def test_traced_run_reports_every_layer_metric():
    p = _run("--workload", "cdc_ingest", "--trace", "1")
    out = _last(p)
    assert set(out["metrics"]) == set(PER_LAYER)
    m = out["metrics"]
    assert m["table.merge_ms"]["value"] > 0
    assert m["streaming.batch_ms"]["value"] > 0
    assert m["exec.jobs"]["value"] > 0
    record = json.loads(p.stdout.strip().splitlines()[-2])
    assert record["env"]["cores"] == len(os.sched_getaffinity(0))


def test_without_the_engine_exits_nonzero(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run([sys.executable, str(tmp_path / "perfbench" / "run.py"),
                        "--workload", "lake_read", "--seed", "1",
                        "--seconds", "1", "--trace", "0"],
                       cwd=str(tmp_path), capture_output=True, text=True,
                       timeout=120)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
