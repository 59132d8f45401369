#!/usr/bin/env python3
"""Compare two sets of benchmark records written with ``run.py --out``.

    python3 perfbench/compare.py base/*.json -- new/*.json

Prints, per workload and end-to-end metric, each side's median and
quartiles. Records taken with different core counts or default parallelism
are refused (exit 2): their numbers are not comparable.
"""

from __future__ import annotations

import json
import statistics
import sys


def _load(paths: list[str]) -> list[dict]:
    out = []
    for p in paths:
        with open(p) as fh:
            out.append(json.load(fh))
    return out


def _summary(vals: list[float]) -> str:
    if len(vals) < 2:
        return f"{vals[0]:.4g}" if vals else "-"
    q = statistics.quantiles(vals, n=4)
    return f"{statistics.median(vals):.4g} [{q[0]:.4g}, {q[2]:.4g}]"


def main(argv: list[str]) -> int:
    if "--" not in argv:
        print(__doc__, file=sys.stderr)
        return 2
    cut = argv.index("--")
    base, new = _load(argv[:cut]), _load(argv[cut + 1:])
    envs = {(r["env"]["cores"], r["env"]["default_parallelism"])
            for r in base + new}
    if len(envs) != 1:
        print(f"refused: records mix (cores, defaultParallelism) {sorted(envs)}",
              file=sys.stderr)
        return 2
    for wl in sorted({r["workload"] for r in base + new}):
        print(f"{wl}  (base n={sum(r['workload'] == wl for r in base)}, "
              f"new n={sum(r['workload'] == wl for r in new)})")
        names = {k for r in base + new if r["workload"] == wl
                 for k in r["end_to_end"]}
        for name in sorted(names):
            side = []
            for recs in (base, new):
                vals = [r["end_to_end"][name]["value"] for r in recs
                        if r["workload"] == wl and name in r["end_to_end"]
                        and r["end_to_end"][name]["value"] is not None]
                side.append(_summary(vals))
            print(f"  {name:28s} {side[0]:>32s}  ->  {side[1]}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
