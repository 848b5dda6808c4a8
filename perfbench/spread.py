#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics, against their bounds.

Usage (from the repository root)::

    python3 perfbench/spread.py --workload initial_copy --seeds 1-10

Runs ``perfbench/run.py`` once per seed (sequentially), then prints, per
metric, the median and the distance between the first and third
quartile (``statistics.quantiles(values, n=4)``) as a share of the
median, next to the bound ``BENCHMARK.json`` fixes. Per-run results are
appended as JSON lines to ``--out`` when given.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {}
    for seed in seeds(a.seeds):
        t = time.monotonic()
        p = subprocess.run(
            bench["command"] + ["--workload", a.workload, "--seed", str(seed),
                                "--seconds", str(bench["run_seconds"]),
                                "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True)
        wall = time.monotonic() - t
        lines = p.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if p.returncode == 0 and lines else None
        if res is None or not res["correct"]:
            print(f"seed {seed}: FAILED (exit {p.returncode}, {wall:.1f} s)")
            print(p.stderr[-2000:], file=sys.stderr)
            return 1
        detail = [ln.split("] ", 1)[1] for ln in lines
                  if ln.startswith(f"[{a.workload}] ") and " = " not in ln
                  and "attempted=" not in ln]
        print(f"seed {seed}: {wall:.1f} s " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for ln in detail:
            print(f"  {ln}", flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        if a.out:
            with open(a.out, "a") as f:
                f.write(json.dumps({"workload": a.workload, "seed": seed,
                                    "wall_s": wall, "detail": detail, **res}) + "\n")
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med
        print(f"{k:22s} median={med:<12.5g} iqr/median={spread:.4f} "
              f"bound={bounds.get(k)} third={bounds.get(k, 0) / 3:.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
