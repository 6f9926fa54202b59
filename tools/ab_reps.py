#!/usr/bin/env python
"""Interleaved A/B runner for the repo benchmark (``perfbench/run.py``).

Usage:
    python tools/ab_reps.py PARENT_DIR CHANGE_DIR [--pairs N]
        [--workload W ...] [--seed0 K]

Runs ``perfbench/run.py --trace 0`` from the root of each checkout, one
process per run, for N pairs per workload, each run as long as the
parent's ``BENCHMARK.json`` ``run_seconds`` says. Pair i uses seed
``seed0 + i`` on both sides and alternates which side runs first, so a
drift in host load over the session lands on both sides equally.

For every end-to-end metric named in the parent's ``BENCHMARK.json`` it
prints both medians, the change in the median, the parent's IQR, and the
number of pairs the change won (lower or higher is better as the metric
declares). A gain is shown as ``gain`` only over at least ten pairs, when
the change won at least nine pairs in ten and the median moved by more
than the parent's IQR.

A metric is flagged ``unresolved`` when the parent's own spread across
its runs, (max - min) / median, exceeds the metric's bound in
``BENCHMARK.json`` and the two sides' runs overlap: the host noise is then
larger than the regression the bound is meant to catch, and more pairs or
a quieter host are needed before anything is concluded about that metric.
A change whose every run beats every parent run is resolved whatever the
spread.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(checkout: str, workload: str, seed: int, seconds: int) -> dict:
    """One benchmark process; returns its last stdout line, parsed."""
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
    ]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if not lines:
        raise RuntimeError(f"{checkout}: no result line\n{proc.stderr[-2000:]}")
    return json.loads(lines[-1])


def quartiles(xs: list[float]) -> tuple[float, float]:
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def summarize(spec: dict, parent: list[float], change: list[float]) -> dict:
    """The A/B verdict of one metric over paired runs."""
    lower = spec.get("better", "lower") == "lower"
    pm, cm = statistics.median(parent), statistics.median(change)
    q1, q3 = quartiles(parent)
    wins = sum((c < p) if lower else (c > p) for p, c in zip(parent, change))
    spread = (max(parent) - min(parent)) / pm if pm else 0.0
    moved = (pm - cm) if lower else (cm - pm)
    apart = max(change) < min(parent) if lower else min(change) > max(parent)
    return {
        "parent_median": pm,
        "change_median": cm,
        "delta_frac": (cm - pm) / pm if pm else 0.0,
        "parent_iqr": q3 - q1,
        "wins": wins,
        "pairs": len(parent),
        "parent_spread": spread,
        "unresolved": spread > spec["bound"] and not apart,
        "gain": len(parent) >= 10 and wins >= 0.9 * len(parent) and moved > q3 - q1,
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("parent")
    p.add_argument("change")
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--workload", action="append")
    p.add_argument("--seed0", type=int, default=1)
    args = p.parse_args(argv)

    with open(os.path.join(args.parent, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    specs = {m["name"]: m for m in bench["end_to_end"]}
    seconds = bench["run_seconds"]
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    sides = {"parent": args.parent, "change": args.change}

    for w in workloads:
        runs: dict[str, list[dict]] = {"parent": [], "change": []}
        for i in range(args.pairs):
            seed = args.seed0 + i
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            for side in order:
                res = run_once(sides[side], w, seed, seconds)
                runs[side].append(res)
                vals = {k: round(v["value"], 3) for k, v in res["metrics"].items()}
                print(f"{w} pair {i + 1}/{args.pairs} seed {seed} {side}: "
                      f"correct={res['correct']} failed={res['failed']} {vals}", flush=True)
        verdicts = {}
        for name, spec in specs.items():
            pv = [r["metrics"][name]["value"] for r in runs["parent"]]
            cv = [r["metrics"][name]["value"] for r in runs["change"]]
            verdicts[name] = summarize(spec, pv, cv)
        for name, v in verdicts.items():
            flags = [f for f in ("gain", "unresolved") if v[f]]
            print(
                f"{w} {name}: parent {v['parent_median']:.3f} change "
                f"{v['change_median']:.3f} ({v['delta_frac']:+.1%}), parent IQR "
                f"{v['parent_iqr']:.3f}, spread {v['parent_spread']:.2f} vs bound "
                f"{specs[name]['bound']}, wins {v['wins']}/{v['pairs']}"
                + (f" [{', '.join(flags)}]" if flags else ""),
                flush=True,
            )
    return 0


if __name__ == "__main__":
    sys.exit(main())
