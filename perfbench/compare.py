"""Summarise and compare saved benchmark outputs.

Each input file is the standard output of one ``run.py`` invocation
(its ``perfbench-stamp`` line and its result line).

    python3 perfbench/compare.py OUT...                 # per-metric spread
    python3 perfbench/compare.py BASE... --against NEW...  # medians, NEW vs BASE

The spread of a metric is the distance between the first and third
quartile of its values (``statistics.quantiles(values, n=4)``) as a share
of their median. A comparison refuses to run (exit 2) unless every file
carries the same host stamp (cores and memory): numbers from different
machines do not compare. A run that reported ``correct: false`` is left
out of every median and spread.

Many per-layer metrics are 0 where a workload does no such work (spill,
shuffle, spans it does not reach). Where a median is 0 no share is
defined: the spread reads ``n/a``, and a change reads ``new`` with
the absolute difference, so work that appears where there
was none still shows.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
from collections import defaultdict


def load(path: str) -> tuple[dict, dict]:
    with open(path) as f:
        lines = [line for line in f.read().splitlines() if line.strip()]
    stamp = next(
        json.loads(line.split(" ", 1)[1])
        for line in lines if line.startswith("perfbench-stamp ")
    )
    return stamp, json.loads(lines[-1])


def collect(paths: list[str]) -> tuple[dict, dict]:
    """({workload: {metric: [values]}}, host stamp shared by all files)."""
    values: dict = defaultdict(lambda: defaultdict(list))
    hosts = set()
    for p in paths:
        try:
            stamp, result = load(p)
        except (StopIteration, ValueError, IndexError):
            print(f"{p}: no result, skipped", file=sys.stderr)
            continue
        hosts.add(json.dumps(stamp["host"], sort_keys=True))
        if not result["correct"]:
            print(f"{p}: run reported failed checks, left out", file=sys.stderr)
            continue
        for name, m in result["metrics"].items():
            values[stamp["workload"]][name].append(m["value"])
    if len(hosts) > 1:
        raise SystemExit(f"refusing: results come from different hosts: {sorted(hosts)}")
    return values, json.loads(hosts.pop()) if hosts else {}


def spread(vals: list[float]) -> str:
    if len(vals) < 2:
        return "n/a"
    q1, med, q3 = statistics.quantiles(vals, n=4)
    return f"{(q3 - q1) / med:.3f}" if med else "n/a"


def change(base: float, new: float) -> str:
    diff = new - base
    if base:
        return f"{diff / base:+.3f} ({diff:+.4g})"
    if new:
        return f"new ({diff:+.4g})"
    return "+0.000"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("base", nargs="+")
    ap.add_argument("--against", nargs="+", default=[])
    args = ap.parse_args()
    try:
        base, host = collect(args.base)
        new, new_host = collect(args.against) if args.against else ({}, host)
    except SystemExit as e:
        print(e, file=sys.stderr)
        return 2
    if new_host != host:
        print(f"refusing: base host {host} differs from {new_host}", file=sys.stderr)
        return 2
    for wl in sorted(base):
        for name, vals in sorted(base[wl].items()):
            med = statistics.median(vals)
            line = f"{wl:15s} {name:45s} n={len(vals):2d} median={med:12.4f} spread={spread(vals)}"
            if new.get(wl, {}).get(name):
                new_med = statistics.median(new[wl][name])
                line += f"  against={new_med:12.4f} change={change(med, new_med)}"
            print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
