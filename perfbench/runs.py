#!/usr/bin/env python3
"""Run the benchmark over several seeds and summarise across runs.

    python3 perfbench/runs.py --workload analyst_queries --seeds 1-10 [--seconds 12] [--trace 0]
                              [--save set.json] [--against earlier.json]

Each seed is one fresh ``run.py`` process, run one after another. For
every metric, and for ``bench.py``'s host canaries, this prints the
median, the quartiles (``statistics.quantiles(n=4)``) and the spread
(Q3 - Q1) / median across the runs: compare two builds by medians and
spreads, never by best-of-N.

``--save`` writes the set's medians; ``--against`` compares this set's
medians with a saved set's, each metric against its bound in
``BENCHMARK.json``. The host's speed drifts by more than those bounds
over hours, so when a canary's median moved by more than the smallest
bound the comparison is flagged: the two sets ran in different host
phases and their timings do not compare.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

from stats import quartile_spread

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_seeds(text: str) -> list[int]:
    """``"1-3,7"`` → ``[1, 2, 3, 7]``."""
    out: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def _print_table(values: dict[str, list[float]], units: dict[str, str]) -> None:
    print(f"{'metric':42s} {'unit':8s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s}")
    for name, vs in values.items():
        if len(vs) < 2:
            print(f"{name:42s} {units[name]:8s} {vs[0]:12.5g}")
            continue
        q1, med, q3 = statistics.quantiles(vs, n=4)
        print(f"{name:42s} {units[name]:8s} {med:12.5g} {q1:12.5g} {q3:12.5g} "
              f"{quartile_spread(vs):8.4f}")


def compare(now: dict, before: dict, e2e: list[dict]) -> list[str]:
    """Lines comparing two saved sets: each metric's median change
    against its bound, and a flag when a host canary moved by more
    than the smallest bound."""
    lines = []
    for m in e2e:
        name = m["name"]
        if name not in now["metrics"] or name not in before["metrics"]:
            continue
        a, b = before["metrics"][name], now["metrics"][name]
        change = (b - a) / a
        worse = change > m["bound"] if m["better"] == "lower" else -change > m["bound"]
        lines.append(f"{name:20s} {a:12.5g} -> {b:12.5g} {change:+8.1%} "
                     f"{'WORSE than bound' if worse else 'within bound'} {m['bound']:.0%}")
    limit = min(m["bound"] for m in e2e)
    for name, a in before["canaries"].items():
        b = now["canaries"].get(name)
        if b is not None and abs(b - a) / a > limit:
            lines.append(f"HOST PHASE DIFFERS: canary {name} median {a:.4g} -> {b:.4g} s "
                         f"({(b - a) / a:+.1%}); the timings above do not compare")
    return lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=parse_seeds)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--save", help="write this set's medians to a JSON file")
    ap.add_argument("--against", help="compare with medians saved by --save")
    args = ap.parse_args(argv)
    values: dict[str, list[float]] = {}
    units: dict[str, str] = {}
    canaries: dict[str, list[float]] = {}
    failed = 0
    for seed in args.seeds:
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        result = json.loads(lines[-1])
        failed += result["failed"]
        print(f"seed {seed}: correct={result['correct']} attempted={result['attempted']} "
              f"failed={result['failed']}", flush=True)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
            units[name] = m["unit"]
        for name, v in json.loads(lines[-2])["context"]["host"]["canary"].items():
            canaries.setdefault(name, []).append(v)
    _print_table(values, units)
    print()
    _print_table(canaries, dict.fromkeys(canaries, "s"))
    summary = {"workload": args.workload,
               "metrics": {k: statistics.median(v) for k, v in values.items()},
               "canaries": {k: statistics.median(v) for k, v in canaries.items()}}
    if args.save:
        with open(args.save, "w") as f:
            json.dump(summary, f, indent=1)
    if args.against:
        with open(args.against) as f:
            before = json.load(f)
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            e2e = json.load(f)["end_to_end"]
        print()
        print("\n".join(compare(summary, before, e2e)))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
