#!/usr/bin/env python3
"""Interleaved A/B of two git revisions on the repo benchmark.

    python3 scripts/ab.py --a HEAD~1 --b WORKTREE --workload elt_incremental \\
        [--pairs 10] [--seconds 10] [--seed 101] [--trace 0] \\
        [--metric op_p50_s]

Each side is checked out into its own temporary directory (``git
archive`` of the revision; ``WORKTREE`` copies the current checkout's
tracked and untracked, non-ignored files, so uncommitted work can be
measured). Pair ``i`` runs both sides on seed ``seed + i`` with that
side's own ``perfbench/run.py``, one fresh process each, one after the
other; the side that runs first alternates every pair, so a host
slowing down or speeding up during the pair does not favour one side.

Printed: per pair, each side's value of ``--metric``, the winner and
each run's host canaries; then, per side, ``perfbench/runs.py``'s
table of medians and quartiles of every result metric and canary; then
the wins, the median change and the A side's quartile distance for
``--metric``; then ``runs.compare``'s verdict of every end-to-end
median against its bound in ``BENCHMARK.json``. The host's speed
drifts between runs, so read a gain only when that verdict prints no
HOST PHASE DIFFERS flag.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))
import runs  # noqa: E402

WORKTREE = "WORKTREE"


def checkout(rev: str, dest: str) -> str:
    """Materialize ``rev`` (or the working tree) under ``dest``; returns
    the resolved commit id, or ``WORKTREE``."""
    os.makedirs(dest)
    if rev == WORKTREE:
        names = subprocess.run(
            ["git", "ls-files", "-z", "--cached", "--others", "--exclude-standard"],
            cwd=ROOT, check=True, capture_output=True).stdout.split(b"\0")
        for name in filter(None, (n.decode() for n in names)):
            src = os.path.join(ROOT, name)
            if not os.path.isfile(src):
                continue  # deleted but still in the index
            os.makedirs(os.path.dirname(os.path.join(dest, name)), exist_ok=True)
            shutil.copy2(src, os.path.join(dest, name))
        return WORKTREE
    sha = subprocess.run(["git", "rev-parse", "--verify", f"{rev}^{{commit}}"],
                         cwd=ROOT, check=True, capture_output=True,
                         text=True).stdout.strip()
    archive = os.path.join(dest, ".src.tar")
    with open(archive, "wb") as f:
        subprocess.run(["git", "archive", sha], cwd=ROOT, check=True, stdout=f)
    with tarfile.open(archive) as tar:
        tar.extractall(dest, filter="data")
    os.remove(archive)
    return sha


def run_once(tree: str, workload: str, seed: int, seconds: float,
             trace: int) -> dict:
    """One benchmark process; returns its result and context lines."""
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=tree, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"run in {tree} seed {seed}: exit {proc.returncode}\n"
                           f"{proc.stderr[-2000:]}")
    result = json.loads(lines[-1])
    context = json.loads(lines[-2])["context"]
    return {"metrics": {k: m["value"] for k, m in result["metrics"].items()},
            "units": {k: m["unit"] for k, m in result["metrics"].items()},
            "failed": result["failed"], "canary": context["host"]["canary"]}


def summarise(side: str, got: list[dict]) -> dict:
    """Print one side's tables; returns its medians in the shape
    ``runs.compare`` reads."""
    metrics = {k: [r["metrics"][k] for r in got] for k in got[0]["metrics"]}
    canaries = {k: [r["canary"][k] for r in got] for k in got[0]["canary"]}
    print(f"\nside {side}")
    runs._print_table(metrics, got[0]["units"])
    runs._print_table(canaries, dict.fromkeys(canaries, "s"))
    return {"metrics": {k: statistics.median(v) for k, v in metrics.items()},
            "canaries": {k: statistics.median(v) for k, v in canaries.items()}}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--a", required=True, help="baseline revision (or WORKTREE)")
    ap.add_argument("--b", required=True, help="candidate revision (or WORKTREE)")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--seed", type=int, default=101, help="seed of the first pair")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--metric", default="op_p50_s",
                    help="a metric named in BENCHMARK.json")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    lower_is_better = next((m["better"] == "lower"
                            for m in bench["end_to_end"] + bench["per_layer"]
                            if m["name"] == args.metric), True)
    tmp = tempfile.mkdtemp(prefix="ab-")
    try:
        trees = {s: os.path.join(tmp, s) for s in "AB"}
        revs = {s: checkout(r, trees[s]) for s, r in (("A", args.a), ("B", args.b))}
        print(f"A = {args.a} ({revs['A']})\nB = {args.b} ({revs['B']})\n"
              f"workload {args.workload}, {args.pairs} pairs, --seconds {args.seconds},"
              f" --trace {args.trace}, metric {args.metric}", flush=True)
        runs_by_side: dict[str, list[dict]] = {"A": [], "B": []}
        wins = 0
        for i in range(args.pairs):
            seed = args.seed + i
            order = "AB" if i % 2 == 0 else "BA"
            got = {s: run_once(trees[s], args.workload, seed, args.seconds, args.trace)
                   for s in order}
            for s in "AB":
                runs_by_side[s].append(got[s])
            a, b = (got[s]["metrics"][args.metric] for s in "AB")
            b_wins = b < a if lower_is_better else b > a
            wins += b_wins
            canaries = "  ".join(
                f"{s}:" + ",".join(f"{v:.3g}" for v in got[s]["canary"].values())
                for s in "AB")
            print(f"pair {i + 1:2d} seed {seed} first {order[0]}: A {a:.4g}  B {b:.4g}"
                  f"  winner {'B' if b_wins else 'tie' if a == b else 'A'}  failed A {got['A']['failed']}"
                  f" B {got['B']['failed']}  canaries {canaries}", flush=True)

        summary = {s: summarise(s, runs_by_side[s]) for s in "AB"}
        va = [r["metrics"][args.metric] for r in runs_by_side["A"]]
        ma, mb = summary["A"]["metrics"][args.metric], summary["B"]["metrics"][args.metric]
        q1, _, q3 = statistics.quantiles(va, n=4) if len(va) > 1 else (va[0],) * 3
        print(f"\n{args.metric}: B wins {wins} of {args.pairs}; median A {ma:.4g} -> "
              f"B {mb:.4g} ({(mb - ma) / ma:+.1%}); |median change| "
              f"{abs(mb - ma):.4g} vs A's quartile distance {q3 - q1:.4g}\n")
        print("\n".join(runs.compare(summary["B"], summary["A"], bench["end_to_end"])))
        failed = sum(r["failed"] for s in "AB" for r in runs_by_side[s])
        print(f"failed operations: {failed}")
        return 1 if failed else 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
