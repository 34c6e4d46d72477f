#!/usr/bin/env python3
"""Paired A/B of the repo benchmark between a git revision and a checkout.

    python3 tools/ab.py --a HEAD~1 --workload dashboard --pairs 10 --seed 1001

Arm A is revision ``--a`` of this repository, extracted with ``git archive``
into a scratch dir outside the tree (removed at exit).  Arm B is the
checkout ``--b`` (default: the one holding this script).  Each pair runs
``perfbench/run.py`` for ``BENCHMARK.json``'s ``run_seconds`` once per arm
on the same seed (``--seed`` + pair index); the arm that runs first
alternates from pair to pair, so host drift lands on both arms alike.

Per end-to-end metric of ``BENCHMARK.json`` it prints both arms' medians,
the median of the paired relative deltas (B vs A), the pairs B won, a
seeded bootstrap 95% CI of that median, A's interquartile range and
whether the gap between the medians exceeds it.  ``--json`` also writes
every run's result line.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def extract(rev: str, scratch: str | None) -> str:
    """Revision ``rev`` of this repository as a plain directory tree."""
    out = tempfile.mkdtemp(prefix="ab-", dir=scratch)
    archive = subprocess.Popen(["git", "-C", REPO, "archive", rev], stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", out], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        raise SystemExit(f"ab: git archive {rev} failed")
    return out


def run_once(checkout: str, workload: str, seconds: float, seed: int) -> dict | None:
    """One perfbench run's result line, or None if it produced none."""
    cmd = [sys.executable, os.path.join(checkout, "perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.Popen(cmd, cwd=checkout, stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE, text=True)
    try:
        stdout, stderr = proc.communicate()
    except BaseException:
        # perfbench stops its worker's process group on SIGTERM, not SIGKILL.
        proc.terminate()
        proc.wait()
        raise
    try:
        result = json.loads(stdout.strip().splitlines()[-1])
    except (IndexError, ValueError):
        print(f"ab: no result from {checkout} seed {seed}:\n{stderr[-2000:]}", file=sys.stderr)
        return None
    if stderr.strip():
        print(stderr.strip(), file=sys.stderr)
    return result


def bootstrap_ci(deltas: list[float], seed: int, reps: int = 4000) -> tuple[float, float]:
    """Percentile bootstrap 95% CI of the median of ``deltas``."""
    rng = random.Random(seed)
    meds = sorted(
        statistics.median(rng.choices(deltas, k=len(deltas))) for _ in range(reps)
    )
    return meds[int(0.025 * reps)], meds[int(0.975 * reps) - 1]


def report(metrics: list[dict], pairs: list[dict], seed: int) -> list[dict]:
    rows = []
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        a = [p["a"]["metrics"][name]["value"] for p in pairs]
        b = [p["b"]["metrics"][name]["value"] for p in pairs]
        rel = [(y - x) / x * 100 if x else 0.0 for x, y in zip(a, b)]
        won = sum((y < x) if lower else (y > x) for x, y in zip(a, b))
        q1, _, q3 = statistics.quantiles(a, n=4, method="inclusive")
        gap = statistics.median(b) - statistics.median(a)
        rows.append({
            "metric": name, "better": m["better"],
            "median_a": statistics.median(a), "median_b": statistics.median(b),
            "paired_median_delta_pct": statistics.median(rel),
            "ci95_pct": bootstrap_ci(rel, seed), "won": won, "pairs": len(pairs),
            "iqr_a": q3 - q1, "gap_exceeds_iqr_a": abs(gap) > q3 - q1,
        })
    return rows


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--a", required=True, help="git revision of arm A (the parent)")
    ap.add_argument("--b", default=REPO, help="checkout dir of arm B (default: this repo)")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, required=True, help="seed of the first pair")
    ap.add_argument("--scratch", help="parent dir of arm A's tree (default: the temp dir)")
    ap.add_argument("--json", help="also write every run and the summary here")
    args = ap.parse_args()
    if args.pairs < 2:
        ap.error("--pairs must be at least 2")

    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # still remove arm A
    with open(os.path.join(args.b, "BENCHMARK.json")) as f:
        bench = json.load(f)
    tree_a = extract(args.a, args.scratch)
    pairs, failed = [], {"a": 0, "b": 0}
    try:
        for i in range(args.pairs):
            seed = args.seed + i
            arms = [("a", tree_a), ("b", args.b)]
            out = {}
            for arm, checkout in arms if i % 2 == 0 else arms[::-1]:
                out[arm] = run_once(checkout, args.workload, bench["run_seconds"], seed)
                failed[arm] += 1 if out[arm] is None else out[arm]["failed"]
                values = out[arm] and {k: round(v["value"], 3) for k, v in out[arm]["metrics"].items()}
                print(f"ab: pair {i + 1}/{args.pairs} seed {seed} arm {arm}: {values}",
                      file=sys.stderr, flush=True)
            if out["a"] and out["b"]:
                pairs.append({"seed": seed, **out})
    finally:
        shutil.rmtree(tree_a, ignore_errors=True)
    if len(pairs) < 2:
        print("ab: fewer than two complete pairs", file=sys.stderr)
        return 1

    rows = report(bench["end_to_end"], pairs, args.seed)
    if args.json:
        with open(args.json, "w") as f:
            json.dump({"a": args.a, "b": args.b, "workload": args.workload,
                       "failed": failed, "summary": rows, "runs": pairs}, f, indent=1)
    print(f"{args.workload}: {len(pairs)} pairs, A={args.a} B={args.b}, "
          f"failed checks A={failed['a']} B={failed['b']}")
    print(f"{'metric':24} {'median A':>12} {'median B':>12} {'Δ% (paired)':>12} "
          f"{'95% CI':>17} {'won':>6} {'IQR A':>10}  gap>IQR")
    for r in rows:
        lo, hi = r["ci95_pct"]
        print(f"{r['metric']:24} {r['median_a']:12.4g} {r['median_b']:12.4g} "
              f"{r['paired_median_delta_pct']:+12.1f} {f'[{lo:+.1f}, {hi:+.1f}]':>17} "
              f"{r['won']:>3}/{r['pairs']:<2} {r['iqr_a']:10.4g}  {r['gap_exceeds_iqr_a']}")
    return 0 if failed == {"a": 0, "b": 0} else 1


if __name__ == "__main__":
    sys.exit(main())
