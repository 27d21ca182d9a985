#!/usr/bin/env python
"""Alternating A/B of one perfbench workload between two checkouts.

Usage:
    python tools/ab_suite.py PARENT_DIR CHANGE_DIR [--workload suite_fused]
        [--pairs 10] [--seed 1301]

Pair i runs ``perfbench/run.py --workload W --seed SEED+i-1`` once in
each checkout (each run from its own checkout's root, for the
``run_seconds`` of the parent's BENCHMARK.json), parent first on odd pairs
and change first on even pairs, so host drift lands on both sides. Runs
are sequential: two at once would share the cores.

For every end-to-end metric in the parent's BENCHMARK.json it prints each
side's median and quartiles (linear interpolation, numpy's default), the
pairs the change wins, and the gap between the medians against the
parent's IQR. A gain is claimed when the change wins at least 9 of 10
pairs and the median gap is larger than the parent's IQR. Every run is
printed as a JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(repo: str, workload: str, seed: int, seconds: float) -> dict:
    """One perfbench run in ``repo`` -> its last stdout line as JSON (an
    empty result with ``correct`` false when the run fails)."""
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", "0",
    ]
    out = subprocess.run(cmd, cwd=repo, capture_output=True, text=True)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        print(f"run failed in {repo} (seed {seed}):\n{out.stderr[-2000:]}", file=sys.stderr)
        return {"correct": False, "failed": None, "metrics": {}}
    return json.loads(lines[-1])


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return (xs[0],) * 3 if xs else (float("nan"),) * 3
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("parent")
    p.add_argument("change")
    p.add_argument("--workload", default="suite_fused")
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--seed", type=int, default=1301, help="seed of pair 1; pair i uses seed+i-1")
    a = p.parse_args()

    with open(os.path.join(a.parent, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = {m["name"]: m["better"] for m in bench["end_to_end"]}
    runs: dict[str, list[dict]] = {"parent": [], "change": []}
    for i in range(a.pairs):
        seed = a.seed + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            res = run_once(getattr(a, side), a.workload, seed, bench["run_seconds"])
            runs[side].append(res)
            print(json.dumps(
                {
                    "pair": i + 1,
                    "side": side,
                    "workload": a.workload,
                    "seed": seed,
                    "correct": res.get("correct"),
                    "failed": res.get("failed"),
                    **{m: res["metrics"].get(m, {}).get("value") for m in metrics},
                }
            ), flush=True)

    print(f"\n{a.workload}: {a.pairs} pairs, seeds {a.seed}-{a.seed + a.pairs - 1}")
    for m, better in metrics.items():
        pairs = [
            (pa["metrics"][m]["value"], ch["metrics"][m]["value"])
            for pa, ch in zip(runs["parent"], runs["change"])
            if m in pa["metrics"] and m in ch["metrics"]
        ]
        if not pairs:
            print(f"{m}: no complete pair")
            continue
        par, chg = [x for x, _ in pairs], [y for _, y in pairs]
        pq, cq = quartiles(par), quartiles(chg)
        sign = 1 if better == "lower" else -1
        wins = sum(sign * (x - y) > 0 for x, y in pairs)
        gap = sign * (pq[1] - cq[1])  # > 0: the change is better in the median
        iqr = pq[2] - pq[0]
        print(
            f"{m}: parent {pq[1]:.3f} (q1 {pq[0]:.3f}, q3 {pq[2]:.3f}, IQR {iqr:.3f})"
            f" -> change {cq[1]:.3f} (q1 {cq[0]:.3f}, q3 {cq[2]:.3f});"
            f" {100 * (cq[1] - pq[1]) / pq[1]:+.1f}%; change wins {wins}/{len(pairs)};"
            f" gap {gap:.3f} {'>' if gap > iqr else '<='} parent IQR"
        )
        print(f"  parent {[round(x, 3) for x in par]}\n  change {[round(y, 3) for y in chg]}")
    bad = [r for side in runs.values() for r in side if not r.get("correct") or r.get("failed")]
    print(f"runs with a failed operation or a wrong output: {len(bad)}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
