"""Interleaved A/B of the repo benchmark between two checkouts.

    python tools/ab.py --base ../base --change . --workload pull_mixed \
        --pairs 10 --seeds 1,2,3,4,5,6,7,8,9,10 [--seconds 8]

``--base`` and ``--change`` are checkouts of the two commits (for the
parent, ``git worktree add ../base HEAD~1`` or a ``git clone``).  Each
pair runs ``perfbench/run.py --trace 0`` once in each checkout, with the
same seed and run length; which side runs first alternates from pair to
pair, so host drift falls on both sides alike.  Pair ``i`` uses seed
``seeds[i % len(seeds)]``.

Prints one JSON object: per-pair values of every end-to-end metric, each
side's median and quartiles, and per metric the change's win count (ties
count for neither side), whether the medians differ by more than the
base's interquartile range in the better direction, and ``claim`` —
both of those with wins in at least nine tenths of the pairs.  The
better direction of each metric comes from the change's BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

SIDES = ("base", "change")


def parse_result(stdout: str) -> dict:
    """The benchmark's last stdout line -> {"correct": bool, metric: value}."""
    rec = json.loads(stdout.strip().splitlines()[-1])
    out = {n: m["value"] for n, m in rec["metrics"].items()}
    out["correct"] = rec["correct"]
    return out


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(pairs: list[dict], better: dict[str, str]) -> dict:
    """Per-metric summary of ``pairs`` (each {"seed", "first", "base":
    {metric: value}, "change": {metric: value}}); ``better`` maps a
    metric to "higher" or "lower"."""
    metrics = {}
    for name, way in better.items():
        vals = {s: [p[s][name] for p in pairs] for s in SIDES}
        q = {s: quartiles(vals[s]) for s in SIDES}
        sign = 1.0 if way == "higher" else -1.0
        wins = sum(sign * (c - b) > 0 for b, c in zip(vals["base"], vals["change"]))
        gain = sign * (q["change"][1] - q["base"][1])
        beyond_iqr = gain > q["base"][2] - q["base"][0]
        metrics[name] = {
            "better": way,
            "pairs": [[b, c] for b, c in zip(vals["base"], vals["change"])],
            **{s: {"q1": q[s][0], "median": q[s][1], "q3": q[s][2]} for s in SIDES},
            "median_change_pct": 100.0 * (q["change"][1] / q["base"][1] - 1.0)
            if q["base"][1] else None,
            "wins": wins,
            "median_gain_beyond_base_iqr": beyond_iqr,
            "claim": beyond_iqr and wins >= 0.9 * len(pairs),
        }
    return {
        "n_pairs": len(pairs),
        "seeds": [p["seed"] for p in pairs],
        "first": [p["first"] for p in pairs],
        "all_correct": all(p[s]["correct"] for p in pairs for s in SIDES),
        "metrics": metrics,
    }


def run_once(checkout: str, workload: str, seed: int, seconds: float) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True, check=True)
    return parse_result(proc.stdout)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seeds", default="1", help="comma-separated, cycled over the pairs")
    ap.add_argument("--seconds", type=float, default=None,
                    help="run length (default: run_seconds from BENCHMARK.json)")
    args = ap.parse_args()

    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    seconds = args.seconds if args.seconds is not None else bench["run_seconds"]
    seeds = [int(s) for s in args.seeds.split(",")]
    dirs = {"base": args.base, "change": args.change}
    pairs = []
    for i in range(args.pairs):
        seed = seeds[i % len(seeds)]
        order = SIDES if i % 2 == 0 else SIDES[::-1]
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            pair[side] = run_once(dirs[side], args.workload, seed, seconds)
            print(f"# pair {i} seed {seed} {side}: "
                  + json.dumps({n: pair[side][n] for n in better}), file=sys.stderr, flush=True)
        pairs.append(pair)
    out = summarize(pairs, better)
    out.update(workload=args.workload, seconds=seconds,
               base=os.path.abspath(args.base), change=os.path.abspath(args.change))
    print(json.dumps(out, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
