"""Tiny-input smoke run of the benchmark in ../perfbench.

    python3 perfbench_smoke/smoke.py          (from the repository root)

For each workload it runs the benchmark on tiny inputs three times:
untraced, traced, and untraced with one expected value corrupted.  It
checks that every end-to-end metric (untraced) and every per-layer metric
(traced) prints by name with the unit BENCHMARK.json gives it, that the
clean runs report no failures, that ``batch_suite`` ran at least one
query of every module group, and that the corrupted run reports at
least one failure (``ok_ratio`` below 1).  Exit code 0 when all hold.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("batch_suite", "cascade_drain", "pull_mixed")


def bench(workload: str, trace: int, corrupt: bool = False) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "5", "--trace", str(trace), "--scale", "tiny"]
    if corrupt:
        cmd.append("--corrupt-expected")
    p = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True, timeout=300)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{' '.join(cmd)} exited {p.returncode}")
    lines = p.stdout.strip().splitlines()
    for line in lines[:-1]:
        print(f"  {line}")
    return json.loads(lines[-1])


def group_problems(trace: int, per_layer: dict) -> list[str]:
    """Module groups of the per-layer split that ran no query in the
    batch_suite run just made (read from its result record)."""
    path = os.path.join(REPO, ".perfbench_out", f"result-batch_suite-seed7-trace{trace}.json")
    with open(path) as f:
        ran = json.load(f)["diag"]["queries_per_group"]
    groups = {n.split(".", 1)[1] for n in per_layer if n.startswith("build_s.")}
    return [f"batch_suite trace={trace}: no query of module group {g}"
            for g in sorted(groups) if not ran.get(g)]


def main() -> int:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    problems: list[str] = []
    for w in WORKLOADS:
        for trace in (0, 1):
            res = bench(w, trace)
            got = {n: m["unit"] for n, m in res["metrics"].items()}
            if got != want[trace]:
                problems.append(f"{w} trace={trace}: metric names/units differ: "
                                f"missing {sorted(set(want[trace]) - set(got))}, "
                                f"extra {sorted(set(got) - set(want[trace]))}, "
                                f"unit mismatches {[n for n in got if n in want[trace] and got[n] != want[trace][n]]}")
            if res["failed"] or not res["correct"]:
                problems.append(f"{w} trace={trace}: {res['failed']} of {res['attempted']} failed")
            if w == "batch_suite":
                problems += group_problems(trace, want[1])
            shown = ", ".join(f"{n}={m['value']:.4g} {m['unit']}"
                              for n, m in list(res["metrics"].items())[:6])
            print(f"{w} trace={trace}: attempted={res['attempted']} {shown} ...")
        res = bench(w, 0, corrupt=True)
        ok = res["metrics"]["ok_ratio"]["value"]
        print(f"{w} corrupted expected value: failed={res['failed']} ok_ratio={ok:.4g}")
        if res["failed"] == 0 or ok >= 1.0 or res["correct"]:
            problems.append(f"{w}: a corrupted expected value was not detected")
    for p in problems:
        print(f"FAIL {p}")
    print("smoke: ok" if not problems else f"smoke: {len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
