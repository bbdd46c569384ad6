"""Bench regression gate: diff the current full bench against the
previous round's committed record and FAIL on silent slowdowns.

The r4 `geo_distance` regression (0.31 s -> 6.4 s, committed in the
round's final hours) would have been caught by exactly this check —
the per-query bench data existed, nothing diffed it (VERDICT r4 item 4).

Policy, per query present in both records (min-of-2 times, same SF):

- violation when ``current > 2x baseline`` AND ``current - baseline >
  0.3 s`` (the absolute floor keeps 0.05 s queries from tripping on
  host noise),
- exempt only while the query has a live entry in ``EXEMPT`` below —
  query -> (expiry round, reason), the place for "this costs more now,
  deliberately" decisions.  An entry lapses once the baseline's round
  (parsed from its ``BENCH_full_r<N>`` file name, as
  :func:`pick_baseline` does) reaches the expiry round; a baseline whose
  name carries no round gets no exemption.  A query merely mentioned in
  SCALING.md prose is not exempt,
- queries new since the baseline are reported informationally, never
  violations.

Usage:  python tools/bench_gate.py [current.json] [baseline.json]
Default current = BENCH_full_last.json; default baseline = the highest
committed BENCH_full_r*.json that is not the current file.
Exit code 1 on violations (CI semantics); pytest wraps this in
tests/test_bench_gate.py.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RATIO = 2.0
ABS_FLOOR_SEC = 0.3

# Deliberate slowdowns: query name -> (expiry round, reason).  Exempts
# the query while the baseline record's round is below the expiry.
EXEMPT: dict[str, tuple[int, str]] = {}


def bench_round(path: str) -> int | None:
    """Round number of a ``BENCH_full_r<N>*.json`` record, else None."""
    m = re.search(r"BENCH_full_r(\d+)", os.path.basename(path))
    return int(m.group(1)) if m else None


def pick_baseline(current_path: str) -> str | None:
    cands = []
    for p in glob.glob(os.path.join(REPO, "BENCH_full_r*.json")):
        if os.path.abspath(p) == os.path.abspath(current_path):
            continue
        r = bench_round(p)
        if r is not None:
            cands.append((r, p))
    return max(cands)[1] if cands else None


def load_queries(path: str) -> tuple[dict[str, float], float]:
    with open(path) as f:
        d = json.load(f)
    return d.get("queries", {}), float(d.get("sf", 0.0))


def gate(current_path: str, baseline_path: str) -> tuple[list[str], list[str]]:
    """Returns (violations, notes)."""
    cur, cur_sf = load_queries(current_path)
    base, base_sf = load_queries(baseline_path)
    notes: list[str] = []
    violations: list[str] = []
    if cur_sf != base_sf:
        notes.append(
            f"SF mismatch ({cur_sf} vs {base_sf}) — gate skipped"
        )
        return [], notes
    base_round = bench_round(baseline_path)
    for name in sorted(cur):
        c = cur[name]
        if name not in base:
            notes.append(f"new query (no baseline): {name} = {c:.2f}s")
            continue
        b = base[name]
        if c < 0 or b < 0:
            notes.append(f"errored in one record, skipped: {name}")
            continue
        if c > RATIO * b and c - b > ABS_FLOOR_SEC:
            msg = (
                f"{name}: {b:.2f}s -> {c:.2f}s ({c / max(b, 1e-9):.1f}x, "
                f"+{c - b:.2f}s)"
            )
            entry = EXEMPT.get(name)
            if entry and base_round is not None and base_round < entry[0]:
                notes.append(f"exempt until round {entry[0]} ({entry[1]}): {msg}")
            else:
                violations.append(msg)
    return violations, notes


def main() -> int:
    current = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        REPO, "BENCH_full_last.json"
    )
    baseline = sys.argv[2] if len(sys.argv) > 2 else pick_baseline(current)
    if not os.path.exists(current):
        print(f"no current bench record at {current}; nothing to gate")
        return 0
    if not baseline or not os.path.exists(baseline):
        print("no committed baseline BENCH_full_r*.json; nothing to gate")
        return 0
    violations, notes = gate(current, baseline)
    for n in notes:
        print(f"note: {n}")
    if violations:
        print(f"\nREGRESSIONS vs {os.path.basename(baseline)} "
              f"(> {RATIO}x and > +{ABS_FLOOR_SEC}s, no live EXEMPT entry):")
        for v in violations:
            print(f"  FAIL {v}")
        return 1
    print(f"bench gate clean vs {os.path.basename(baseline)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
