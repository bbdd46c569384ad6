"""Per-query batch scale-slope audit (VERDICT r12 item 3).

Re-pins the r6 one-off ratio scan as a committed tool: compare each
query's wall at 10x (SCALE_SWEEP_sf1_r{N}.json, /tmp/sf1, K=10)
against its 1x wall (BENCH_full_r{N}_dev.json warm pass, sf0.1) and
flag everything whose slope exceeds THRESHOLD_RATIO that is NOT a
documented quadratic opt-in.  A linear operator should cost <= ~10x
at 10x data; the 12x bar adds headroom for fixed-cost amortization
noise, matching the r6 scan ("ignoring sub-150 ms baselines": tiny
baselines are floored at MIN_BASE_SEC so a 0.05 s -> 0.7 s query is
not a finding).

Honesty caveat, encoded in the output: the sweep's per-query seconds
include the DuckDB oracle run and the pandas canon/compare, while the
bench seconds are Spark-only — so the raw ratio is an UPPER BOUND on
the Spark slope.  Queries under the bar are therefore definitively
fine; queries over it are adjudicated, and ``--retime`` re-measures
just the Spark side (min-of-2, no oracle) at both scales for any
flagged query not on the opt-in list, so the committed verdict is a
measurement, not a guess.

Usage:
    python tools/scale_slope.py [sweep.json] [bench.json] [--retime]
Writes SCALE_SLOPE.json; exits 1 if any flagged query remains
unexplained (no opt-in entry and, when --retime ran, a Spark-only
slope still above the bar).
"""

from __future__ import annotations

import json
import os
import sys

THRESHOLD_RATIO = 12.0
MIN_BASE_SEC = 0.15

# Documented quadratic/super-linear opt-ins: operators whose oracle
# contract REQUIRES super-linear work at 10x data, each with the
# one-line verdict the audit trail wants.  Everything else must ride
# <= THRESHOLD_RATIO.
QUADRATIC_OPT_INS = {
    "dedup_embedding_cosine": (
        "O(n^2) exact pairwise cosine by oracle contract; 10x rows = "
        "100x pairs (chunked kernel halves the growth; scale path is "
        "the LSH-bucketed variant)"
    ),
    "dedup_ngram_jaccard": (
        "deliberate exact pair-expansion regime per oracle contract; "
        "the scaled corpus multiplies duplicate cliques, so in-bucket "
        "pairs grow super-linearly (stop-shingle pruning is the "
        "documented 100 TB mitigation)"
    ),
    "dataset_remove_dup_ngrams": (
        "shares dedup_ngram_jaccard's pair-expansion regime (r11 "
        "watch item closed: band documented in SCALING.md)"
    ),
    "similarity_knn_graph": (
        "per-block |block|^2 scoring; 10x data fills LSH blocks, so "
        "block pair counts grow super-linearly by design (block size "
        "cap is the scale knob)"
    ),
    "dedup_semantic_clusters": (
        "builds on the exact pairwise leg at test scale; LSH-bucketed "
        "above the documented size gate"
    ),
    "similarity_ann_join": (
        "dual-leg by oracle contract: the exact verification leg is "
        "quadratic until the >100k-vector size gate replaces it with "
        "the bounded digest (entry_queries.py)"
    ),
}


REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _latest(pattern_prefix: str, suffix: str) -> str | None:
    """Highest-round artifact matching BENCH_full_r{N}_dev.json-style
    names in the repo root (anchored via __file__, not cwd, like the
    sibling probes)."""
    best, best_n = None, -1
    for f in os.listdir(REPO_ROOT):
        if f.startswith(pattern_prefix) and f.endswith(suffix):
            digits = "".join(c for c in f[len(pattern_prefix):] if c.isdigit())
            if digits and int(digits) > best_n:
                best, best_n = os.path.join(REPO_ROOT, f), int(digits)
    return best


def audit(sweep_path: str, bench_path: str, retime: bool = False) -> dict:
    with open(sweep_path) as f:
        sweep = json.load(f)
    with open(bench_path) as f:
        bench = json.load(f)
    k = sweep.get("k", 10)
    threshold = THRESHOLD_RATIO * (k / 10.0)
    sweep_q = {n: v["sec"] for n, v in sweep["queries"].items()
               if isinstance(v, dict) and "sec" in v
               and v.get("status", "PASS") == "PASS"}
    bench_q = bench["queries"]

    queries, flagged = {}, []
    # a query that FAILED or never produced a wall at 10x is the worst
    # scale regression there is — it must fail the gate, not vanish
    # from the comparison
    for name, v in sorted(sweep["queries"].items()):
        if name in sweep_q or not isinstance(v, dict):
            continue
        queries[name] = {"class": "INCOMPLETE-AT-SCALE",
                         "sweep_entry": {k: v.get(k)
                                         for k in ("status", "sec", "err")
                                         if k in v}}
        flagged.append(name)
    for name, scaled_sec in sorted(sweep_q.items()):
        base = bench_q.get(name)
        if base is None:
            queries[name] = {"scaled_sec": scaled_sec, "base_sec": None,
                             "class": "no-baseline"}
            continue
        eff_base = max(base, MIN_BASE_SEC)
        ratio = scaled_sec / eff_base
        entry = {"base_sec": base, "scaled_sec": scaled_sec,
                 "ratio_vs_floored_base": round(ratio, 2)}
        if ratio <= threshold:
            entry["class"] = "linear-band"
        elif name in QUADRATIC_OPT_INS:
            entry["class"] = "quadratic-opt-in"
            entry["verdict"] = QUADRATIC_OPT_INS[name]
        else:
            entry["class"] = "FLAGGED"
            flagged.append(name)
        queries[name] = entry

    if retime and flagged:
        _retime([n for n in flagged if queries[n]["class"] == "FLAGGED"],
                sweep["sf_dir"], queries, threshold)
        flagged = [n for n in flagged
                   if queries[n]["class"] in ("FLAGGED",
                                              "INCOMPLETE-AT-SCALE")]

    out = {
        "sweep": sweep_path, "bench": bench_path, "k": k,
        "threshold_ratio": threshold, "min_base_sec": MIN_BASE_SEC,
        "note": (
            "sweep seconds include the DuckDB oracle + pandas compare, "
            "so ratio_vs_floored_base is an UPPER BOUND on the Spark "
            "slope; spark_only_* fields (when present) are the "
            "oracle-free min-of-2 re-measurement"
        ),
        "n_linear": sum(1 for v in queries.values()
                        if v.get("class") == "linear-band"),
        "n_opt_in": sum(1 for v in queries.values()
                        if v.get("class") == "quadratic-opt-in"),
        "n_retimed_linear": sum(1 for v in queries.values()
                                if v.get("class") == "retimed-linear"),
        "n_incomplete_at_scale": sum(
            1 for v in queries.values()
            if v.get("class") == "INCOMPLETE-AT-SCALE"),
        "unexplained": flagged,
        "queries": queries,
    }
    return out


def _retime(names: list[str], scaled_dir: str, queries: dict,
            threshold: float) -> None:
    """Spark-only min-of-2 at both scales for flagged queries: removes
    the oracle share from the ratio so the verdict is a measurement."""
    import time

    sys.path.insert(0, os.path.abspath("."))
    import __spark_entry__ as entry_mod
    from ksql_linq_spark.session import build_session

    spark = build_session()
    base_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    qs = entry_mod.queries()
    for name in names:
        fn = qs.get(name)
        if fn is None:
            # stale name from an older committed artifact: there is no
            # current code to be slow, but say so rather than crash
            # the whole audit after JVM startup
            queries[name]["class"] = "no-current-query"
            queries[name]["verdict"] = (
                "sweep artifact names a query absent from the current "
                "registry; nothing to retime"
            )
            continue
        times = {}
        for label, d in (("base", base_dir), ("scaled", scaled_dir)):
            best = None
            for _ in range(2):
                t0 = time.time()
                fn(spark, d).toPandas()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            times[label] = best
        ratio = times["scaled"] / max(times["base"], MIN_BASE_SEC)
        queries[name]["spark_only_base_sec"] = round(times["base"], 3)
        queries[name]["spark_only_scaled_sec"] = round(times["scaled"], 3)
        queries[name]["spark_only_ratio"] = round(ratio, 2)
        if ratio <= threshold:
            queries[name]["class"] = "retimed-linear"
            queries[name]["verdict"] = (
                "oracle/compare share dominated the sweep wall; "
                "Spark-only slope is in the linear band"
            )


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--retime"]
    retime = "--retime" in sys.argv[1:]
    sweep = args[0] if args else _latest("SCALE_SWEEP_sf1_r", ".json")
    bench = args[1] if len(args) > 1 else _latest("BENCH_full_r", "_dev.json")
    if not sweep or not bench:
        print("usage: scale_slope.py [sweep.json] [bench.json] [--retime]",
              file=sys.stderr)
        return 2
    out = audit(sweep, bench, retime)
    with open(os.path.join(REPO_ROOT, "SCALE_SLOPE.json"), "w") as f:
        json.dump(out, f, indent=1)
    ranked = sorted(
        ((n, v) for n, v in out["queries"].items()
         if v.get("ratio_vs_floored_base") is not None),
        key=lambda kv: -kv[1]["ratio_vs_floored_base"])
    print(f"{'query':42s} {'1x':>7s} {'10x':>7s} {'ratio':>7s}  class")
    for n, v in ranked[:15]:
        print(f"{n:42s} {v['base_sec']:7.2f} {v['scaled_sec']:7.2f} "
              f"{v['ratio_vs_floored_base']:7.1f}  {v['class']}")
    print(f"\nlinear-band: {out['n_linear']}  opt-in: {out['n_opt_in']}  "
          f"retimed-linear: {out['n_retimed_linear']}  "
          f"UNEXPLAINED: {len(out['unexplained'])} {out['unexplained']}")
    print("-> SCALE_SLOPE.json")
    return 1 if out["unexplained"] else 0


if __name__ == "__main__":
    raise SystemExit(main())
