"""Pure-python tests for the scale-slope audit tool (VERDICT r12
item 3): classification thresholds, the quadratic opt-in allowlist,
baseline flooring, and latest-artifact resolution.  The measurement
legs (--retime) are exercised by the round artifact SCALE_SLOPE.json,
not here."""

from __future__ import annotations

import importlib.util
import json
import os
import sys

_spec = importlib.util.spec_from_file_location(
    "scale_slope",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                 "tools", "scale_slope.py"),
)
slope = importlib.util.module_from_spec(_spec)
sys.modules.setdefault("scale_slope", slope)
_spec.loader.exec_module(slope)


def _write_artifacts(tmp_path, sweep_queries, bench_queries, k=10):
    sweep = tmp_path / "sweep.json"
    bench = tmp_path / "bench.json"
    sweep.write_text(json.dumps({
        "sf_dir": "/tmp/sfX", "k": k, "total": len(sweep_queries),
        "failures": 0,
        "queries": {n: {"status": "PASS", "rows": 1, "sec": s}
                    for n, s in sweep_queries.items()},
    }))
    bench.write_text(json.dumps({"queries": bench_queries}))
    return str(sweep), str(bench)


def test_audit_classifies_linear_optin_and_flagged(tmp_path):
    sweep, bench = _write_artifacts(
        tmp_path,
        {"fine_agg": 4.0,            # 4x at 10x data: linear band
         "dedup_ngram_jaccard": 90.0,  # >12x but a documented opt-in
         "mystery_op": 30.0},          # >12x, no opt-in: flagged
        {"fine_agg": 1.0, "dedup_ngram_jaccard": 3.0, "mystery_op": 1.0},
    )
    out = slope.audit(sweep, bench)
    assert out["queries"]["fine_agg"]["class"] == "linear-band"
    q = out["queries"]["dedup_ngram_jaccard"]
    assert q["class"] == "quadratic-opt-in" and "contract" in q["verdict"]
    assert out["queries"]["mystery_op"]["class"] == "FLAGGED"
    assert out["unexplained"] == ["mystery_op"]


def test_audit_floors_tiny_baselines_and_notes_oracle_bound(tmp_path):
    # a 0.02 s -> 0.7 s query is NOT a finding: ratio uses
    # max(base, 0.15), matching the r6 scan's sub-150 ms exclusion
    sweep, bench = _write_artifacts(
        tmp_path, {"tiny": 0.7}, {"tiny": 0.02})
    out = slope.audit(sweep, bench)
    assert out["queries"]["tiny"]["class"] == "linear-band"
    assert out["queries"]["tiny"]["ratio_vs_floored_base"] == round(
        0.7 / 0.15, 2)
    # the honesty caveat is part of the committed artifact
    assert "UPPER BOUND" in out["note"]


def test_audit_threshold_scales_with_k(tmp_path):
    # a K=100 sweep allows 10x the K=10 ratio before flagging:
    # 80x at 100x data is sub-linear, not a finding
    sweep, bench = _write_artifacts(
        tmp_path, {"q": 80.0}, {"q": 1.0}, k=100)
    out = slope.audit(sweep, bench)
    assert out["threshold_ratio"] == 120.0
    assert out["queries"]["q"]["class"] == "linear-band"


def test_audit_sweep_only_query_has_no_baseline(tmp_path):
    sweep, bench = _write_artifacts(tmp_path, {"new_op": 5.0}, {})
    out = slope.audit(sweep, bench)
    assert out["queries"]["new_op"]["class"] == "no-baseline"
    assert out["unexplained"] == []


def test_latest_resolves_highest_round(tmp_path, monkeypatch):
    for n in ("SCALE_SWEEP_sf1_r09.json", "SCALE_SWEEP_sf1_r12.json",
              "SCALE_SWEEP_sf1_r13.json", "BENCH_full_r12_dev.json",
              "BENCH_full_r13_dev.json", "BENCH_full_last.json"):
        (tmp_path / n).write_text("{}")
    # _latest anchors to the repo root via __file__ (not cwd), so the
    # tool works and writes its artifact correctly from any directory
    monkeypatch.setattr(slope, "REPO_ROOT", str(tmp_path))
    assert slope._latest("SCALE_SWEEP_sf1_r", ".json") == \
        str(tmp_path / "SCALE_SWEEP_sf1_r13.json")
    # BENCH_full_last.json must not shadow the round-numbered records
    assert slope._latest("BENCH_full_r", "_dev.json") == \
        str(tmp_path / "BENCH_full_r13_dev.json")


def test_optin_allowlist_matches_committed_artifact():
    """Every opt-in the committed SCALE_SLOPE.json relied on must stay
    in the tool's allowlist (renaming one would silently turn a
    contract-quadratic query into a flag — or worse, the reverse)."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "SCALE_SLOPE.json")) as fh:
        art = json.load(fh)
    assert art["unexplained"] == []
    for name, entry in art["queries"].items():
        if entry.get("class") == "quadratic-opt-in":
            assert name in slope.QUADRATIC_OPT_INS, name
        if entry.get("class") == "retimed-linear":
            assert entry["spark_only_ratio"] <= art["threshold_ratio"]


def test_optin_keys_are_registered_queries():
    """An opt-in names a registered query: a stale key exempts nothing
    today and would silently exempt any future query that reuses it."""
    from ksql_linq_spark.entry_queries import QUERIES

    stale = sorted(set(slope.QUADRATIC_OPT_INS) - set(QUERIES))
    assert stale == [], stale


def test_audit_failed_sweep_query_fails_the_gate(tmp_path):
    # a query that FAILED (or never produced a wall) at 10x is the
    # worst scale regression there is — it must land in unexplained,
    # not silently vanish from the comparison
    sweep = tmp_path / "sweep.json"
    bench = tmp_path / "bench.json"
    sweep.write_text(json.dumps({
        "sf_dir": "/tmp/sfX", "k": 10, "total": 2, "failures": 1,
        "queries": {
            "fine_agg": {"status": "PASS", "rows": 1, "sec": 4.0},
            "oom_op": {"status": "FAIL", "err": "OutOfMemoryError"},
            "timed_but_failed": {"status": "FAIL", "sec": 3.0},
        },
    }))
    bench.write_text(json.dumps({"queries": {"fine_agg": 1.0,
                                             "oom_op": 1.0,
                                             "timed_but_failed": 1.0}}))
    out = slope.audit(str(sweep), str(bench))
    assert out["queries"]["fine_agg"]["class"] == "linear-band"
    assert out["queries"]["oom_op"]["class"] == "INCOMPLETE-AT-SCALE"
    # a FAIL status discards the timing too: the wall of a failed run
    # is not evidence of a completed query
    assert out["queries"]["timed_but_failed"]["class"] == \
        "INCOMPLETE-AT-SCALE"
    assert sorted(out["unexplained"]) == ["oom_op", "timed_but_failed"]
    assert out["n_incomplete_at_scale"] == 2
