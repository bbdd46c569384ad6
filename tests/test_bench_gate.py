"""Bench regression gate (tools/bench_gate.py) — unit + artifact tests.

The artifact test is the CI teeth the r4 verdict asked for: the
committed BENCH_full_last.json must carry no query >2x slower (and
>0.3 s absolute) than the previous round's committed record unless
the gate's ``EXEMPT`` table holds a live entry for it.  The r4
geo_distance commit would have failed this before merge.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
import bench_gate

REPO = os.path.join(os.path.dirname(__file__), "..")


def _write(tmp_path, name, queries, sf=0.1):
    p = tmp_path / name
    p.write_text(json.dumps({"queries": queries, "sf": sf}))
    return str(p)


def test_gate_flags_only_real_regressions(tmp_path):
    base = _write(tmp_path, "base.json", {
        "fast": 0.05, "slowpoke_zq": 1.0, "errored": -1.0, "gone": 0.4,
    })
    cur = _write(tmp_path, "cur.json", {
        "fast": 0.2,          # 4x but under the 0.3s absolute floor: noise
        "slowpoke_zq": 2.5,   # 2.5x and +1.5s: violation
        "errored": 0.5,       # errored baseline: skipped
        "brand_new": 9.9,     # no baseline: note only
    })
    violations, notes = bench_gate.gate(cur, base)
    assert len(violations) == 1 and violations[0].startswith("slowpoke_zq:")
    assert any("brand_new" in n for n in notes)
    assert any("errored" in n for n in notes)


def test_gate_skips_on_sf_mismatch(tmp_path):
    base = _write(tmp_path, "base.json", {"q": 0.1}, sf=0.01)
    cur = _write(tmp_path, "cur.json", {"q": 9.1}, sf=0.1)
    violations, notes = bench_gate.gate(cur, base)
    assert violations == []
    assert any("SF mismatch" in n for n in notes)


def test_committed_bench_passes_gate():
    current = os.path.join(REPO, "BENCH_full_last.json")
    baseline = bench_gate.pick_baseline(current)
    if not os.path.exists(current) or not baseline:
        pytest.skip("bench artifacts not present")
    violations, _ = bench_gate.gate(current, baseline)
    assert not violations, (
        "committed bench regressed vs previous round "
        "(exempt deliberate costs in bench_gate.EXEMPT):\n" + "\n".join(violations)
    )


def test_scaling_md_mention_does_not_exempt(tmp_path):
    # agg_percentiles is named in SCALING.md prose; that is no exemption
    with open(os.path.join(REPO, "SCALING.md")) as f:
        assert "agg_percentiles" in f.read()
    base = _write(tmp_path, "BENCH_full_r07_dev.json", {"agg_percentiles": 1.0})
    cur = _write(tmp_path, "cur.json", {"agg_percentiles": 3.0})
    violations, _ = bench_gate.gate(cur, base)
    assert len(violations) == 1 and violations[0].startswith("agg_percentiles:")


def test_exempt_entry_lapses_at_its_expiry_round(tmp_path, monkeypatch):
    monkeypatch.setattr(
        bench_gate, "EXEMPT", {"slowpoke_zq": (8, "bigger index by design")}
    )
    cur = _write(tmp_path, "cur.json", {"slowpoke_zq": 3.0})
    live = _write(tmp_path, "BENCH_full_r07_dev.json", {"slowpoke_zq": 1.0})
    violations, notes = bench_gate.gate(cur, live)
    assert violations == []
    assert any("exempt until round 8" in n for n in notes)
    expired = _write(tmp_path, "BENCH_full_r08_dev.json", {"slowpoke_zq": 1.0})
    violations, _ = bench_gate.gate(cur, expired)
    assert len(violations) == 1 and violations[0].startswith("slowpoke_zq:")
