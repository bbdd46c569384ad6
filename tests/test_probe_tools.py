"""Pure-python tests for the streaming-throughput probe's CLI parsing
and artifact-merge logic (all four r10 ADVICE findings).  No Spark
session needed — the probe's measurement legs are exercised by the
round artifacts, not here."""

from __future__ import annotations

import importlib.util
import json
import os
import sys

import pytest

def _load_tool(name):
    spec = importlib.util.spec_from_file_location(
        name,
        os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "tools", f"{name}.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules.setdefault(name, mod)
    spec.loader.exec_module(mod)
    return mod


probe = _load_tool("streaming_throughput_probe")
stj = _load_tool("sweep_to_json")
soak = _load_tool("restart_soak_probe")
ab = _load_tool("ab")


def test_parse_flags_any_order():
    # the r10 bug: `--shards 8 --store hdfs` raised ValueError
    assert probe._parse_flags(
        ["--shards", "8", "--store", "hdfs", "400000"]
    ) == ("hdfs", 8, ["400000"])
    assert probe._parse_flags(
        ["--store", "all", "100000", "1000", "10000"]
    ) == ("all", None, ["100000", "1000", "10000"])
    assert probe._parse_flags(["250000", "--shards", "16"]) == (
        None, 16, ["250000"])
    assert probe._parse_flags([]) == (None, None, [])


def _leg(n_keys, sustained, rate=400_000):
    return {"rate": rate, "n_keys": n_keys, "store": "hdfs",
            "leg_seconds": probe.LEG_SECONDS, "sustained": sustained}


def test_merge_migrates_v3_and_fixes_leg_seconds_label():
    prior = {
        "version": 3, "rate_rows_per_sec": 400_000,
        "leg_seconds": 330,  # the v3 mislabel (composed duration)
        "stores": {"hdfs": {"first_unsustained_n_keys": None,
                            "legs": [_leg(1000, True)]}},
    }
    new = {"800000": {"rate_rows_per_sec": 800_000, "leg_seconds": 75,
                      "stores": {"hdfs": {
                          "first_unsustained_n_keys": 10_000,
                          "legs": [_leg(1000, True, 800_000),
                                   _leg(10_000, False, 800_000)]}}}}
    merged = probe._merge_key_ladder_runs(new, prior)
    # a NEW rate extends the artifact; the prior rate's ladder survives
    assert set(merged) == {"400000", "800000"}
    # the migrated v3 run records the TRUE key-ladder leg duration
    assert merged["400000"]["leg_seconds"] == 75
    assert "mislabel" in merged["400000"]["leg_seconds_note"]
    assert merged["400000"]["stores"]["hdfs"]["legs"][0]["n_keys"] == 1000


def test_merge_same_rate_leg_level_newest_wins():
    prior = {"version": 4, "runs": {"400000": {
        "rate_rows_per_sec": 400_000, "leg_seconds": 75,
        "stores": {"hdfs": {
            "first_unsustained_n_keys": 10_000,
            "legs": [_leg(1000, True), _leg(10_000, False)]}},
    }}}
    # rerun of the 10k leg now sustains, and a 100k leg extends
    new = {"400000": {"rate_rows_per_sec": 400_000, "leg_seconds": 75,
                      "stores": {"hdfs": {
                          "first_unsustained_n_keys": 100_000,
                          "legs": [_leg(10_000, True),
                                   _leg(100_000, False)]}}}}
    merged = probe._merge_key_ladder_runs(new, prior)
    hdfs = merged["400000"]["stores"]["hdfs"]
    assert [(leg["n_keys"], leg["sustained"]) for leg in hdfs["legs"]] == [
        (1000, True), (10_000, True), (100_000, False)]
    assert hdfs["first_unsustained_n_keys"] == 100_000
    # a second store merging in must not clobber hdfs
    new2 = {"400000": {"rate_rows_per_sec": 400_000, "leg_seconds": 75,
                       "stores": {"rocksdb_cl": {
                           "first_unsustained_n_keys": None,
                           "legs": [_leg(1000, True)]}}}}
    merged2 = probe._merge_key_ladder_runs(
        new2, {"version": 4, "runs": merged})
    assert set(merged2["400000"]["stores"]) == {"hdfs", "rocksdb_cl"}


def test_parse_flags_trailing_valueless_flag_is_usage_error():
    # r11 ADVICE: `--shards` as the last arg raised IndexError before
    # any measurement ran
    with pytest.raises(probe.FlagError, match="requires a value"):
        probe._parse_flags(["100000", "--shards"])
    with pytest.raises(probe.FlagError, match="requires a value"):
        probe._parse_flags(["--store"])


def test_parse_flags_validates_store_name():
    # r11 residual nit: a typo'd store burned the full 25+ min ladder
    # before dying on the PROVIDERS KeyError
    with pytest.raises(probe.FlagError, match="unknown store"):
        probe._parse_flags(["--store", "rocskdb"])
    with pytest.raises(probe.FlagError, match="integer"):
        probe._parse_flags(["--shards", "sixteen"])
    # every provider plus the ladder-only all/both aliases stay valid
    for s in list(probe.PROVIDERS) + ["all", "both"]:
        assert probe._parse_flags(["--store", s])[0] == s


def test_merge_rejects_unrecognized_prior_version():
    # r11 ADVICE: a v2/v5 prior was silently dropped AND overwritten
    with pytest.raises(ValueError, match="unrecognized key-ladder"):
        probe._merge_key_ladder_runs({}, {"version": 2, "stores": {}})


def test_merge_malformed_prior_raises_keyerror_not_crash_path():
    # v3 missing rate_rows_per_sec / v4 missing runs raise KeyError —
    # the caller now catches it and preserves the file (see below)
    with pytest.raises(KeyError):
        probe._merge_key_ladder_runs({}, {"version": 3,
                                          "leg_seconds": 75})
    with pytest.raises(KeyError):
        probe._merge_key_ladder_runs({}, {"version": 4})


def test_preserve_unmerged_moves_prior_aside(tmp_path):
    path = tmp_path / "STREAM_THROUGHPUT_KEYS.json"
    path.write_text("{malformed")
    probe._preserve_unmerged(str(path), ValueError("boom"))
    assert not path.exists()
    assert (tmp_path / "STREAM_THROUGHPUT_KEYS.json.unmerged"
            ).read_text() == "{malformed"


def test_master_cores_parses_maxfailures_and_star_forms():
    # r11 ADVICE: the slice parse raised ValueError on local[2,4]
    assert probe._master_cores("local[8]") == 8
    assert probe._master_cores("local[2,4]") == 2
    assert probe._master_cores("local[32]") == 32
    assert probe._master_cores("local[*]") == (os.cpu_count() or 1)
    assert probe._master_cores("spark://host:7077") == (
        os.cpu_count() or 1)
    assert probe.BASELINE_CORES == 32


def test_sweep_to_json_parses_check_log():
    log = ("[Stage 1:> (0+1)/1]PASS  foo_bar: 500 rows (0.5s)\n"
           "PASS  baz_q: 3385 rows (12.3s)\n"
           "FAIL  broken_one: hash mismatch over 42 rows\n"
           "179/179 pass\n")
    q = stj.parse(log)
    assert q["foo_bar"] == {"status": "PASS", "rows": 500, "sec": 0.5}
    assert q["baz_q"]["sec"] == 12.3
    assert q["broken_one"]["status"] == "FAIL"
    assert "hash mismatch" in q["broken_one"]["detail"]


def _cleg(rate, sustained):
    return {"rate": rate, "sustained": sustained, "leg_seconds": 150}


def test_composed_merge_extends_ladder_and_recomputes_ceiling():
    prior = {"mode": "composed_ceiling", "version": 6, "runs": {
        "rocksdb_cl@100000@sh16": {
            "store": "rocksdb_cl", "n_keys": 100_000,
            "ceiling_rows_per_sec": 2_160_000,
            "legs": [_cleg(2_160_000, True), _cleg(4_320_000, False)]},
    }}
    new = {"rocksdb_cl@100000@sh16": {
        "store": "rocksdb_cl", "n_keys": 100_000,
        "ceiling_rows_per_sec": 400_000,
        "legs": [_cleg(400_000, True)]}}
    merged = probe._merge_composed_runs(new, prior)
    run = merged["rocksdb_cl@100000@sh16"]
    # the new low-rate leg extends the ladder; prior legs survive; the
    # ceiling is recomputed over the MERGED legs (stays at the record)
    assert [(l["rate"], l["sustained"]) for l in run["legs"]] == [
        (400_000, True), (2_160_000, True), (4_320_000, False)]
    assert run["ceiling_rows_per_sec"] == 2_160_000
    # a different topology keys its own run
    new2 = {"rocksdb_cl@25000@sh4@c8": {
        "store": "rocksdb_cl", "n_keys": 25_000,
        "ceiling_rows_per_sec": 1_080_000,
        "legs": [_cleg(1_080_000, True)]}}
    merged2 = probe._merge_composed_runs(
        new2, {"mode": "composed_ceiling", "version": 6, "runs": merged})
    assert set(merged2) == {"rocksdb_cl@100000@sh16",
                            "rocksdb_cl@25000@sh4@c8"}


def test_composed_merge_migrates_v4_and_rejects_unknown():
    prior_v4 = {"mode": "composed_ceiling", "version": 4,
                "store": "rocksdb_cl", "n_keys": 100_000,
                "ceiling_rows_per_sec": 1_440_000,
                "legs": [_cleg(1_440_000, True)]}
    merged = probe._merge_composed_runs({"x@1": {"legs": []}}, prior_v4)
    assert merged["rocksdb_cl@100000"]["ceiling_rows_per_sec"] == 1_440_000
    with pytest.raises(ValueError, match="not composed_ceiling"):
        probe._merge_composed_runs({}, {"mode": "key_ladder"})
    with pytest.raises(ValueError, match="unrecognized composed"):
        probe._merge_composed_runs(
            {}, {"mode": "composed_ceiling", "version": 7})
    # malformed v6 (missing runs) raises KeyError for the caller's
    # preserve path, same contract as the key-ladder merge
    with pytest.raises(KeyError):
        probe._merge_composed_runs(
            {}, {"mode": "composed_ceiling", "version": 6})


def test_composed_merge_v4_collision_merges_legs():
    # r12 review: the v4 migration used to give new_runs blanket
    # precedence, dropping a colliding prior run's legs entirely
    prior_v4 = {"mode": "composed_ceiling", "version": 4,
                "store": "rocksdb_cl", "n_keys": 100_000,
                "ceiling_rows_per_sec": 1_440_000,
                "legs": [_cleg(1_440_000, True)]}
    new = {"rocksdb_cl@100000": {
        "store": "rocksdb_cl", "n_keys": 100_000,
        "ceiling_rows_per_sec": 400_000,
        "legs": [_cleg(400_000, True)]}}
    merged = probe._merge_composed_runs(new, prior_v4)
    run = merged["rocksdb_cl@100000"]
    assert [(l["rate"], l["sustained"]) for l in run["legs"]] == [
        (400_000, True), (1_440_000, True)]
    assert run["ceiling_rows_per_sec"] == 1_440_000


def test_preserve_unmerged_falls_back_and_never_overwrites(tmp_path,
                                                           monkeypatch):
    # normal path returns the original path for the caller to write to
    path = tmp_path / "ART.json"
    path.write_text("{prior}")
    assert probe._preserve_unmerged(str(path), ValueError("x")) == str(path)
    # os.replace failing falls back to copyfile (prior preserved both
    # places; caller still writes fresh over the original)
    path.write_text("{prior2}")

    def _raise(*_a):
        raise OSError("locked")

    monkeypatch.setattr(probe.os, "replace", _raise)
    target = probe._preserve_unmerged(str(path), ValueError("x"))
    assert target == str(path)
    # the first preserve already owns .unmerged; the copy fallback
    # lands on the next non-clobbering name
    assert (tmp_path / "ART.json.unmerged2").read_text() == "{prior2}"
    # both replace AND copy failing: fresh results go to .fresh so the
    # prior is NOT overwritten (r12 review: the swallowed OSError used
    # to let the caller clobber it anyway)
    def _raise_ro(*_a):
        raise OSError("ro")

    monkeypatch.setattr(probe.shutil, "copyfile", _raise_ro)
    target = probe._preserve_unmerged(str(path), ValueError("x"))
    assert target == str(path) + ".fresh"
    assert path.read_text() == "{prior2}"


def test_main_usage_errors_fail_before_jvm(monkeypatch):
    # r12 review: a misspelled mode or non-integer positional used to
    # burn ~10s of JVM startup before dying with a raw traceback
    def boom(*a, **k):
        raise AssertionError("build_session must not run on usage error")

    monkeypatch.setattr(probe, "build_session", boom)
    for argv in (["p", "--composd", "100000"],
                 ["p", "100k"],
                 ["p", "--key-ladder", "--store", "hdfs", "100k"],
                 ["p", "--composed", "100000", "400000,"],
                 ["p", "--composed", "--store", "all"],
                 ["p", "--key-ladder", "--shards"]):
        monkeypatch.setattr(probe.sys, "argv", argv)
        assert probe.main() == 2, argv


def test_sweep_parser_mangled_line_and_summary_check():
    # a PASS line whose rows/sec were mangled by a progress-bar write
    # records MANGLED instead of crashing int(None)
    log = ("PASS  ok_q: 10 rows (0.1s)\n"
           "PASS  mangled_q: 50[Stage 3:>] rows (0.5s)\n"
           "2/2 pass\n")
    q = stj.parse(log)
    assert q["ok_q"]["status"] == "PASS"
    assert q["mangled_q"]["status"] == "MANGLED"
    assert stj.summary_counts(log) == (2, 2)
    assert stj.summary_counts("no summary here") is None


def test_preserve_unmerged_backup_names_never_clobber(tmp_path):
    # r12 review: legacy-then-composed used to overwrite the first
    # preserved artifact with the second preserve's os.replace
    path = tmp_path / "ART.json"
    path.write_text("{v6}")
    probe._preserve_unmerged(str(path), ValueError("first"))
    path.write_text("{bare}")
    probe._preserve_unmerged(str(path), ValueError("second"))
    assert (tmp_path / "ART.json.unmerged").read_text() == "{v6}"
    assert (tmp_path / "ART.json.unmerged2").read_text() == "{bare}"


def test_positional_validation_is_slot_aware(monkeypatch):
    def boom(*a, **k):
        raise AssertionError("reached build_session")

    monkeypatch.setattr(probe, "build_session", boom)
    # comma lists are only legal in --composed's RATE slot (argv[1]);
    # anywhere else they used to pass validation then crash post-JVM
    for argv in (["p", "--key-ladder", "400000", "1000,10000"],
                 ["p", "--composed", "100000,200000"]):
        monkeypatch.setattr(probe.sys, "argv", argv)
        assert probe.main() == 2, argv
    # accepted forms reach build_session (validation passed): plain
    # ints, int()-legal underscore forms, and the composed rate list
    for argv in (["p", "--composed", "100000", "400000,800000"],
                 ["p", "--key-ladder", "400000", "1_000", "10000"],
                 ["p", "--composed", "1_000_000"]):
        monkeypatch.setattr(probe.sys, "argv", argv)
        with pytest.raises(AssertionError, match="reached build_session"):
            probe.main()


def test_parse_flags_rejects_nonpositive_shards():
    # r12 ADVICE: --shards 0 passed the pre-JVM validation, set an
    # invalid spark.sql.shuffle.partitions, and died only after
    # session startup — defeating the fail-fast contract
    with pytest.raises(probe.FlagError, match=">= 1"):
        probe._parse_flags(["--shards", "0"])
    with pytest.raises(probe.FlagError, match=">= 1"):
        probe._parse_flags(["100000", "--shards", "-4"])
    assert probe._parse_flags(["--shards", "1"])[1] == 1


def test_legacy_preserve_reason_classifies_all_priors(tmp_path):
    # r12 ADVICE: the legacy bare-ladder writer now preserves EVERY
    # prior (it has no merge key); this helper labels the backup
    path = tmp_path / "STREAM_THROUGHPUT.json"
    path.write_text('{"mode": "composed_ceiling", "version": 6}')
    assert "not the legacy bare ladder" in str(
        probe._legacy_preserve_reason(str(path)))
    # an earlier legacy (mode-less) ladder: previously clobbered
    path.write_text('{"ceiling_rows_per_sec": 800000, "legs": []}')
    assert "preserved, not merged" in str(
        probe._legacy_preserve_reason(str(path)))
    # corrupt bytes: the json error itself is the reason
    path.write_text("{corrupt")
    assert isinstance(probe._legacy_preserve_reason(str(path)),
                      ValueError)
    # a non-dict prior is also just preserved
    path.write_text("[1, 2]")
    assert "preserved, not merged" in str(
        probe._legacy_preserve_reason(str(path)))


def test_recovery_slope_fit_exact_line():
    # rungs lying on recovery = 3 + 2e-5 * rows must be recovered
    # exactly: slope 2 s per 100k rows, fixed cost 3 s, r2 = 1
    pts = [(100_000, 5.0), (250_000, 8.0), (500_000, 13.0)]
    fit = soak.fit_recovery_slope(pts)
    assert fit["slope_secs_per_100k_state_rows"] == 2.0
    assert fit["fixed_cost_secs"] == 3.0
    assert fit["r2"] == 1.0
    assert fit["projected_secs_at_1M_state_rows"] == 23.0
    assert fit["projected_secs_at_10M_state_rows"] == 203.0


def test_recovery_slope_fit_flat_and_degenerate():
    # O(1) recovery: slope 0, projections equal the constant
    fit = soak.fit_recovery_slope([(10_000, 4.0), (500_000, 4.0)])
    assert fit["slope_secs_per_100k_state_rows"] == 0.0
    assert fit["projected_secs_at_10M_state_rows"] == 4.0
    with pytest.raises(ValueError, match=">= 2 rungs"):
        soak.fit_recovery_slope([(100_000, 5.0)])
    with pytest.raises(ValueError, match="identical state rows"):
        soak.fit_recovery_slope([(100_000, 5.0), (100_000, 6.0)])


def test_ladder_flags_validate_before_jvm():
    stores, rungs, rpk, composed = soak.parse_ladder_flags([])
    assert stores == ["hdfs", "rocksdb"]
    assert rungs == soak.DEFAULT_LADDER_KEYS and rpk == 60
    assert composed is False
    stores, rungs, rpk, composed = soak.parse_ladder_flags(
        ["--store", "rocksdb", "--keys", "1000,5000", "--rows-per-key", "20"])
    assert (stores, rungs, rpk) == (["rocksdb"], [1000, 5000], 20)
    for bad in (["--store", "mystore"], ["--keys", "1000"],
                ["--keys", "1000,0"], ["--keys", "1000,1000"],
                ["--keys", "a,b"], ["--rows-per-key", "4"],
                ["--frobnicate", "1"], ["--keys"]):
        with pytest.raises(ValueError):
            soak.parse_ladder_flags(bad)


def test_ladder_flags_bound_generator_invariants():
    # > 180 rows/key makes a key recur twice in one second, breaking
    # the (key, second) uniqueness the min_by/max_by oracle needs —
    # must fail before JVM startup, not as a value mismatch after
    with pytest.raises(ValueError, match=r"\[8, 180\]"):
        soak.parse_ladder_flags(["--rows-per-key", "200"])
    assert soak.parse_ladder_flags(["--rows-per-key", "180"])[2] == 180
    # composed: valueless flag, 360 s span floor, rungs must be % 4
    assert soak.parse_ladder_flags(
        ["--composed", "--keys", "1000,4000", "--rows-per-key", "20"])[3]
    with pytest.raises(ValueError, match="% 4"):
        soak.parse_ladder_flags(["--composed", "--keys", "1001,4000"])
    with pytest.raises(ValueError, match=">= 360"):
        soak.parse_ladder_flags(
            ["--composed", "--keys", "4,8", "--rows-per-key", "80"])
    # below one row per second make_chunks divides by zero
    with pytest.raises(ValueError, match="must be >= 180"):
        soak.parse_ladder_flags(["--keys", "10,20", "--rows-per-key", "8"])
    # --store both after a narrowing flag restores both (last wins)
    assert soak.parse_ladder_flags(
        ["--store", "hdfs", "--store", "both"])[0] == ["hdfs", "rocksdb"]


def test_recovery_slope_projection_clamped_at_observed_floor():
    # a noise-dominated negative slope must not extrapolate below the
    # smallest observed wall (never below zero): the committed hdfs
    # reload fit is exactly this shape
    fit = soak.fit_recovery_slope(
        [(3_000, 3.7), (16_000, 1.8), (33_000, 1.8),
         (83_000, 1.8), (166_000, 2.2)])
    assert fit["slope_secs_per_100k_state_rows"] < 0
    assert fit["projected_secs_at_10M_state_rows"] >= 1.8


def test_ab_summarizes_canned_benchmark_lines():
    """tools/ab.py: parse the benchmark's last stdout line, then count
    wins per metric in its better direction (ties for neither side) and
    test the median gain against the base's interquartile range."""
    def line(tput, p50, correct=True):
        return "# host {}\n" + json.dumps({
            "correct": correct, "attempted": 30, "failed": 0,
            "metrics": {"throughput_per_s": {"value": tput, "unit": "1/s"},
                        "latency_p50_ms": {"value": p50, "unit": "ms"}}})

    base = [(2.4, 330), (2.3, 340), (2.5, 320), (2.4, 335)]
    change = [(3.5, 200), (3.6, 340), (2.3, 190), (3.4, 210)]
    pairs = [{"seed": i + 1, "first": "base" if i % 2 == 0 else "change",
              "base": ab.parse_result(line(*b)), "change": ab.parse_result(line(*c))}
             for i, (b, c) in enumerate(zip(base, change))]
    out = ab.summarize(pairs, {"throughput_per_s": "higher", "latency_p50_ms": "lower"})
    assert out["n_pairs"] == 4 and out["all_correct"]
    assert out["first"] == ["base", "change", "base", "change"]
    t = out["metrics"]["throughput_per_s"]
    assert t["pairs"][2] == [2.5, 2.3]
    assert t["wins"] == 3  # pair 3 lost
    assert t["base"]["median"] == pytest.approx(2.4)
    assert (t["base"]["q1"], t["base"]["q3"]) == (pytest.approx(2.375), pytest.approx(2.425))
    assert t["change"]["median"] == pytest.approx(3.45)
    assert t["median_gain_beyond_base_iqr"] and not t["claim"]  # 3 of 4 < 9/10
    lat = out["metrics"]["latency_p50_ms"]
    assert lat["wins"] == 3  # pair 2 tied: neither side
    assert lat["median_change_pct"] == pytest.approx(100.0 * (205 / 332.5 - 1.0))
    pairs[0]["change"] = ab.parse_result(line(3.5, 200, correct=False))
    assert not ab.summarize(pairs, {"throughput_per_s": "higher"})["all_correct"]
    assert ab.quartiles([5.0]) == (5.0, 5.0, 5.0)


def test_skew_probe_verdict_needs_examined_stages():
    """The skew probe passes only when it examined at least one stage
    and every examined stage is under STRAGGLER_RATIO: a leg whose
    stages were all filtered out has checked nothing."""
    skew = _load_tool("skew_probe")
    r = skew.STRAGGLER_RATIO
    assert not skew.straggler_verdict([])
    assert not skew.straggler_verdict(
        [("agg", 1.5, 120.0, 4), ("join", r + 0.5, 200.0, 4)]
    )
    assert skew.straggler_verdict([("agg", 1.5, 120.0, 4), ("join", r, 200.0, 4)])
