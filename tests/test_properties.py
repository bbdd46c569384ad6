"""Property-based tests (hypothesis): operators vs brute-force models.

The reference ships no randomized tests (SURVEY.md §5 "What's absent");
these go beyond it.  Each property drives a Spark operator with random
small inputs and compares against a plain-Python model of the semantics.
Example counts are kept low — every example is a Spark job.
"""

from __future__ import annotations

import datetime as dt
import math

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

BASE = dt.datetime(2024, 1, 1)

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

ticks = st.lists(
    st.tuples(
        st.sampled_from(["A", "B"]),
        st.integers(min_value=0, max_value=600),  # seconds offset
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, width=32),
    ),
    min_size=1,
    max_size=60,
)


@given(data=ticks)
@settings(**SETTINGS)
def test_ohlc_matches_bruteforce(spark, data):
    from ksql_linq_spark.operators.ohlc import ohlc_bars

    # ties on (key, ts) are allowed: open/close follow the (ts, value)
    # order, which the model's min/max over (ts, v) pairs is
    rows = [(k, BASE + dt.timedelta(seconds=s), float(v)) for k, s, v in data]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    got = {
        (r["k"], r["bucket_start"]): (r["open"], r["high"], r["low"], r["close"])
        for r in ohlc_bars(df, ["k"], "ts", "v", "1m").collect()
    }
    # brute-force model
    buckets: dict[tuple, list] = {}
    for k, ts, v in rows:
        b = ts.replace(second=0, microsecond=0)
        buckets.setdefault((k, b), []).append((ts, v))
    want = {
        kb: (
            min(evs)[1],
            max(v for _, v in evs),
            min(v for _, v in evs),
            max(evs)[1],
        )
        for kb, evs in buckets.items()
    }
    assert got == want


@given(data=ticks)
@settings(**SETTINGS)
def test_salted_agg_equals_plain_groupby(spark, data):
    from ksql_linq_spark.operators.skew import salted_agg

    rows = [(k, float(v), i) for i, (k, _s, v) in enumerate(data)]
    df = spark.createDataFrame(rows, "k string, v double, id long")
    salted = {
        r["k"]: (r["n"], r["hi"], r["lo"])
        for r in salted_agg(
            df,
            keys=["k"],
            aggs={
                "n": (F.count, F.sum, F.lit(1)),
                "hi": (F.max, F.max, F.col("v")),
                "lo": (F.min, F.min, F.col("v")),
            },
            salt_col="id",
            salt_buckets=4,
        ).collect()
    }
    plain = {
        r["k"]: (r["n"], r["hi"], r["lo"])
        for r in df.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.max("v").alias("hi"), F.min("v").alias("lo"))
        .collect()
    }
    assert salted == plain


@given(
    offsets=st.lists(st.integers(min_value=0, max_value=40), min_size=1, max_size=25),
    gap=st.integers(min_value=1, max_value=10),
)
@settings(**SETTINGS)
def test_session_windows_match_model(spark, offsets, gap):
    from ksql_linq_spark.operators.windows import session_window_agg

    times = sorted(set(offsets))
    rows = [("K", BASE + dt.timedelta(seconds=s)) for s in times]
    df = spark.createDataFrame(rows, "k string, ts timestamp")
    got = sorted(
        (r["session_start"], r["session_end"], r["cnt"])
        for r in session_window_agg(
            df, ["k"], "ts", f"{gap} seconds", [F.count(F.lit(1)).alias("cnt")]
        ).collect()
    )
    # model: merge while diff <= gap (Spark merges the boundary case)
    sessions, cur = [], [times[0], times[0], 1]
    for s in times[1:]:
        if s - cur[1] <= gap:
            cur[1], cur[2] = s, cur[2] + 1
        else:
            sessions.append(cur)
            cur = [s, s, 1]
    sessions.append(cur)
    want = sorted(
        (
            BASE + dt.timedelta(seconds=a),
            BASE + dt.timedelta(seconds=b + gap),
            n,
        )
        for a, b, n in sessions
    )
    assert got == want


@given(
    present=st.lists(st.integers(min_value=0, max_value=20), min_size=1, max_size=12),
)
@settings(**SETTINGS)
def test_gapfill_covers_every_bucket(spark, present):
    from ksql_linq_spark.operators.gapfill import gap_fill_bars

    buckets = sorted(set(present))
    rows = [
        ("K", BASE + dt.timedelta(minutes=m), float(m), float(m), float(m), float(m))
        for m in buckets
    ]
    df = spark.createDataFrame(
        rows, "k string, bucket_start timestamp, open double, high double, low double, close double"
    )
    out = gap_fill_bars(df, ["k"], "bucket_start", "1m").collect()
    by_bucket = {r["bucket_start"]: r for r in out}
    # dense spine between min and max
    assert len(out) == buckets[-1] - buckets[0] + 1
    last_close = None
    for m in range(buckets[0], buckets[-1] + 1):
        r = by_bucket[BASE + dt.timedelta(minutes=m)]
        if m in buckets:
            assert not r["is_synthetic"] and r["close"] == float(m)
            last_close = r["close"]
        else:
            assert r["is_synthetic"]
            assert r["open"] == r["high"] == r["low"] == r["close"] == last_close


@given(
    texts=st.lists(
        st.text(
            alphabet=st.sampled_from("ab cd"), min_size=0, max_size=40
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(**SETTINGS)
def test_shingle_rows_equals_array_form(spark, texts):
    """The codegen explode+window shingle path must equal the HOF array
    path exactly (same distinct shingle sets per doc)."""
    from ksql_linq_spark.operators.text import shingle_rows, shingles

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    via_rows = {
        (r["doc_id"], r["s"]) for r in shingle_rows(df).collect()
    }
    via_array = {
        (r["doc_id"], s)
        for r in df.select("doc_id", shingles(F.col("text")).alias("sh")).collect()
        for s in r["sh"]
        if s != ""  # array form emits [''] for token-less docs; row form emits nothing
    }
    assert via_rows == via_array


@given(
    seconds=st.lists(st.integers(min_value=0, max_value=10**7), min_size=1, max_size=20),
    tf=st.sampled_from(["1m", "5m", "1h", "1d", "1wk", "1mo"]),
)
@settings(**SETTINGS)
def test_bucket_start_floor_properties(spark, seconds, tf):
    from ksql_linq_spark.operators.windows import bucket_end, bucket_start

    rows = [(BASE + dt.timedelta(seconds=s),) for s in sorted(set(seconds))]
    df = spark.createDataFrame(rows, "ts timestamp")
    out = df.select(
        "ts",
        bucket_start("ts", tf).alias("b"),
        bucket_end("ts", tf).alias("e"),
        bucket_start(bucket_start("ts", tf), tf).alias("bb"),
    ).collect()
    for r in out:
        assert r["b"] <= r["ts"] < r["e"]  # ts inside its bucket
        assert r["bb"] == r["b"]  # flooring is idempotent


@given(data=ticks)
@settings(**SETTINGS)
def test_cascade_invariant(spark, data):
    """THE cascade correctness heart: bars rolled up from the 1 s hub
    must equal bars computed directly from raw ticks, for every
    composable aggregate (open/high/low/close/sum/count)."""
    from ksql_linq_spark.operators.cascade import CascadePlan, build_cascade
    from ksql_linq_spark.operators.ohlc import ohlc_bars

    rows = [(k, BASE + dt.timedelta(seconds=s), float(v)) for k, s, v in data]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    plan = CascadePlan(
        base_name="t", keys=["k"], ts_col="ts", price_col="v", timeframes=["5m"]
    )
    tiers = build_cascade(plan, df)
    via_hub = {
        (r["k"], r["bucket_start"]): (r["open"], r["high"], r["low"], r["close"], r["cnt"])
        for r in tiers["t_5m_live"].collect()
    }
    direct = {
        (r["k"], r["bucket_start"]): (r["open"], r["high"], r["low"], r["close"], r["cnt"])
        for r in ohlc_bars(df, ["k"], "ts", "v", "5m").collect()
    }
    assert via_hub == direct


asof_events = st.lists(
    st.tuples(
        st.sampled_from([1, 2]),                   # key
        st.integers(min_value=0, max_value=50),    # ts (small range forces ties)
        st.booleans(),                             # side: right row?
    ),
    min_size=1,
    max_size=40,
)


@given(data=asof_events, direction=st.sampled_from(["backward", "forward"]),
       strict=st.booleans())
@settings(**SETTINGS)
def test_asof_matches_bruteforce(spark, data, direction, strict):
    from ksql_linq_spark.operators.asof import asof_join

    lefts = [(k, t) for (k, t, is_r) in data if not is_r]
    # dedup right rows per (key, ts) — the operator's documented contract
    rights = sorted({(k, t) for (k, t, is_r) in data if is_r})
    if not lefts or not rights:
        return
    l = spark.createDataFrame([(k, float(t)) for k, t in lefts], "k long, ts double")
    r = spark.createDataFrame(
        [(k, float(t), float(k * 1000 + t)) for k, t in rights],
        "k long, rts double, rv double",
    )
    got = {
        (row.k, row.ts, i): row.rv
        for i, row in enumerate(
            asof_join(l, r, ["k"], "ts", "rts", direction=direction, strict=strict)
            .orderBy("k", "ts")
            .collect()
        )
    }

    def model(k, t):
        if direction == "backward":
            cand = [(rt, k * 1000 + rt) for rk, rt in rights
                    if rk == k and (rt < t if strict else rt <= t)]
            return max(cand)[1] if cand else None
        cand = [(rt, k * 1000 + rt) for rk, rt in rights
                if rk == k and (rt > t if strict else rt >= t)]
        return min(cand)[1] if cand else None

    want = {
        (k, float(t), i): model(k, t)
        for i, (k, t) in enumerate(sorted(lefts, key=lambda x: (x[0], x[1])))
    }
    assert got == want


@given(
    data=st.lists(
        st.tuples(
            st.sampled_from(["A", "B"]),
            st.integers(min_value=0, max_value=100_000),  # seconds offset
            st.integers(min_value=-10_000_00, max_value=10_000_00),  # cents
        ),
        min_size=2,
        max_size=60,
    ),
    parts=st.sampled_from([1, 3, 7]),
)
@settings(**SETTINGS)
def test_trend_fit_partition_invariant_and_matches_model(spark, data, parts):
    """THE exact-moment claim: trend_fit output is bit-identical under
    any partitioning/row order, and equals the closed-form model."""
    from ksql_linq_spark.operators.stats import trend_fit

    rows = [
        (k, BASE + dt.timedelta(seconds=s), c / 100.0) for k, s, c in data
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    base = trend_fit(df, ["k"], "ts", "v", t0="2024-01-01", y_scale=2)
    shuffled = trend_fit(
        df.repartition(parts, "v").sortWithinPartitions(F.desc("v")),
        ["k"], "ts", "v", t0="2024-01-01", y_scale=2,
    )
    got = {r["k"]: (r["slope"], r["intercept"], r["r2"]) for r in base.collect()}
    got2 = {r["k"]: (r["slope"], r["intercept"], r["r2"]) for r in shuffled.collect()}
    assert got == got2  # bit-identical, not approximately

    # closed-form model over exact integer moments (cents / seconds)
    from collections import defaultdict

    pts = defaultdict(list)
    for k, s, c in data:
        pts[k].append((s, c))
    for k, p in pts.items():
        n = len(p)
        sx = sum(x for x, _ in p)
        sxx = sum(x * x for x, _ in p)
        sy = sum(y for _, y in p) / 100.0
        syy = sum(y * y for _, y in p) / 10000.0
        sxy = sum(x * y for x, y in p) / 100.0
        mx = float(n) * float(sxx) - float(sx) * float(sx)
        if mx <= 0:
            assert got[k][0] is None
            continue
        cxy = float(n) * float(sxy) - float(sx) * float(sy)
        assert got[k][0] == pytest.approx(cxy / mx, rel=1e-12, abs=1e-15)


@given(
    n_rows=st.integers(min_value=1, max_value=80),
    w_whole=st.integers(min_value=0, max_value=3),
    w_frac_buckets=st.integers(min_value=0, max_value=1000),
)
@settings(**SETTINGS)
def test_mixture_upsample_copy_counts(spark, n_rows, w_whole, w_frac_buckets):
    """Every row gets floor(w) or ceil(w) copies; totals equal the sum
    of per-row md5-bucket decisions (no RNG, no drift)."""
    from ksql_linq_spark.operators.dataset import mixture_upsample, split_bucket

    w = w_whole + w_frac_buckets / 1000.0
    df = spark.range(n_rows).select(
        F.col("id").alias("k"), F.lit("s").alias("src")
    )
    out = mixture_upsample(df, "k", "src", {"s": w})
    per = {r["k"]: r["cnt"] for r in
           out.groupBy("k").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    buckets = {r["k"]: r["b"] for r in
               df.select("k", split_bucket("k").alias("b")).collect()}
    import math as _m

    for k, b in buckets.items():
        want = w_whole + (1 if b < w_frac_buckets else 0)
        assert per.get(k, 0) == want
        if want:
            assert per[k] in (_m.floor(w), _m.ceil(w)) or w_frac_buckets in (0, 1000)


@given(
    vec=st.lists(
        st.floats(min_value=-1e4, max_value=1e4, allow_nan=False, width=32),
        min_size=1,
        max_size=32,
    )
)
@settings(**SETTINGS)
def test_int8_quantization_error_bound(spark, vec):
    """Reconstruction error of floor-quantization is < one code unit:
    |v_i - q_i * scale| < scale for every dimension (and exact 0 for
    zero vectors)."""
    from ksql_linq_spark.operators.similarity import quantize_embeddings_int8

    df = spark.createDataFrame([(1, vec)], "vec_id long, embedding array<float>")
    row = quantize_embeddings_int8(df).collect()[0]
    scale, q = row["scale"], row["q"]
    assert row["n_dims"] == len(vec)
    import math

    vd = [float(__import__("numpy").float32(x)) for x in vec]
    if max(abs(x) for x in vd) == 0:
        assert scale == 0 and all(c == 0 for c in q)
        return
    for x, c in zip(vd, q):
        assert -127 <= c <= 127
        # clamping only ever applies at the max element (|x| == 127*scale)
        assert abs(x - c * scale) < scale + 1e-12


# ---------------------------------------------------------------- serde/codec
# Pure-python round-trip properties (no Spark session needed): any record
# the schema admits must survive encode->decode, and any pixel/sample
# buffer must survive PNG/WAV round-trips bit-exactly.

_AVRO_SCHEMA = {
    "type": "record",
    "name": "P",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "name", "type": "string"},
        {"name": "score", "type": "double"},
        {"name": "flag", "type": "boolean"},
        {"name": "blob", "type": "bytes"},
        {"name": "opt", "type": ["null", "long"]},
    ],
}


@given(
    rec=st.fixed_dictionaries(
        {
            "id": st.integers(min_value=-(2**63), max_value=2**63 - 1),
            "name": st.text(max_size=40),
            "score": st.floats(allow_nan=False),
            "flag": st.booleans(),
            "blob": st.binary(max_size=64),
            "opt": st.none() | st.integers(min_value=-(2**62), max_value=2**62),
        }
    )
)
@settings(max_examples=50, deadline=None)
def test_avro_roundtrip_property(rec):
    from ksql_linq_spark.sources.avro_fallback import (
        decode_record,
        encode_record,
        frame_confluent,
        strip_confluent_header,
    )

    body = encode_record(_AVRO_SCHEMA, rec)
    assert decode_record(_AVRO_SCHEMA, body) == rec
    sid, stripped = strip_confluent_header(frame_confluent(body, 42))
    assert (sid, stripped) == (42, body)


@given(
    w=st.integers(min_value=1, max_value=24),
    h=st.integers(min_value=1, max_value=24),
    ch=st.sampled_from([1, 3, 4]),
    seed=st.integers(min_value=0, max_value=2**31),
)
@settings(max_examples=25, deadline=None)
def test_png_roundtrip_property(w, h, ch, seed):
    import random

    from ksql_linq_spark.operators.codecs import decode_png, encode_png

    rng = random.Random(seed)
    pix = bytes(rng.randrange(256) for _ in range(w * h * ch))
    out = decode_png(encode_png(pix, w, h, ch))
    assert (out["width"], out["height"], out["channels"]) == (w, h, ch)
    assert out["pixels"] == pix


@given(
    samples=st.lists(
        st.integers(min_value=-32768, max_value=32767), min_size=1, max_size=500
    ),
    rate=st.sampled_from([8000, 16000, 44100]),
)
@settings(max_examples=25, deadline=None)
def test_wav_roundtrip_property(samples, rate):
    from ksql_linq_spark.operators.codecs import decode_wav, encode_wav

    out = decode_wav(encode_wav(samples, rate))
    assert out["samples"] == samples
    assert out["sample_rate"] == rate
    assert out["n_samples"] == len(samples)


@given(
    texts=st.lists(
        st.lists(
            st.text(
                alphabet=st.sampled_from("abcdefgh XYZ"), min_size=1, max_size=20
            ),
            min_size=1,
            max_size=4,
        ),
        min_size=1,
        max_size=6,
    )
)
@settings(**SETTINGS)
def test_paragraph_dedup_identity_on_unique_corpus(spark, texts):
    """When every (long) paragraph is globally unique, paragraph_dedup
    must reassemble every document EXACTLY — the operator may only ever
    remove text, and only duplicated text."""
    from ksql_linq_spark.operators.dataset import paragraph_dedup

    # make paragraphs globally unique by tagging doc+pos
    docs = [
        (i, "\n\n".join(f"{i}_{j}_{p}" for j, p in enumerate(paras)))
        for i, paras in enumerate(texts)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r["text"] for r in paragraph_dedup(df, min_chars=1).collect()}
    assert out == dict(docs)


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**6),
            st.none() | st.floats(allow_nan=False, min_value=-1e6, max_value=1e6),
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(**SETTINGS)
def test_quality_gate_partitions_input(spark, rows):
    """good + bad is always a disjoint, lossless partition of the input,
    and a row is good IFF it violates no rule."""
    from ksql_linq_spark.operators.quality import expression, not_null, quality_gate

    data = [(i, v) for i, (k, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "id long, v double")
    rules = [not_null("v"), expression("v_nonneg", F.col("v") >= 0)]
    good, bad = quality_gate(df, rules)
    good_ids = {r["id"] for r in good.collect()}
    bad_ids = {r["id"] for r in bad.collect()}
    assert good_ids | bad_ids == {i for i, _ in data}
    assert not good_ids & bad_ids
    for i, v in data:
        expect_good = v is not None and v >= 0
        assert (i in good_ids) == expect_good


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["A", "B"]),
            st.integers(min_value=0, max_value=1000),   # unique-ified below
            st.floats(min_value=-1e5, max_value=1e5, allow_nan=False, width=32),
        ),
        min_size=1,
        max_size=40,
    ),
    split=st.integers(min_value=2, max_value=4),
)
@settings(**SETTINGS)
def test_incremental_merge_equals_direct_agg(spark, rows, split):
    """merge(agg(part_1), ..., agg(part_k)) == agg(all) for ANY
    partitioning and any merge tree (associativity), with min_by/max_by
    made deterministic by a unique order key."""
    from ksql_linq_spark.operators.incremental import (
        AggSpec,
        agg_delta,
        finalize,
        merge_partials,
    )

    data = [(k, i, float(v)) for i, (k, _, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "k string, oid long, v double")
    specs = [
        AggSpec("count", alias="n"),
        AggSpec("sum", "v", alias="s"),
        AggSpec("min", "v", alias="lo"),
        AggSpec("max", "v", alias="hi"),
        AggSpec("min_by", "v", ord_col="oid", alias="first_v"),
        AggSpec("max_by", "v", ord_col="oid", alias="last_v"),
    ]
    parts = [df.filter(F.col("oid") % split == i) for i in range(split)]
    deltas = [agg_delta(p, ["k"], specs) for p in parts]
    # two different merge trees
    flat = merge_partials(deltas, ["k"], specs)
    nested = merge_partials(
        [merge_partials(deltas[:2], ["k"], specs), *deltas[2:]], ["k"], specs
    )
    direct = agg_delta(df, ["k"], specs)

    def snap(d):
        return {
            r["k"]: (r["n"], r["s"], r["lo"], r["hi"], r["first_v"], r["last_v"])
            for r in finalize(d, specs).collect()
        }

    assert snap(flat) == snap(nested) == snap(direct)


@given(
    vals=st.lists(
        st.integers(min_value=0, max_value=50), min_size=1, max_size=80
    ),
    tiles=st.integers(min_value=1, max_value=8),
)
@settings(**SETTINGS)
def test_distributed_ntile_matches_sql_ntile(spark, vals, tiles):
    from ksql_linq_spark.operators.dataset import distributed_ntile

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id long, v long"
    )
    got = {
        r["id"]: r["tier"]
        for r in distributed_ntile(
            df, n_tiles=tiles, value_col="v", tiebreak_col="id",
            out_col="tier",
        ).collect()
    }
    # brute-force model of SQL ntile over the same total order
    order = sorted(range(len(vals)), key=lambda i: (vals[i], i))
    n = len(order)
    base, rem = divmod(n, tiles)
    want = {}
    pos = 0
    for t in range(1, tiles + 1):
        size = base + (1 if t <= rem else 0)
        for _ in range(size):
            if pos < n:
                want[order[pos]] = t
                pos += 1
    assert got == want


@given(
    ids=st.sets(st.integers(min_value=0, max_value=10_000), min_size=1, max_size=60),
    parts=st.integers(min_value=1, max_value=6),
)
@settings(**SETTINGS)
def test_global_order_index_is_rank_under_any_partitioning(spark, ids, parts):
    from ksql_linq_spark.operators.dataset import global_order_index

    df = spark.createDataFrame([(i,) for i in ids], "id long").repartition(
        min(parts, len(ids))
    )
    out = global_order_index(df, ["id"], partitions=parts)
    got = {r["id"]: r["idx"] for r in out.collect()}
    want = {v: i for i, v in enumerate(sorted(ids))}
    assert got == want


events_strat = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=5),            # user
        st.integers(min_value=0, max_value=100),          # ts offset
        st.sampled_from(["view", "click", "purchase"]),   # type
    ),
    min_size=1,
    max_size=40,
)


@given(data=events_strat)
@settings(**SETTINGS)
def test_funnel_times_matches_greedy_model(spark, data):
    from ksql_linq_spark.operators.funnel import funnel_times

    rows = [
        (u, BASE + dt.timedelta(seconds=s), t) for u, s, t in data
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    steps = ["view", "click", "purchase"]
    got = {
        r["user_id"]: (r["t1"], r["t2"], r["t3"])
        for r in funnel_times(df, steps).collect()
    }
    # greedy model
    per_user: dict[int, list] = {}
    for u, ts, t in rows:
        per_user.setdefault(u, []).append((ts, t))
    want = {}
    for u, evs in per_user.items():
        evs.sort()
        t_prev, times = None, []
        for step in steps:
            cand = [
                ts for ts, t in evs
                if t == step and (t_prev is None or ts > t_prev)
            ]
            cur = min(cand) if cand else None
            times.append(cur)
            if cur is None:
                t_prev = None if t_prev is None else dt.datetime.max
            else:
                t_prev = cur
        if times[0] is not None:
            want[u] = tuple(times)
    assert got == want


comp_events_strat = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),            # user
        st.integers(min_value=0, max_value=1),            # session
        st.integers(min_value=0, max_value=60),           # ts offset
        st.sampled_from(["view", "click", "purchase"]),   # type
    ),
    min_size=1,
    max_size=30,
)


@given(data=comp_events_strat)
@settings(**SETTINGS)
def test_funnel_times_composite_key_matches_greedy_model(spark, data):
    """The r5 window-chain rewrite with a COMPOSITE key (the
    session_funnel shape) must equal the greedy per-(user, session)
    model — including equal-timestamp ties, where the strict `>`
    predicate rejects same-instant step progression."""
    from ksql_linq_spark.operators.funnel import funnel_times

    rows = [
        (u, s, BASE + dt.timedelta(seconds=off), t) for u, s, off, t in data
    ]
    df = spark.createDataFrame(
        rows, "user_id long, sess long, ts timestamp, event_type string"
    )
    steps = ["view", "click", "purchase"]
    got = {
        (r["user_id"], r["sess"]): (r["t1"], r["t2"], r["t3"])
        for r in funnel_times(df, steps, user_col=["user_id", "sess"]).collect()
    }
    per_key: dict[tuple, list] = {}
    for u, s, ts, t in rows:
        per_key.setdefault((u, s), []).append((ts, t))
    want = {}
    for k, evs in per_key.items():
        evs.sort()
        t_prev, times = None, []
        for step in steps:
            cand = [
                ts for ts, t in evs
                if t == step and (t_prev is None or ts > t_prev)
            ]
            cur = min(cand) if cand else None
            times.append(cur)
            if cur is None:
                t_prev = None if t_prev is None else dt.datetime.max
            else:
                t_prev = cur
        if times[0] is not None:
            want[k] = tuple(times)
    assert got == want


@given(
    present=st.lists(st.integers(min_value=0, max_value=20), min_size=2, max_size=12),
    vals=st.lists(
        st.floats(min_value=-1e4, max_value=1e4, allow_nan=False, width=32),
        min_size=12,
        max_size=12,
    ),
)
@settings(**SETTINGS)
def test_interpolation_bounded_by_neighbors(spark, present, vals):
    """Interpolated fillers always lie within [min(prev, next),
    max(prev, next)] of their surrounding observations, observed rows
    pass through untouched, and the spine is gap-free."""
    from ksql_linq_spark.operators.gapfill import interpolate_linear

    buckets = sorted(set(present))
    rows = [
        ("k", BASE + dt.timedelta(minutes=15 * b), float(vals[i % len(vals)]))
        for i, b in enumerate(buckets)
    ]
    df = spark.createDataFrame(rows, "k string, b timestamp, v double")
    out = sorted(
        interpolate_linear(df, ["k"], "b", "v", "15m").collect(),
        key=lambda r: r.b,
    )
    lo, hi = min(buckets), max(buckets)
    assert len(out) == hi - lo + 1  # complete spine
    obs = {r[1]: r[2] for r in rows}
    seq = [(r.b, r.v, r.is_synthetic) for r in out]
    for i, (b, v, synth) in enumerate(seq):
        mins = 15 * lo + 15 * i
        t = BASE + dt.timedelta(minutes=mins)
        assert b == t
        if not synth:
            assert v == obs[t]
        else:
            prev_obs = max(x for x in obs if x < t)
            next_obs = min(x for x in obs if x > t)
            lo_v, hi_v = sorted((obs[prev_obs], obs[next_obs]))
            assert lo_v - 1e-6 <= v <= hi_v + 1e-6


@given(
    n=st.integers(min_value=1, max_value=30),
    k=st.integers(min_value=1, max_value=12),
    w_zero=st.integers(min_value=0, max_value=5),
)
@settings(**SETTINGS)
def test_weighted_sample_size_contract(spark, n, k, w_zero):
    """Selection size = min(k, #positive-weight rows); zero/negative
    weights never selected; output is a subset of the input."""
    from ksql_linq_spark.operators.dataset import weighted_sample

    rows = [(i, "g", float(1 + i)) for i in range(n)] + [
        (1000 + j, "g", 0.0) for j in range(w_zero)
    ]
    df = spark.createDataFrame(rows, "doc_id long, g string, w double")
    got = [r.doc_id for r in weighted_sample(df, "w", k, group_cols=["g"]).collect()]
    assert len(got) == min(k, n)
    assert all(i < 1000 for i in got)
    assert len(set(got)) == len(got)


@given(
    xs=st.lists(st.integers(min_value=0, max_value=255), min_size=1, max_size=20),
    ys=st.lists(st.integers(min_value=0, max_value=255), min_size=1, max_size=20),
)
@settings(**SETTINGS)
def test_zorder_interleave_is_bijective(spark, xs, ys):
    """Morton interleave round-trips: de-interleaving the BIGINT key
    recovers both coordinates exactly (no bit collisions/overlap)."""
    from ksql_linq_spark.operators.layout import zorder_value

    pairs = list(zip(xs, ys))
    df = spark.createDataFrame(
        [(x, y) for x, y in pairs], "x long, y long"
    ).select("x", "y", zorder_value(["x", "y"], bits=8).alias("z"))
    for r in df.collect():
        x = sum(((r.z >> (2 * i)) & 1) << i for i in range(8))
        y = sum(((r.z >> (2 * i + 1)) & 1) << i for i in range(8))
        assert (x, y) == (r.x, r.y)


@given(
    texts=st.lists(
        st.text(alphabet="abcd ", min_size=0, max_size=40),
        min_size=1,
        max_size=8,
    )
)
@settings(**SETTINGS)
def test_remove_dup_ngrams_identity_without_cross_doc_dups(spark, texts):
    """A corpus whose documents share no full n-gram passes through
    remove_dup_ngrams with every token kept (n_kept == n_total)."""
    from ksql_linq_spark.operators.dataset import remove_dup_ngrams
    from ksql_linq_spark.operators.text import normalize_text, tokens

    # make docs pairwise n-gram-disjoint by prefixing a unique word to
    # every token ("d0w1 d0w2 ..."), so no 3-gram can repeat across docs
    rows = [
        (i, " ".join(f"d{i}w{j}x{tok}" for j, tok in enumerate(t.split())))
        for i, t in enumerate(texts)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = remove_dup_ngrams(df, n=3, min_docs=2).collect()
    for r in out:
        assert r.n_kept == r.n_total
