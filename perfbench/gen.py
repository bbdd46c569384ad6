"""Seeded input generators.  Everything the engine reads in a benchmark
run is written here from ``--seed``; the same seed gives byte-identical
inputs.

- :func:`write_tables` writes the ten star-schema tables the registered
  batch queries read (same names, column types and value domains as the
  engine's test tables: TPC-H-like keys, 2-dp money, µs timestamps
  without a zone, a 31-word text vocabulary with ~5% near-duplicate
  documents, unit-norm 64-d embeddings).
- :func:`write_tick_backlog` writes the streaming backlog for the cascade:
  Zipf-skewed symbols in 4 markets, event time over 10 s sessions split
  by 2 s closures.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
ADJ = "blue cold hot large new old red small".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

US_PER_DAY = 86_400 * 1_000_000


def ts_us(day0: str, offsets_us: np.ndarray) -> pa.Array:
    """Zone-less µs timestamps at ``offsets_us`` past midnight of ``day0``."""
    base = np.datetime64(day0, "us").astype("int64")
    return pa.array(base + offsets_us.astype("int64"), type=pa.timestamp("us"))


def money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """``n`` uniform 2-dp amounts in [lo, hi]."""
    cents = rng.integers(int(lo * 100), int(hi * 100) + 1, n)
    return cents / 100.0


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write the ten batch tables at scale ``sf`` (lineitem = 600k x sf)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = max(int(150_000 * sf), 50), max(int(10_000 * sf), 20)
    n_part, n_ord = max(int(200_000 * sf), 64), max(int(1_500_000 * sf), 100)
    n_line, n_ev = 4 * n_ord, max(int(1_000_000 * sf), 500)
    n_doc, n_vec = max(int(50_000 * sf), 200), max(int(20_000 * sf), 200)
    n_users = max(int(15_000 * sf), 20)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PTYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": 900.0 + (pk % 1000) / 10.0,
    })
    # order dates 1995-01-01 .. 2001-08-01; ship dates 1995-01-02 .. 2001-11-04
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": money(rng, 1000.0, 499999.99, n_ord),
        "o_orderdate": ts_us("1995-01-01", rng.integers(0, 2404, n_ord) * US_PER_DAY),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 104999.99, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": ts_us("1995-01-02", rng.integers(0, 2499, n_line) * US_PER_DAY),
    })
    # events: sorted µs timestamps over 30 days of January 2024
    ev_ts = np.sort(rng.integers(0, 30 * US_PER_DAY, n_ev))
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts_us("2024-01-01", ev_ts),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" * int(rng.integers(1, 3)))
        else:
            texts.append(" ".join(WORDS[j] for j in
                                  rng.integers(0, len(WORDS), int(rng.integers(10, 100)))))
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in
                 rng.choice(5, n_doc, p=[0.44, 0.14, 0.14, 0.14, 0.14])],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_vec)
    centroids = rng.normal(0.0, 1.0, (10, 64))
    vecs = rng.normal(0.0, 1.0, (n_vec, 64)) + 0.15 * centroids[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel(), pa.float32()), 64).cast(pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


# -- streaming tick backlog ---------------------------------------------

SESSION_S, CLOSURE_S = 10, 2
MARKETS = 4
TICK_DAY0 = "2024-01-02"


def session_schedule(n_sessions: int) -> list[tuple[str, int, int]]:
    """(market, open_offset_s, close_offset_s) from TICK_DAY0: back-to-back
    10 s sessions separated by 2 s closures, identical in every market."""
    period = SESSION_S + CLOSURE_S
    return [(f"m{m}", i * period, i * period + SESSION_S)
            for m in range(MARKETS) for i in range(n_sessions)]


def tick_table(rng: np.random.Generator, n: int, n_symbols: int,
               t0_s: float, t1_s: float) -> pa.Table:
    """``n`` ticks with event time uniform in [t0_s, t1_s) past
    TICK_DAY0; symbols Zipf(1.2)-skewed over ``n_symbols``; each symbol
    trades in one market."""
    sym = (rng.zipf(1.2, n) - 1) % n_symbols
    off_us = rng.integers(int(t0_s * 1e6), int(t1_s * 1e6), n)
    return pa.table({
        "ts": ts_us(TICK_DAY0, off_us),
        "market": [f"m{s % MARKETS}" for s in sym],
        "symbol": [f"s{s:05d}" for s in sym],
        "price": money(rng, 10.0, 500.0, n),
    })


def write_tick_backlog(out_dir: str, seed: int, n_files: int,
                       ticks_per_file: int, seconds_per_file: float,
                       n_symbols: int) -> int:
    """Write ``n_files`` parquet files whose event time advances
    ``seconds_per_file`` per file (in-order across files, shuffled within
    one).  Returns the total tick count."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    for i in range(n_files):
        t = tick_table(rng, ticks_per_file, n_symbols,
                       i * seconds_per_file, (i + 1) * seconds_per_file)
        pq.write_table(t, os.path.join(out_dir, f"part-{i:05d}.parquet"))
    return n_files * ticks_per_file
