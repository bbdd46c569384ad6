"""Oracle-free upward-scale invariant harness (VERDICT r7 item 1).

The 50x sweep proved the DuckDB oracle — not the engine — is the scale
ceiling (one oracle leg cost 751 s single-threaded while Spark's leg
was cheap).  This harness validates the engine at 100x and beyond with
NO oracle: every check derives its expected answer from the engine
itself plus the algebra of `make_scaled_sf.py`'s construction (K
replicas of the base data, every key shifted by replica*offset,
replica 0 bit-identical to the source, measures copied verbatim).

Invariant families:

R. **replica-0 projection** — for queries whose output rows are
   REPLICA-LOCAL (each row derives only from one replica's rows: row
   projections, per-replicated-key aggregates/windows, dedup winners
   with min-id tiebreaks), the K-times result restricted to replica-0
   keys (key < domain offset) must be RENDER-IDENTICAL to the base
   result.  This is the strongest generic check: bit-exact, no
   tolerance, exercises the full plan at scale.
L. **fixed-dim K-linearity** — for queries grouped by non-scaling
   dimensions, counts scale exactly K-fold, min/max and label columns
   are bit-equal, and double columns derived from exact carriers match
   within 1e-9 relative (floor-to-money quantizers legally absorb
   sub-cent mass, and IEEE division of K-scaled operands may differ in
   the last ulp — both documented in SCALING.md).
C. **contract booleans** — the approx operators (HLL, GK, CM) register
   their own error-bound booleans; at scale every one must hold.
D. **decimal-sum linearity** — engine-internal: exact DECIMAL sums of
   measure columns at Kx equal K * (base sum) EXACTLY (decimal algebra
   has no rounding), globally and per fixed-dim group.  Validates the
   shuffle/partial-agg path bit-exactly at 60M rows.
W. **cascade composition** — bars rolled up FROM THE HUB equal bars
   aggregated directly from raw rows (the W2 contract) on the full
   scaled event stream.
E. **dedup replication algebra** — exact replication makes dedup
   outputs derivable: the distinct-content count is scale-invariant,
   every content group is exactly K-fold, keep-best retains precisely
   the base winners, and every replica family lands in ONE cluster.

Metamorphic families (r9, VERDICT r8 item 2) — laws that need no second
engine, covering the previously ORACLE-BOUND families (TPC-H join-shape
value checks, scalar-function semantics, tie-sensitive
window/percentile queries):

M. **partition-union additivity** — slice the scaled fact tables
   (orders+lineitem, consistently by l_orderkey%3 so o⋈l pairs stay
   within a slice; dims full in every slice) into disjoint thirds; a
   query whose output is a per-group SUM over fact rows must compose:
   groupwise-summing the three slice results equals the full result
   (counts exactly; DOUBLE columns from exact DECIMAL carriers within
   1e-9 — each slice result is one decimal→double cast, so the
   3-term recomposition differs from the full cast by ulps only).
F. **filter-complement conservation** — count(p) + count(NOT p)
   [+ count(p IS NULL) for a null-bearing predicate] == count(*), and
   the DECIMAL sum over p plus over NOT p equals the total EXACTLY
   (decimal algebra), on the full scaled lineitem.
X. **scalar-function laws** — algebraic identities of the engine's
   function registry evaluated over every row of the scaled tables
   (one aggregation pass per table counting violations): string
   roundtrips (case/trim/split-join/replace/left+substring
   recompose), IfNull∘NullIf identity, math identities
   (|x|·sign(x)=x, floor/ceil sandwich, exp∘ln, √x², log-base
   change, sin²+cos²), date inverses (±7 days, 24h=1day,
   format→parse roundtrip, make_timestamp recompose), cast
   roundtrips, JSON/URL construct→extract roundtrips, crypto digest
   lengths, geo identity/symmetry.
P. **LIMIT-prefix consistency** — under the engine's orderBy+take
   path with a total order (unique tiebreak), take(10) is a prefix of
   take(100) is a prefix of take(1000), and the sort key is monotone.
V. **plan-perturbation invariance** — run the tie-sensitive and
   argmin/ratio queries twice on the scaled data under materially
   different physical plans (shuffle.partitions 32→7, scan splits
   128m→16m, AQE coalesce off) and require the full output multiset
   bit-identical (order-insensitive distributed checksum: sum of
   per-row sha2-derived 60-bit ints + count — driver fetches 1 row,
   so per-row outputs at 100x stay bounded).  Every registered query
   is engineered for partition-order-independent values (decimal
   carriers, unique tiebreaks) because the driver hash already
   demands cross-engine determinism — so any divergence here is a
   real tie-sensitivity bug.

Usage:
  python tools/invariant_check.py [scaled_dir] [base_dir] [K] [name ...]
  (defaults: /tmp/sf10 /root/testdata/sf0.1 100; names filter checks;
   family names also work: metamorphic complement scalar prefix perturb)

Writes INVARIANTS_last.json; exit 1 on any failure.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from ksql_linq_spark.session import build_session, release_lineage_cuts
from make_scaled_sf import _duckdb_mem_gb

# domain -> (owning table, key column); must mirror tools/make_scaled_sf.py
DOMAINS = {
    "C": ("customer", "c_custkey"),
    "S": ("supplier", "s_suppkey"),
    "P": ("part", "p_partkey"),
    "O": ("orders", "o_orderkey"),
    "E": ("events", "event_id"),
    "U": ("events", "user_id"),
    "D": ("documents", "doc_id"),
    "V": ("embeddings", "vec_id"),
}

# ---------------------------------------------------------------------------
# family R: replica-0 projection — query -> (output key column, domain)
# Each entry was classified by reading the query: its output rows must
# derive only from rows of ONE replica (or from corpus-level statistics
# that are invariant under exact replication, e.g. unigram relative
# frequencies).  A failure here is either an engine scale bug or a
# misclassification — investigate before touching the list.
# ---------------------------------------------------------------------------
REPLICA0 = {
    "filter_predicates": ("o_orderkey", "O"),
    "scalar_string_functions": ("p_partkey", "P"),
    "scalar_math_date_functions": ("o_orderkey", "O"),
    "conditional_null_functions": ("c_custkey", "C"),
    "text_gopher_rules": ("doc_id", "D"),
    "text_redact_pii": ("doc_id", "D"),
    "text_quality_stats": ("doc_id", "D"),
    "text_language_id": ("doc_id", "D"),
    "text_fingerprint": ("doc_id", "D"),
    "text_token_counts": ("doc_id", "D"),
    "text_repetition_pii": ("doc_id", "D"),
    "text_unigram_logprob": ("doc_id", "D"),  # LM probs are count ratios
    "events_scd2_history": ("user_id", "U"),
    "events_point_in_time_features": ("event_id", "E"),
    "layout_zorder_key": ("event_id", "E"),
    "dataset_hash_split": ("doc_id", "D"),
    "dataset_doc_chunking": ("doc_id", "D"),
    # dedup winners are scale-INVARIANT: K copies collapse to the one
    # base winner, so the full Kx output equals the base output ("inv")
    "dedup_exact": ("doc_id", "D", "inv"),
    "dedup_keep_best_quality": ("doc_id", "D", "inv"),
    "dedup_minhash_clusters": ("doc_id", "D"),
    "topk_per_group": ("o_custkey", "C"),
    "asof_join_prior_purchase": ("event_id", "E"),
    "asof_join_next_error": ("event_id", "E"),
    "agg_having": ("o_custkey", "C"),
    "text_char_entropy": ("doc_id", "D"),
    # NOT replica-local (calibrated at 10x, render-DIVERGENT by
    # construction, not engine bugs — documented so nobody re-adds):
    #   text_dup_ngram_fraction — dup_frac counts 3-grams shared with
    #     >=2 DISTINCT docs; replicas make every gram cross-doc-shared.
    #   text_tfidf_top_terms — the output carries raw doc_freq, which
    #     legitimately scales K-fold.
    "unpivot_doc_metrics": ("doc_id", "D"),
    "text_hashed_features": ("doc_id", "D"),
    "text_bpe_tokenize": ("doc_id", "D"),  # merge ranks are count ratios
    "dedup_simhash": ("doc_id", "D"),
    "embedding_quantize_int8": ("vec_id", "V"),
    "embedding_rp_reduce": ("vec_id", "V"),
    "embedding_standardize": ("vec_id", "V"),  # fixed-point exact moments
}

# ---------------------------------------------------------------------------
# family L: fixed-dim K-linearity — query -> (sort keys, {col: mode})
# modes: "k"  = exactly K * base (integer counts),
#        "eq" = bit-equal (labels, min/max over replicated values),
#        "k~" = K * base within rtol (double built from exact carriers),
#        "eq~"= equal within rtol (ratios/averages of K-scaled operands)
# ---------------------------------------------------------------------------
RTOL = 1e-9
KLINEAR = {
    "count_star": ([], {"n": "k"}),
    "agg_pricing_summary": (
        ["l_returnflag", "l_linestatus"],
        {"count_order": "k", "sum_qty": "k~", "sum_base_price": "k~",
         "sum_disc_price": "k~", "sum_charge": "k~",
         "avg_qty": "eq~", "avg_disc": "eq~"},
    ),
    "agg_priority_linestatus": (
        ["l_linestatus"], {"high_line_count": "k", "low_line_count": "k"},
    ),
    "join_inner_agg": (
        ["c_mktsegment"], {"orders": "k", "revenue": "k~"},
    ),
    "events_funnel_conversion": (
        ["step_no"], {"step": "eq", "n_users": "k", "conversion": "eq~"},
    ),
    "agg_customer_order_distribution": (
        ["c_count"], {"custdist": "k"},
    ),
    "audit_referential_integrity": (["fk"], {"orphans": "k"}),
    "events_session_funnel": (
        ["step_no"], {"step": "eq", "n_sessions": "k", "conversion": "eq~"},
    ),
    "window_count_distinct_users": (
        ["event_type", "window_start"], {"u": "k", "n": "k"},
    ),
    "dataset_quality_gate": (
        ["rule"], {"n_violations": "k", "n_clean": "k", "n_total": "k"},
    ),
    "text_langid_confusion": (
        ["labeled_lang", "detected_lang"], {"n": "k", "frac": "eq~"},
    ),
    # med/mad over a K-replicated multiset equal the base (tied-value
    # quantiles); outlier counts scale
    "events_mad_outliers": (
        ["event_type"],
        {"med": "eq", "mad": "eq", "n_outliers": "k", "n": "k"},
    ),
    # global trailing window: per-event output (restrict to replica-0
    # events), but each event's 1 h frame sees all K replicas — counts
    # scale K-fold, the decimal frame sum scales K-fold (cast noise
    # only), the average is replica-invariant
    "trailing_1h_window": (
        ["event_id"],
        {"ts": "eq", "value": "eq", "sum_1h": "k~", "n_1h": "k",
         "avg_1h": "eq~"},
        ("event_id", "E"),
    ),
}

# ---------------------------------------------------------------------------
# family M: partition-union additivity — query -> (group keys, {col: mode})
# modes: "sum" = integer-exact additive, "sum~" = double within RTOL.
# Eligible queries: output value columns are SUMs (or counts, incl.
# count(DISTINCT o_orderkey) — orderkey determines the slice, so
# distinct sets are slice-disjoint) over orders/lineitem fact rows,
# group keys are dim attributes or fact columns; NOT eligible: ratios
# (join_promo_revenue, join_national_market_share), argmin/max shapes
# (join_min_cost_supplier, join_top_supplier_revenue), correlated
# per-part averages (agg_small_quantity_revenue), LIMIT outputs
# (join_shipping_priority, join_returned_items) — those get family V.
# ---------------------------------------------------------------------------
ADDITIVE = {
    "join_nation_volume_shipping": (
        ["supp_nation", "cust_nation", "l_year"], {"revenue": "sum~"}),
    "join_product_profit": (["nation", "o_year"], {"profit": "sum~"}),
    "join_local_supplier_volume": (["n_name"], {"revenue": "sum~"}),
    "join_binational_volume": (
        ["supp_nation", "cust_nation", "l_year"], {"volume": "sum~"}),
    "filter_disjunctive_revenue": ([], {"revenue": "sum~", "n_lines": "sum"}),
    "filter_revenue_increase": ([], {"revenue": "sum~", "n_rows": "sum"}),
    "mart_monthly_region_revenue": (
        ["region", "month"], {"revenue": "sum~", "orders": "sum"}),
}
N_SLICES = 3

# family V: plan-perturbation invariance — queries whose VALUES are
# tie-sensitive (argmin/argmax, window ranks, percentiles, min_by/
# max_by) or oracle-bound join shapes; two physical plans must agree
PERTURB = [
    "join_min_cost_supplier",
    "join_national_market_share",
    "join_top_supplier_revenue",
    "join_shipping_priority",
    "join_returned_items",
    "join_promo_revenue",
    "agg_small_quantity_revenue",
    "agg_percentiles",
    "agg_percentiles_disc",
    "events_weekly_value_bands",
    "corpus_weighted_median_length",
    "corpus_weighted_p90_length",
    "window_ranking",
    "moving_average_window",
    "window_analytics_extended",
    "ohlc_1m_bars",
    "agg_minmax_earliest_latest",
    "session_window_counts",
]

# family C: approx-operator error-bound contracts — query -> bound column
CONTRACTS = {
    "approx_count_distinct": "within_5pct",
    "agg_percentiles_approx": "approx_in_rank_window",
    "approx_cm_frequency": "never_undercounts",
    "approx_hll_mergeable_rollup": "err_ok",
    "decontamination_overlap_hll": "train_docs_ok",
    "events_audience_overlap_hll": "est_ok",
}


def canon(pdf: pd.DataFrame) -> pd.DataFrame:
    """check.py's driver-calibrated canonicalization (columns sorted by
    name, rows by all columns, positional index)."""
    pdf = pdf[sorted(pdf.columns)]
    if len(pdf.columns):
        pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort")
    return pdf.reset_index(drop=True)


def render(pdf: pd.DataFrame) -> str:
    return pdf.to_csv(index=False)


def make_slices(scaled_dir: str, n: int = N_SLICES) -> list[str]:
    """Disjoint fact slices of the scaled dir for family M.

    orders and lineitem are sliced CONSISTENTLY on orderkey % n (an
    order's lineitems land in its slice, so o⋈l join pairs never cross
    slices); every other table is a symlink to the full file (dims must
    be complete in every slice).  Idempotent via a marker file.
    """
    import duckdb

    root = scaled_dir.rstrip("/") + "_slices"
    dirs = [os.path.join(root, f"s{i}") for i in range(n)]
    marker = os.path.join(root, f"SLICES_OK_{n}")
    if os.path.exists(marker):
        return dirs
    tables = [f[:-8] for f in os.listdir(scaled_dir) if f.endswith(".parquet")]
    slice_key = {"orders": "o_orderkey", "lineitem": "l_orderkey"}
    con = duckdb.connect()
    # same streaming discipline as make_scaled_sf.py: at 1000x an
    # order-preserving COPY of the 600M-row lineitem slice buffers
    # tens of GB; slice row order is irrelevant (family M compares
    # groupwise sums)
    con.execute("SET preserve_insertion_order=false")
    con.execute(f"SET memory_limit='{_duckdb_mem_gb()}GB'")
    for i, d in enumerate(dirs):
        os.makedirs(d, exist_ok=True)
        for t in tables:
            src = os.path.join(scaled_dir, f"{t}.parquet")
            dst = os.path.join(d, f"{t}.parquet")
            if t in slice_key:
                con.execute(
                    f"COPY (SELECT * FROM read_parquet('{src}') "
                    f"WHERE {slice_key[t]} % {n} = {i}) "
                    f"TO '{dst}' (FORMAT PARQUET)"
                )
            elif not os.path.lexists(dst):
                os.symlink(src, dst)
    con.close()
    with open(marker, "w") as f:
        f.write("ok")
    return dirs


def offsets_from(base_dir: str) -> dict[str, int]:
    """Replica offsets, same formula as make_scaled_sf.py: next power of
    10 above the BASE key domain's max."""
    out = {}
    for dom, (table, col) in DOMAINS.items():
        t = pq.read_table(os.path.join(base_dir, f"{table}.parquet"), columns=[col])
        out[dom] = 10 ** math.ceil(math.log10(int(t[col].to_numpy().max()) + 2))
    return out


class Harness:
    def __init__(self, spark, scaled_dir, base_dir, k):
        self.spark = spark
        self.scaled = scaled_dir
        self.base = base_dir
        self.k = k
        self.offsets = offsets_from(base_dir)
        self.qs = entry_mod.queries()
        self.results: list[dict] = []

    def record(self, family: str, name: str, ok: bool, detail: str, secs: float):
        self.results.append(
            {"family": family, "name": name, "ok": bool(ok),
             "detail": detail, "secs": round(secs, 1)}
        )
        print(f"{'PASS' if ok else 'FAIL'}  [{family}] {name}: {detail} ({secs:.1f}s)")
        # Broadcast cleanup is driver-GC driven (ContextCleaner acts on
        # weak references): a single 117-check session accumulated
        # enough unreferenced broadcasts that check #112's broadcast
        # build hit "Not enough memory to build and broadcast" while
        # the same check passes fresh (observed r9).  Nudge the JVM GC
        # periodically so session length cannot manufacture failures.
        if len(self.results) % 10 == 0:
            try:
                self.spark.sparkContext._jvm.System.gc()
            except Exception:  # noqa: BLE001 — best-effort
                pass

    # ---------------- family R ----------------
    def replica0(self, name: str):
        spec = REPLICA0[name]
        key, dom = spec[0], spec[1]
        expect_k = len(spec) < 3 or spec[2] != "inv"
        t0 = time.time()
        try:
            base = self.qs[name](self.spark, self.base).toPandas()
            release_lineage_cuts(self.spark)
            cut = self.offsets[dom]
            sdf = self.qs[name](self.spark, self.scaled)
            scaled = sdf.where(F.col(key) < cut).toPandas()
            # Catalyst pushes the replica-0 key filter below row-local
            # projections and through per-key aggregates (it IS the
            # grouping key), pruning the heavy compute — a correct and
            # welcome optimization, but it would let the slice compare
            # validate only pushdown.  The UNfiltered count leg forces
            # the full Kx plan to execute: every replica-local query
            # must yield exactly K * base rows.  release_lineage_cuts
            # must wait until BOTH actions ran: releasing between them
            # drops the session.cut blocks the second action
            # still references (the loud CHECKPOINT_RDD_BLOCK_ID_NOT_
            # FOUND failure pinned in tests/test_plans.py).
            n_full = sdf.count()
            release_lineage_cuts(self.spark)
        except Exception as e:  # noqa: BLE001 — harness must finish
            self.record("replica0", name, False, f"error: {e}"[:300], time.time() - t0)
            return
        want_full = self.k * len(base) if expect_k else len(base)
        if len(base) != len(scaled) or n_full != want_full:
            self.record("replica0", name, False,
                        f"rowcount base={len(base)} scaled|r0={len(scaled)} "
                        f"scaled_full={n_full} (expect {want_full})",
                        time.time() - t0)
            return
        same = render(canon(base)) == render(canon(scaled))
        self.record("replica0", name, same,
                    f"{len(base)} rows render-{'identical' if same else 'DIVERGENT'}; "
                    f"full output {n_full} == "
                    f"{'%dx' % self.k if expect_k else 'base (winners)'}",
                    time.time() - t0)

    # ---------------- family L ----------------
    def klinear(self, name: str):
        spec = KLINEAR[name]
        sort_keys, cols = spec[0], spec[1]
        restrict = spec[2] if len(spec) > 2 else None
        t0 = time.time()
        try:
            base = self.qs[name](self.spark, self.base).toPandas()
            release_lineage_cuts(self.spark)
            sdf = self.qs[name](self.spark, self.scaled)
            if restrict:  # per-row outputs: compare the replica-0 slice
                key, dom = restrict
                sdf = sdf.where(F.col(key) < self.offsets[dom])
            scaled = sdf.toPandas()
            release_lineage_cuts(self.spark)
        except Exception as e:  # noqa: BLE001
            self.record("klinear", name, False, f"error: {e}"[:300], time.time() - t0)
            return
        if len(base) != len(scaled):
            self.record("klinear", name, False,
                        f"group count base={len(base)} scaled={len(scaled)}",
                        time.time() - t0)
            return
        if sort_keys:
            base = base.sort_values(sort_keys, kind="mergesort").reset_index(drop=True)
            scaled = scaled.sort_values(sort_keys, kind="mergesort").reset_index(drop=True)
            if not base[sort_keys].equals(scaled[sort_keys]):
                self.record("klinear", name, False, "group keys differ", time.time() - t0)
                return
        bad = []
        for col, mode in cols.items():
            b, s = base[col], scaled[col]
            if mode == "k":
                ok = (s == b * self.k).all()
            elif mode == "eq":
                ok = s.equals(b) or (s == b).all()
            elif mode == "k~":
                ok = ((s - b * self.k).abs()
                      <= RTOL * (b.abs() * self.k).clip(lower=1.0)).all()
            else:  # eq~
                ok = ((s - b).abs() <= RTOL * b.abs().clip(lower=1e-12)).all()
            if not ok:
                bad.append(col)
        self.record("klinear", name, not bad,
                    ("all column laws hold" if not bad else f"violated: {bad}"),
                    time.time() - t0)

    # ---------------- family C ----------------
    def contract(self, name: str):
        col = CONTRACTS[name]
        t0 = time.time()
        try:
            pdf = self.qs[name](self.spark, self.scaled).toPandas()
            release_lineage_cuts(self.spark)
        except Exception as e:  # noqa: BLE001
            self.record("contract", name, False, f"error: {e}"[:300], time.time() - t0)
            return
        ok = bool(pdf[col].all()) and len(pdf) > 0
        self.record("contract", name, ok,
                    f"{col} true on {int(pdf[col].sum())}/{len(pdf)} rows",
                    time.time() - t0)

    # ---------------- family D ----------------
    def decimal_linearity(self):
        t0 = time.time()
        dec = F.sum(F.col("l_extendedprice").cast("decimal(38,2)"))
        lb = self.spark.read.parquet(os.path.join(self.base, "lineitem.parquet"))
        ls = self.spark.read.parquet(os.path.join(self.scaled, "lineitem.parquet"))
        gb = {r["l_returnflag"]: r["s"]
              for r in lb.groupBy("l_returnflag").agg(dec.alias("s")).collect()}
        gs = {r["l_returnflag"]: r["s"]
              for r in ls.groupBy("l_returnflag").agg(dec.alias("s")).collect()}
        ok = set(gb) == set(gs) and all(gs[g] == gb[g] * self.k for g in gb)
        tb = lb.agg(dec.alias("s")).collect()[0]["s"]
        ts = ls.agg(dec.alias("s")).collect()[0]["s"]
        ok = ok and ts == tb * self.k
        self.record("decimal", "lineitem_extendedprice_sums", ok,
                    f"global {ts} == {self.k} * {tb}: {ts == tb * self.k}; "
                    f"{len(gb)} returnflag groups exact",
                    time.time() - t0)

    # ---------------- family W ----------------
    def cascade_composition(self):
        from ksql_linq_spark.operators.cascade import (
            CascadePlan,
            build_hub,
            rollup_tier,
        )
        from ksql_linq_spark.operators.ohlc import ohlc_bars

        t0 = time.time()
        # events.value is exact 2dp by construction — sum it as DECIMAL
        # so composition is associative and the check is bit-exact.
        # (A raw DOUBLE sum composes only to 1 ulp — IEEE addition is
        # order-dependent, which is exactly why the engine's money/avg
        # cascades carry decimal partials; calibrated at 10x: only
        # sum_v diverged, every OHLC column was bit-identical.)
        ev = self.spark.read.parquet(
            os.path.join(self.scaled, "events.parquet")
        ).withColumn("value", F.col("value").cast("decimal(18,2)"))
        plan = CascadePlan(
            base_name="ev", keys=["event_type"], ts_col="ts",
            price_col="value", timeframes=["5m"],
        )
        via_hub = rollup_tier(plan, build_hub(plan, ev), "5m").select(
            "event_type", "bucket_start", "open", "high", "low", "close",
            "sum_v", "cnt",
        )
        direct = ohlc_bars(ev, ["event_type"], "ts", "value", "5m").select(
            "event_type", "bucket_start", "open", "high", "low", "close",
            "sum_v", "cnt",
        )
        a, b = canon(via_hub.toPandas()), canon(direct.toPandas())
        same = render(a) == render(b)
        self.record("cascade", "hub_composition_5m", same,
                    f"{len(a)} bars from-hub vs from-raw "
                    f"{'identical' if same else 'DIVERGENT'}",
                    time.time() - t0)

    # ---------------- family A ----------------
    def ann_replication(self):
        """Brute-force top-k at Kx is exactly derivable: every base
        vector has K verbatim copies with bit-identical cosines, and
        the (cos desc, id asc) tiebreak ranks a base vector's replicas
        by replica index (ids shift by r*offset).  For k <= K the
        scaled top-k must be the first k replicas of the base top-1:
        ids = base_nn1 + r*offset, all at the base cosine."""
        from ksql_linq_spark.operators.similarity import brute_force_topk

        t0 = time.time()
        try:
            eb = self.spark.read.parquet(
                os.path.join(self.base, "embeddings.parquet"))
            es = self.spark.read.parquet(
                os.path.join(self.scaled, "embeddings.parquet"))
            probe = [float((i * 37 % 19) - 9) / 10.0 for i in range(64)]
            base_top = brute_force_topk(eb, probe, k=1).collect()[0]
            k = min(10, self.k)
            scaled_top = brute_force_topk(es, probe, k=k).collect()
            off = self.offsets["V"]
            want_ids = [base_top["vec_id"] + r * off for r in range(k)]
            got_ids = [r["vec_id"] for r in scaled_top]
            cos_ok = all(r["cos"] == base_top["cos"] for r in scaled_top)
            ok = got_ids == want_ids and cos_ok
            self.record(
                "ann", "bruteforce_topk_replica_ranking", ok,
                f"top-{k} at {self.k}x {'==' if ok else '!='} the first "
                f"{k} replicas of base NN (cos bit-equal: {cos_ok})",
                time.time() - t0)
        except Exception as e:  # noqa: BLE001
            self.record("ann", "bruteforce_topk_replica_ranking", False,
                        f"error: {e}"[:300], time.time() - t0)

    # ---------------- family E ----------------
    def dedup_replication(self):
        t0 = time.time()
        db = self.spark.read.parquet(os.path.join(self.base, "documents.parquet"))
        ds = self.spark.read.parquet(os.path.join(self.scaled, "documents.parquet"))
        h = F.sha2(F.col("text"), 256).alias("h")
        base_groups = {r["h"]: r["n"] for r in
                       db.select(h).groupBy("h").agg(F.count(F.lit(1)).alias("n")).collect()}
        scaled_groups = {r["h"]: r["n"] for r in
                         ds.select(h).groupBy("h").agg(F.count(F.lit(1)).alias("n")).collect()}
        ok1 = set(base_groups) == set(scaled_groups)
        ok2 = ok1 and all(scaled_groups[g] == base_groups[g] * self.k
                          for g in base_groups)
        self.record("dedup", "content_groups_k_fold", ok2,
                    f"{len(base_groups)} distinct contents invariant, "
                    f"every group exactly {self.k}-fold: {ok2}",
                    time.time() - t0)

        # keep-best at Kx retains EXACTLY the base winners (quality ties
        # across replicas break to min doc_id, which lives in replica 0)
        t0 = time.time()
        try:
            kb_base = canon(self.qs["dedup_keep_best_quality"](
                self.spark, self.base).toPandas())
            kb_scaled = canon(self.qs["dedup_keep_best_quality"](
                self.spark, self.scaled).toPandas())
            release_lineage_cuts(self.spark)
            same = render(kb_base) == render(kb_scaled)
            self.record("dedup", "keep_best_winners_scale_invariant", same,
                        f"{len(kb_base)} winners vs {len(kb_scaled)} at {self.k}x",
                        time.time() - t0)
        except Exception as e:  # noqa: BLE001
            self.record("dedup", "keep_best_winners_scale_invariant", False,
                        f"error: {e}"[:300], time.time() - t0)

        # every replica family coheres: all K copies of a doc share one
        # minhash cluster (join clusters back to content hash)
        t0 = time.time()
        try:
            clusters = self.qs["dedup_minhash_clusters"](self.spark, self.scaled)
            joined = clusters.join(
                ds.select(F.col("doc_id"), h), "doc_id"
            )
            frag = (
                joined.groupBy("h")
                .agg(F.countDistinct("cluster_id").alias("nc"))
                .where(F.col("nc") > 1)
                .count()
            )
            release_lineage_cuts(self.spark)
            self.record("dedup", "replica_families_single_cluster", frag == 0,
                        f"{frag} content groups fragmented across clusters",
                        time.time() - t0)
        except Exception as e:  # noqa: BLE001
            self.record("dedup", "replica_families_single_cluster", False,
                        f"error: {e}"[:300], time.time() - t0)


    # ---------------- family M ----------------
    def additivity(self, name: str, slice_dirs: list[str]):
        keys, cols = ADDITIVE[name]
        t0 = time.time()
        try:
            full = self.qs[name](self.spark, self.scaled).toPandas()
            release_lineage_cuts(self.spark)
            parts = []
            for d in slice_dirs:
                parts.append(self.qs[name](self.spark, d).toPandas())
                release_lineage_cuts(self.spark)
        except Exception as e:  # noqa: BLE001
            self.record("additivity", name, False, f"error: {e}"[:300],
                        time.time() - t0)
            return
        comp = pd.concat(parts, ignore_index=True)
        missing = [c for c in list(keys) + list(cols)
                   if c not in full.columns]
        if missing:
            self.record("additivity", name, False,
                        f"spec columns absent from output: {missing} "
                        f"(have {list(full.columns)})", time.time() - t0)
            return
        if keys:
            comp = comp.groupby(keys, as_index=False, dropna=False)[
                list(cols)].sum()
            merged = full.merge(comp, on=keys, how="outer",
                                suffixes=("", "_c"), indicator=True)
            if (merged["_merge"] != "both").any():
                n_miss = int((merged["_merge"] != "both").sum())
                self.record("additivity", name, False,
                            f"{n_miss} groups differ between full and "
                            f"slice-union ({len(full)} vs {len(comp)})",
                            time.time() - t0)
                return
        else:
            merged = full.copy()
            for c in cols:
                merged[c + "_c"] = comp[c].sum()
        bad = []
        for col, mode in cols.items():
            b, s = merged[col], merged[col + "_c"]
            if mode == "sum":
                ok = (s == b).all()
            else:  # sum~: each slice value is one decimal->double cast,
                # so the n-term recomposition differs by ulps only
                ok = ((s - b).abs() <= RTOL * b.abs().clip(lower=1.0)).all()
            if not ok:
                bad.append(col)
        self.record("additivity", name, not bad,
                    (f"{len(full)} groups compose exactly from "
                     f"{len(slice_dirs)} disjoint fact slices" if not bad
                     else f"violated: {bad}"),
                    time.time() - t0)

    # ---------------- family F ----------------
    def filter_complement(self):
        li = self.spark.read.parquet(
            os.path.join(self.scaled, "lineitem.parquet"))
        dec = F.col("l_extendedprice").cast("decimal(38,2)")

        t0 = time.time()
        p = F.col("l_discount").between(0.05, 0.07)
        r = li.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(p, 1).otherwise(0)).alias("np"),
            F.sum(F.when(~p, 1).otherwise(0)).alias("nq"),
            F.sum(F.when(p, dec)).alias("sp"),
            F.sum(F.when(~p, dec)).alias("sq"),
            F.sum(dec).alias("st"),
        ).collect()[0]
        ok = (r["np"] + r["nq"] == r["n"]
              and (r["sp"] or 0) + (r["sq"] or 0) == r["st"])
        self.record("complement", "discount_band_conservation", ok,
                    f"{r['np']}+{r['nq']}=={r['n']} rows; decimal sums "
                    f"{'exact' if ok else 'VIOLATED'}",
                    time.time() - t0)

        # null-bearing predicate: 3-valued logic — NULL rows belong to
        # neither p nor NOT p; the three-way split must conserve rows
        t0 = time.time()
        pn = (F.when(F.col("l_returnflag") == "N", F.lit(None))
              .otherwise(F.col("l_returnflag")) == "R")
        r = li.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(pn, 1).otherwise(0)).alias("np"),
            F.sum(F.when(~pn, 1).otherwise(0)).alias("nq"),
            F.sum(F.when(pn.isNull(), 1).otherwise(0)).alias("nn"),
        ).collect()[0]
        ok = (r["np"] + r["nq"] + r["nn"] == r["n"] and r["nn"] > 0)
        self.record("complement", "null_threeway_conservation", ok,
                    f"{r['np']}+{r['nq']}+{r['nn']}(null)=={r['n']} rows",
                    time.time() - t0)

    # ---------------- family X ----------------
    def scalar_laws(self):
        import math as _m

        from ksql_linq_spark import functions as KF

        def part_laws():
            x = F.col("p_name")
            y = F.col("p_retailprice")
            z = y - F.lit(1500.0)  # mixed signs for sign/floor laws
            pk = F.col("p_partkey")
            url = F.concat(F.lit("https://ex.com/p/"), pk.cast("string"))
            arr = KF.Split(x, " ")
            la1, lo1 = F.pmod(y, F.lit(90.0)) - 45, F.pmod(pk, F.lit(180)) - 90
            la2, lo2 = F.pmod(y, F.lit(80.0)) - 40, F.pmod(pk, F.lit(160)) - 80
            return {
                "lcase_ucase": KF.LCase(KF.UCase(x)) != KF.LCase(x),
                "trim_idempotent": KF.Trim(KF.Trim(x)) != KF.Trim(x),
                "left_substr_recompose":
                    KF.Concat(KF.Left(x, 3), KF.Substring(x, 4)) != x,
                "replace_roundtrip":
                    KF.Replace(KF.Replace(x, "a", "\x01"), "\x01", "a") != x,
                "contains_indexof":
                    KF.Contains(x, "al") != (KF.IndexOf(x, "al") > 0),
                "split_join_roundtrip": KF.ArrayJoin(arr, " ") != x,
                "len_concat_additive":
                    KF.Len(KF.Concat(x, x)) != 2 * KF.Len(x),
                "ifnull_nullif_identity":
                    KF.IfNull(KF.NullIf(x, "PART_7"), "PART_7") != x,
                "array_contains_first":
                    ~KF.ArrayContains(arr, F.element_at(arr, 1)),
                "array_union_self": F.size(KF.ArrayUnion(arr, arr))
                    != F.size(KF.ArrayDistinct(arr)),
                "abs_sign": KF.Abs(z) * KF.Sign(z) != z,
                "floor_ceil_sandwich": ~((KF.Floor(z) <= z) & (z <= KF.Ceiling(z))
                                         & (KF.Ceiling(z) - KF.Floor(z) <= 1)),
                "sqrt_square": F.abs(KF.Power(KF.Sqrt(y), 2) - y) > 1e-9 * y,
                "exp_log": F.abs(KF.Exp(KF.Log(y)) - y) > 1e-9 * y,
                "log10_base_change":
                    F.abs(KF.Log10(y) - KF.Log(y) / _m.log(10.0)) > 1e-12,
                "round_idempotent": KF.Round(KF.Round(z, 2), 2) != KF.Round(z, 2),
                "sin2_cos2": F.abs(KF.Sin(z) * KF.Sin(z)
                                   + KF.Cos(z) * KF.Cos(z) - 1) > 1e-9,
                "cast_roundtrip": KF.ToDouble(KF.ToStringCol(KF.ToDecimal(y)))
                    != KF.ToDouble(KF.ToDecimal(y)),
                "json_extract_roundtrip": KF.JsonExtractString(
                    F.to_json(F.struct(x.alias("k"))), "$.k") != x,
                "url_path": KF.UrlExtractPath(url)
                    != F.concat(F.lit("/p/"), pk.cast("string")),
                "url_host": KF.UrlExtractHost(url) != F.lit("ex.com"),
                "digest_lengths": (KF.Len(KF.Sha256(x)) != 64)
                    | (KF.Len(KF.Md5(x)) != 32) | (KF.Len(KF.Sha1(x)) != 40),
                "geo_identity_symmetry":
                    (KF.GeoDistance(la1, lo1, la1, lo1) != 0)
                    | (F.abs(KF.GeoDistance(la1, lo1, la2, lo2)
                             - KF.GeoDistance(la2, lo2, la1, lo1)) > 1e-9),
            }

        def orders_laws():
            d = F.col("o_orderdate")
            tp = F.col("o_totalprice")
            return {
                "adddays_inverse": KF.AddDays(KF.AddDays(d, 7), -7) != d,
                "addhours_day": KF.AddHours(d, 24) != KF.AddDays(d, 1),
                "format_parse_roundtrip": F.to_timestamp(
                    KF.FormatTimestamp(d), "yyyy-MM-dd'T'HH:mm:ss") != d,
                "make_timestamp_recompose": F.make_timestamp(
                    KF.Year(d), KF.Month(d), KF.Day(d),
                    KF.Hour(d), KF.Minute(d), KF.Second(d)) != d,
                "calendar_ranges": ~(KF.DayOfWeek(d).between(1, 7)
                                     & KF.DayOfYear(d).between(1, 366)
                                     & KF.WeekOfYear(d).between(1, 53)),
                "case_sign_consistency": KF.Case(
                    (tp < 0, F.lit("neg")), default=F.lit("nonneg"))
                    != F.when(KF.Sign(tp) < 0, "neg").otherwise("nonneg"),
            }

        def lineitem_laws():
            v = F.col("l_extendedprice")
            qy = F.col("l_quantity")
            return {
                "power_vs_mult":
                    F.abs(KF.Power(qy, 2) - qy * qy) > 1e-9 * qy * qy,
                "coalesce_first":
                    KF.Coalesce(F.lit(None).cast("double"), v) != v,
                "tostring_todouble_roundtrip":
                    KF.ToDouble(KF.ToStringCol(v)) != v,
            }

        for table, laws in [("part", part_laws()), ("orders", orders_laws()),
                            ("lineitem", lineitem_laws())]:
            t0 = time.time()
            try:
                df = self.spark.read.parquet(
                    os.path.join(self.scaled, f"{table}.parquet"))
                # coalesce(cond, TRUE): a law expression that evaluates
                # to NULL (e.g. a function regressing to all-NULL output
                # makes `f(x) != x` NULL, not false) must count as a
                # VIOLATION — `when(cond, 1).otherwise(0)` alone would
                # let NULL fall through to 0 and score a false green
                aggs = [
                    F.sum(
                        F.when(F.coalesce(cond, F.lit(True)), 1).otherwise(0)
                    ).alias(nm)
                    for nm, cond in laws.items()
                ]
                aggs.append(F.count(F.lit(1)).alias("_n"))
                row = df.agg(*aggs).collect()[0]
            except Exception as e:  # noqa: BLE001
                for nm in laws:
                    self.record("scalar", f"{table}.{nm}", False,
                                f"error: {e}"[:200], time.time() - t0)
                continue
            secs = (time.time() - t0) / len(laws)
            for nm in laws:
                self.record("scalar", f"{table}.{nm}", row[nm] == 0,
                            f"{row[nm]} violations over {row['_n']} rows",
                            secs)

    # ---------------- family P ----------------
    def limit_prefix(self):
        from ksql_linq_spark.query.builder import from_df

        t0 = time.time()
        try:
            od = self.spark.read.parquet(
                os.path.join(self.scaled, "orders.parquet"))

            def topn(n):
                return (
                    from_df(od)
                    .select("o_orderkey", "o_totalprice")
                    .order_by(F.col("o_totalprice").desc(),
                              F.col("o_orderkey").asc())
                    .take(n)
                    .to_df()
                    .toPandas()
                )

            a, b, c = topn(10), topn(100), topn(1000)
        except Exception as e:  # noqa: BLE001
            self.record("prefix", "orderby_take_prefix", False,
                        f"error: {e}"[:300], time.time() - t0)
            return
        prefix_ok = (a.equals(b.head(10).reset_index(drop=True))
                     and b.equals(c.head(100).reset_index(drop=True)))
        mono_ok = (c["o_totalprice"].diff().dropna() <= 0).all()
        resorted = c.sort_values(
            ["o_totalprice", "o_orderkey"], ascending=[False, True],
            kind="mergesort").reset_index(drop=True)
        order_ok = c.equals(resorted)
        ok = bool(prefix_ok and mono_ok and order_ok)
        self.record("prefix", "orderby_take_prefix", ok,
                    f"take(10)⊑take(100)⊑take(1000): {prefix_ok}; "
                    f"sort key monotone: {mono_ok}; total order: {order_ok}",
                    time.time() - t0)

    # ---------------- family V ----------------
    PERTURB_CONFS = {
        "spark.sql.shuffle.partitions": "7",
        "spark.sql.files.maxPartitionBytes": "16m",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }

    def _fingerprint(self, df) -> tuple[int, int]:
        """Order-insensitive multiset fingerprint: per-row sha2 of the
        canonical (name-sorted) JSON rendering, its leading 60 bits
        summed as decimal(38,0) plus the row count.  Driver fetches one
        row, so per-row outputs at 100x stay bounded."""
        cols = sorted(df.columns)
        h = F.sha2(F.to_json(F.struct(*[F.col(c) for c in cols])), 256)
        v = F.conv(F.substring(h, 1, 15), 16, 10).cast("decimal(38,0)")
        row = df.select(v.alias("v")).agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")
        ).collect()[0]
        return int(row["n"]), int(row["s"] or 0)

    def perturb(self, name: str):
        t0 = time.time()
        conf = self.spark.conf
        saved: dict[str, str | None] = {}
        try:
            a = self._fingerprint(self.qs[name](self.spark, self.scaled))
            release_lineage_cuts(self.spark)
            for k, val in self.PERTURB_CONFS.items():
                try:
                    saved[k] = conf.get(k)
                except Exception:  # noqa: BLE001 — unset conf
                    saved[k] = None
                conf.set(k, val)
            b = self._fingerprint(self.qs[name](self.spark, self.scaled))
            release_lineage_cuts(self.spark)
        except Exception as e:  # noqa: BLE001
            self.record("perturb", name, False, f"error: {e}"[:300],
                        time.time() - t0)
            return
        finally:
            for k, val in saved.items():
                if val is None:
                    conf.unset(k)
                else:
                    conf.set(k, val)
        ok = a == b
        self.record(
            "perturb", name, ok,
            f"{a[0]} rows; multiset checksum "
            f"{'identical' if ok else f'DIVERGENT: {a} vs {b}'} across "
            f"shuffle=32/7, split=128m/16m, AQE-coalesce on/off plans",
            time.time() - t0)


def main() -> int:
    scaled = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf10"
    base = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    k = int(sys.argv[3]) if len(sys.argv) > 3 else 100
    only = set(sys.argv[4:])

    spark = build_session("invariant-check")
    spark.sparkContext.setLogLevel("ERROR")
    h = Harness(spark, scaled, base, k)

    for name in REPLICA0:
        if not only or name in only:
            h.replica0(name)
    for name in KLINEAR:
        if not only or name in only:
            h.klinear(name)
    for name in CONTRACTS:
        if not only or name in only:
            h.contract(name)
    if not only or "decimal" in only:
        h.decimal_linearity()
    if not only or "cascade" in only:
        h.cascade_composition()
    if not only or "ann" in only:
        h.ann_replication()
    if not only or "dedup" in only:
        h.dedup_replication()
    run_m = [n for n in ADDITIVE
             if not only or n in only or "metamorphic" in only]
    if run_m:
        slice_dirs = make_slices(scaled)
        for name in run_m:
            h.additivity(name, slice_dirs)
    if not only or "complement" in only or "metamorphic" in only:
        h.filter_complement()
    if not only or "scalar" in only or "metamorphic" in only:
        h.scalar_laws()
    if not only or "prefix" in only or "metamorphic" in only:
        h.limit_prefix()
    for name in PERTURB:
        if not only or name in only or "perturb" in only \
                or "metamorphic" in only:
            h.perturb(name)

    fails = [r for r in h.results if not r["ok"]]
    out = {
        "scaled_dir": scaled, "base_dir": base, "k": k,
        "checks": len(h.results), "failures": len(fails),
        "results": h.results,
    }
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "INVARIANTS_last.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(f"\n{len(h.results) - len(fails)}/{len(h.results)} invariants hold "
          f"at {k}x -> INVARIANTS_last.json")
    if fails:
        print("failing:", " ".join(f"[{r['family']}]{r['name']}" for r in fails))
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
