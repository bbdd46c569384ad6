"""Physical-plan audit gates.

SCALING.md makes concrete claims about how operators execute (pushdown
reaches the scan, dims broadcast, no row-at-a-time Python in any query).
These tests pin those claims to the actual `explain()` output so a
regression (e.g. a refactor that introduces a BatchEvalPython node or
breaks column pruning) fails CI rather than silently costing 10-100x at
cluster scale.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from ksql_linq_spark.sources import read_table


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_filter_pushdown_reaches_parquet_scan(spark, sf_dir):
    df = (
        read_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "click")
        .select("event_id", "event_type")
    )
    plan = plan_of(df)
    assert "PushedFilters" in plan
    assert "EqualTo(event_type,click)" in plan, plan


def test_column_pruning_two_column_projection(spark, sf_dir):
    df = read_table(spark, sf_dir, "events").select("event_id", "event_type")
    plan = plan_of(df)
    # the scan's ReadSchema must not include unused wide columns
    readschema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert readschema, plan
    assert "props" not in readschema[0] and "value" not in readschema[0], readschema[0]


def test_dim_join_broadcasts(spark, sf_dir):
    cust = read_table(spark, sf_dir, "customer")
    nat = read_table(spark, sf_dir, "nation")
    df = cust.join(nat, cust.c_nationkey == nat.n_nationkey).groupBy("n_name").count()
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_flagship_plan_shape(spark, sf_dir):
    import __spark_entry__ as m

    df = m.queries()["ohlc_1m_bars"](spark, sf_dir)
    plan = plan_of(df)
    # map-side partial aggregation with min_by/max_by open/close carriers,
    # and exactly ONE shuffle (the aggregate's own)
    assert "partial_min_by" in plan and "partial_max_by" in plan, plan
    import re

    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1, plan
    # codegen stage markers appear once AQE finalizes
    df.collect()
    assert "*(" in plan_of(df, "simple")


@pytest.mark.slow
def test_no_rowwise_python_udf_in_any_registered_query(spark, sf_dir):
    """Repo-wide gate: Python may appear only Arrow-batched (ArrowEvalPython /
    MapInPandas / FlatMapGroupsInPandas), never BatchEvalPython."""
    import __spark_entry__ as m

    offenders = {}
    for name, fn in m.queries().items():
        plan = plan_of(fn(spark, sf_dir), "extended")
        if "BatchEvalPython" in plan:
            offenders[name] = plan
    assert not offenders, f"row-wise Python UDF in: {sorted(offenders)}"


def test_heavy_hitters_broadcasts_candidates(spark, sf_dir):
    from ksql_linq_spark.operators.sketch import heavy_hitters

    li = read_table(spark, sf_dir, "lineitem")
    plan = plan_of(heavy_hitters(li, "l_partkey", support=0.0005))
    # phase 2 must semi-join the tiny candidate list broadcast, not shuffle
    # the fact side; phase 1 must be Arrow-batched (MapInPandas), and the
    # only wide exchange is the candidate recount groupBy
    assert "BroadcastExchange" in plan, plan
    assert "MapInPandas" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_moment_stats_partial_agg_single_shuffle(spark, sf_dir):
    import re

    from ksql_linq_spark.operators.stats import moment_stats

    li = read_table(spark, sf_dir, "lineitem")
    df = moment_stats(li, ["l_returnflag"], "l_quantity", "l_extendedprice", scale=2)
    plan = plan_of(df)
    # exact decimal moments still combine map-side: partial_sum before the
    # exchange, and the groupBy's exchange is the plan's only one
    assert "partial_sum" in plan, plan
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1, plan


def test_shipping_priority_plan_broadcasts_dim_and_pushes_filters(spark, sf_dir):
    import __spark_entry__ as m

    df = m.queries()["join_shipping_priority"](spark, sf_dir)
    plan = plan_of(df)
    # the filtered customer slice must broadcast, not shuffle
    assert "BroadcastHashJoin" in plan, plan
    # date/segment predicates reach the parquet scans
    assert "PushedFilters" in plan
    assert "c_mktsegment" in plan and "l_shipdate" in plan, plan
    # top-10 must be TakeOrdered, never a global sort
    assert "TakeOrderedAndProject" in plan, plan


def test_chunking_plan_has_no_shuffle(spark, sf_dir):
    import __spark_entry__ as m

    df = m.queries()["dataset_doc_chunking"](spark, sf_dir)
    plan = plan_of(df)
    assert "Exchange" not in plan, plan


def test_unpivot_is_single_scan_no_shuffle(spark, sf_dir):
    import __spark_entry__ as m

    df = m.queries()["unpivot_doc_metrics"](spark, sf_dir)
    plan = plan_of(df)
    assert "Exchange" not in plan, plan
    # one Expand over one parquet scan, not a union of three scans
    # (formatted explain prints each node once in the tree as "NodeName (id)")
    assert plan.count("Scan parquet  (") == 1, plan
    assert "Expand" in plan, plan


def test_q5_snowflake_broadcasts_dims(spark, sf_dir):
    import __spark_entry__ as m

    df = m.queries()["join_local_supplier_volume"](spark, sf_dir)
    plan = plan_of(df)
    # region/nation gate must broadcast; date filter reaches the orders scan
    assert "BroadcastHashJoin" in plan, plan
    assert "o_orderdate" in plan and "PushedFilters" in plan, plan


def test_q18_single_fact_scan(spark, sf_dir):
    """r13: the HAVING gate's decimal-exact sum IS total_qty (the final
    group keys are functions of the order key), so the plan must read
    lineitem exactly ONCE — the former semi-join + re-join + re-agg
    shape scanned and summed the fact table twice."""
    import re

    import __spark_entry__ as m

    df = m.queries()["agg_large_orders"](spark, sf_dir)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan, plan
    n = len(re.findall(r"/lineitem\.parquet", plan_of(df, "simple")))
    assert n == 1, f"{n} lineitem scans (want 1)\n{plan[:2000]}"


def test_q14_promo_broadcasts_part_and_gates_shipdate(spark, sf_dir):
    import __spark_entry__ as m

    df = m.queries()["join_promo_revenue"](spark, sf_dir)
    plan = plan_of(df)
    # pruned part dim must broadcast; the month gate reaches the fact scan
    assert "BroadcastHashJoin" in plan, plan
    assert "l_shipdate" in plan and "PushedFilters" in plan, plan
    # part scan reads only the two needed columns
    readschemas = [l for l in plan.splitlines() if "ReadSchema" in l]
    part_rs = [l for l in readschemas if "p_partkey" in l]
    assert part_rs and "p_retailprice" not in part_rs[0], plan


def test_q19_disjunction_prefilters_reach_both_scans(spark, sf_dir):
    import __spark_entry__ as m

    df = m.queries()["filter_disjunctive_revenue"](spark, sf_dir)
    plan = plan_of(df)
    # hand constraint-propagation: brand IN-list on the part scan,
    # quantity range on the lineitem scan, and the dim broadcasts
    assert "In(p_brand" in plan, plan
    assert "GreaterThanOrEqual(l_quantity,1.0)" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_q10_returned_items_plan(spark, sf_dir):
    import __spark_entry__ as m

    df = m.queries()["join_returned_items"](spark, sf_dir)
    plan = plan_of(df)
    # returnflag + date gates reach the scans; nation broadcasts;
    # top-20 is TakeOrdered, never a global sort
    assert "EqualTo(l_returnflag,R)" in plan, plan
    assert "o_orderdate" in plan and "PushedFilters" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_mixture_upsample_rides_the_scan_no_shuffle(spark, sf_dir):
    import __spark_entry__ as m

    df = m.queries()["dataset_source_mixture"](spark, sf_dir)
    plan = plan_of(df)
    assert "Exchange" not in plan, plan
    assert "Generate" in plan, plan  # the per-row explode


def test_bucketed_join_and_agg_have_no_exchange(spark, sf_dir):
    """Co-located layout gate: two tables bucketed on orderkey join and
    re-aggregate with ZERO Exchanges — the 100 TB fact-fact strategy
    SCALING.md commits to (operators/layout.py).  The remaining Sorts
    are per-partition and shuffle-free (Spark >=3.1 hides bucket-sort
    order behind a legacy flag)."""
    from ksql_linq_spark.operators.layout import read_bucketed, write_bucketed

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    write_bucketed(li, "t_li_bkt", ["l_orderkey"], 8)
    write_bucketed(o, "t_o_bkt", ["o_orderkey"], 8)
    try:
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            li_b = read_bucketed(spark, "t_li_bkt")
            o_b = read_bucketed(spark, "t_o_bkt")
            joined = li_b.join(
                o_b, li_b.l_orderkey == o_b.o_orderkey
            ).groupBy("l_orderkey").count()
            plan = plan_of(joined)
            assert "Exchange" not in plan, plan
            assert "SortMergeJoin" in plan, plan
            # and a groupBy on the bucket key alone is shuffle-free
            agg_plan = plan_of(
                li_b.groupBy("l_orderkey").agg(F.sum("l_quantity"))
            )
            assert "Exchange" not in agg_plan, agg_plan
            # correctness unchanged vs the unbucketed plan
            n = joined.count()
            want = (
                li.join(o, li.l_orderkey == o.o_orderkey)
                .groupBy("l_orderkey")
                .count()
                .count()
            )
            assert n == want
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_li_bkt")
        spark.sql("DROP TABLE IF EXISTS t_o_bkt")


def test_curation_chain_fuses_to_two_exchanges(spark, sf_dir):
    import re

    import __spark_entry__ as m

    df = m.queries()["pipeline_curation_full"](spark, sf_dir)
    plan = plan_of(df)
    # five pipeline stages, one scan, exactly two shuffles
    assert plan.count("Scan parquet  (") == 1, plan
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 2, plan


def test_zipf_topk_is_take_ordered_not_global_sort(spark, sf_dir):
    """text_token_zipf's top-100 must run as TakeOrderedAndProject
    (distributed per-partition top-k) with the rank/cum windows ABOVE
    the limit — i.e. the window input is provably <=100 rows, never the
    whole vocabulary (round-2 scale-killer)."""
    import __spark_entry__ as m

    plan = plan_of(m.queries()["text_token_zipf"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    # the Window node must appear before (above) the TakeOrdered node in
    # the formatted tree — Spark prints parents first
    assert plan.index("Window") < plan.index("TakeOrderedAndProject"), plan


def test_quality_deciles_no_corpus_global_window(spark, sf_dir):
    """distributed_ntile: the only window over an ORDER BY without
    PARTITION BY must consume the aggregated distinct-value summary
    (HashAggregate below it), never the raw corpus scan."""
    import __spark_entry__ as m

    plan = plan_of(m.queries()["dataset_quality_deciles"](spark, sf_dir), "simple")
    lines = plan.splitlines()
    # find each Window node; between it and the next Exchange/Aggregate
    # boundary there must be an aggregate (summary input), and ntile must
    # be gone entirely
    assert "ntile" not in plan, plan
    win_idx = [i for i, l in enumerate(lines) if " Window " in l or l.strip().startswith("Window")]
    assert win_idx, plan
    for i in win_idx:
        below = "\n".join(lines[i:i + 6])
        assert "HashAggregate" in below or "Sort" in below, below


def test_runtime_bloom_filter_engages_on_selective_fact_join(spark, sf_dir):
    """Scale posture: Spark's runtime bloom-filter join pruning
    (spark.sql.optimizer.runtime.bloomFilter.enabled, on in
    session.py's defaults) injects a BloomFilterMightContain probe on
    the large side when a selective creation side qualifies.  Local
    inputs are far below the production thresholds (10 MB creation /
    10 GB application), so the thresholds are dropped to force the
    rewrite and pin that the machinery actually engages — at 100 TB the
    defaults fire on exactly this shape (filtered dim -> fact join)."""
    from ksql_linq_spark.sources import read_table

    old = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "8mb"
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        # disable broadcast so the join is shuffle-based (bloom targets SMJ/SHJ)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = read_table(spark, sf_dir, "lineitem")
        od = read_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(od, li.l_orderkey == od.o_orderkey).groupBy(
            "o_orderpriority"
        ).count()
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter" in plan or "BloomFilter" in plan or "might_contain" in plan
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_parquet_aggregate_pushdown_serves_count_from_metadata(spark, sf_dir):
    """Scale posture: with spark.sql.parquet.aggregatePushdown on, a
    bare COUNT(*)/MIN/MAX over a parquet table is answered from footer
    metadata — zero row groups decoded.  At 100 TB that turns a
    full-scan inventory query into a metadata listing.  (Off by
    default; the conf is scoped to this test — it only applies to
    unfiltered aggregates over non-nested columns, so it is a
    deliberate opt-in per query, not a session default.)"""
    import os

    old_v1 = spark.conf.get("spark.sql.sources.useV1SourceList")
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    # aggregate pushdown lives in the DSv2 reader; parquet is on the V1
    # list by default, so route it through V2 for this query
    spark.conf.set(
        "spark.sql.sources.useV1SourceList",
        ",".join(x for x in old_v1.split(",") if x != "parquet"),
    )
    try:
        df = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
        agg = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.min("l_orderkey").alias("lo"),
            F.max("l_orderkey").alias("hi"),
        )
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "PushedAggregation: [COUNT(*)" in plan or "PushedAggregation" in plan
        row = agg.first()
        assert row["n"] == df.count() and row["lo"] <= row["hi"]
    finally:
        spark.conf.set("spark.sql.parquet.aggregatePushdown", "false")
        spark.conf.set("spark.sql.sources.useV1SourceList", old_v1)


def test_dynamic_partition_pruning_engages(spark, sf_dir, tmp_path):
    """Scale posture: a date-partitioned fact joined to a filtered dim
    must plan a dynamicpruning#N subquery on the partition column —
    at 100 TB DPP is the difference between scanning 3 partitions and
    3000.  The fact is written partitioned here (the OHLC sink layout
    SCALING.md prescribes); the dim filter is non-partition-key."""
    from ksql_linq_spark.sources import read_table

    ev = read_table(spark, sf_dir, "events")
    fact = ev.withColumn("d", F.to_date("ts"))
    path = str(tmp_path / "fact_part")
    fact.write.partitionBy("d").parquet(path)
    dim = (
        ev.select(F.to_date("ts").alias("d"), F.col("event_type").alias("et"))
        .distinct()
        .filter(F.col("et") == "purchase")
        .limit(3)
    )
    f = spark.read.parquet(path)
    j = f.join(dim, "d").groupBy("et").count()
    plan = j._jdf.queryExecution().optimizedPlan().toString()
    assert "dynamicpruning" in plan


def test_ann_join_exact_verify_side_gated_above_max_rows(spark, sf_dir):
    """100 TB posture: similarity_ann_join's exact verification side is a
    (corpus/100) x corpus product that exists only to oracle-check the
    ANN result.  Above the size gate it must vanish from the plan (no
    nested-loop/cartesian join) and recall_ok comes back NULL
    (= unverified); below the gate behavior is unchanged."""
    from ksql_linq_spark.entry_queries import similarity_ann_join_q

    gated = similarity_ann_join_q(spark, sf_dir, exact_verify_max_rows=0)
    plan = plan_of(gated)
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan, plan
    row = gated.first()
    assert row["recall_ok"] is None
    assert row["exact_pairs"]  # ANN pairs still come back
    # r14: below the gate the exact leg is the numpy winner kernel
    # (brute_force_top1_ids) — the |queries| x corpus product must
    # never materialize as join rows in the plan at ANY regime
    ungated_plan = plan_of(similarity_ann_join_q(spark, sf_dir))
    assert "NestedLoop" not in ungated_plan, ungated_plan
    assert "CartesianProduct" not in ungated_plan, ungated_plan
    assert "MapInPandas" in ungated_plan, ungated_plan
    assert similarity_ann_join_q(spark, sf_dir).first()["recall_ok"] is not None


def test_blocked_cosine_refuses_quadratic_above_gate(spark, sf_dir):
    """The exact numpy-block cosine kernel is O(n^2) by contract; the
    max_rows gate turns an accidental corpus-scale launch into an
    immediate error pointing at the LSH/semantic scale paths."""
    import pytest as _pytest

    from ksql_linq_spark.operators.dedup import embedding_cosine_pairs_blocked

    e = read_table(spark, sf_dir, "embeddings")
    with _pytest.raises(ValueError, match="exact-quadratic gate"):
        embedding_cosine_pairs_blocked(e, max_rows=1)


def test_lineage_cut_queries_scan_each_table_once(spark, sf_dir):
    """The r5 lineage cuts exist because Catalyst cannot reuse exchanges
    across differently-pruned branches — without the localCheckpoint,
    these queries re-ran their corpus tokenize/shingle/percentile
    subtree once PER consuming branch (3-5 parquet scans measured on
    final plans).  Tripwire: each cut query's final plan must read its
    fact table at most once (the materialized frame replaces the extra
    scans; auxiliary 1-row/N-count scans over other tables are allowed,
    so the gate counts scans of the table the cut protects)."""
    import re

    import __spark_entry__ as m

    qs = m.queries()
    protected = {
        "text_unigram_logprob": ("documents", 1),
        # r14 window rewrites: these three no longer carry a cut at all
        # (single-pass lineage) — the tokenize scan is visible once in
        # the final plan; tfidf additionally keeps its column-pruned
        # corpus-count scan (ReadSchema struct<>, a metadata read).
        # The pins still tripwire: a second full reference would raise
        # the scan count above these bounds.
        "text_tfidf_top_terms": ("documents", 2),
        "text_dup_ngram_fraction": ("documents", 1),
        "corpus_source_exclusivity": ("documents", 1),
        "dataset_quality_deciles": ("documents", 0),
        "dataset_remove_dup_ngrams": ("documents", 1),
        "events_dau_wau_stickiness": ("events", 0),
        "events_psi_drift": ("events", 2),  # ref + cur binning legs
        "events_mad_outliers": ("events", 1),
    }
    for name, (table, max_scans) in protected.items():
        df = qs[name](spark, sf_dir)
        plan = plan_of(df, "simple")
        n = len(re.findall(rf"/{table}\.parquet", plan))
        assert n <= max_scans, (
            f"{name}: {n} scans of {table} in the final plan "
            f"(max {max_scans}) — a refactor dropped the lineage cut?\n{plan[:2000]}"
        )


def test_ann_probe_fetch_launches_no_spark_job(spark, sf_dir):
    """The ANN probe vector is a parameter (driver-local pyarrow point
    read), not a Spark job — the r5 `.first()` fetch ran a filter+scan
    job inside query construction, serializing an extra execution per
    ANN query and hiding a scan from the plan audit.  Pinned two ways
    via the job-group tracker (jobs inherit the active group):

    1. the probe fetch itself launches ZERO jobs;
    2. building the non-training similarity queries launches exactly
       the jobs a bare ``read_table`` does (parquet footer schema
       inference — inherent to ``spark.read.parquet`` without a
       user-supplied schema), i.e. no scan job remains.

    IVF/PQ variants additionally run their bounded codebook-training
    sample fetch at build time (Arrow-batched, size-capped — the
    documented design), so they are excluded from (2).
    """
    from ksql_linq_spark.entry_queries import QUERIES, _PROBE_CACHE
    from ksql_linq_spark.sources import read_table

    sc = spark.sparkContext

    def jobs_during(tag, fn):
        sc.setJobGroup(tag, "")
        try:
            fn()
            return list(sc.statusTracker().getJobIdsForGroup(tag))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    _PROBE_CACHE.clear()  # the cold path must be job-free too
    probe_jobs = jobs_during(
        "probe-fetch", lambda: __import__("ksql_linq_spark.entry_queries",
                                          fromlist=["_probe_vec"])._probe_vec(sf_dir)
    )
    assert probe_jobs == [], f"probe fetch launched Spark jobs: {probe_jobs}"

    baseline = len(jobs_during(
        "read-baseline", lambda: read_table(spark, sf_dir, "embeddings")
    ))
    for name in ("similarity_bruteforce_topk", "similarity_lsh_ann",
                 "similarity_int8_topk"):
        n = len(jobs_during(f"build-{name}",
                            lambda name=name: QUERIES[name](spark, sf_dir)))
        assert n == baseline, (
            f"{name} construction launched {n} jobs vs read-only "
            f"baseline {baseline} — a scan job crept back in"
        )


def test_lineage_cut_block_loss_fails_loudly(spark):
    """VERDICT r6 item 4: the blocks of a ``session.cut`` are not
    fault-tolerant — this pins the FAILURE MODE.  Losing a cut block
    mid-lifecycle (simulated by unpersisting the checkpointed RDD, the
    same block-manager state executor loss leaves behind) must raise
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND on the next action — a LOUD
    error the caller retries from the source scan — never a silent
    recompute with possibly-diverged data."""
    from py4j.protocol import Py4JJavaError

    from ksql_linq_spark.session import cut, release_lineage_cuts

    frame = cut(spark.range(0, 50000).selectExpr("id", "id % 7 as k"))
    assert frame.count() == 50000  # the action materializes the blocks

    assert release_lineage_cuts(spark) >= 1  # drop the cut's blocks

    with pytest.raises(Py4JJavaError) as exc:
        frame.count()
    assert "CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND" in str(exc.value)


def test_cut_build_runs_the_shuffle_stages_below_it(spark):
    """The cut is not lazy under AQE (``session.cut`` docstring):
    building it over a one-shuffle aggregate launches exactly one Spark
    job — the shuffle map stage — and over a narrow plan none."""
    from ksql_linq_spark.session import cut, release_lineage_cuts

    sc = spark.sparkContext

    def build_jobs(tag, df):
        sc.setJobGroup(tag, tag)
        try:
            cut(df)
            return len(sc.statusTracker().getJobIdsForGroup(tag))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    base = spark.range(0, 5000).selectExpr("id", "id % 7 as k")
    assert build_jobs("cut-narrow", base.where("k > 2")) == 0
    assert build_jobs("cut-agg", base.groupBy("k").count()) == 1
    release_lineage_cuts(spark)
