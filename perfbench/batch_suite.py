"""batch_suite: registered batch queries, each run once through the noop
sink, in ``entry_queries.QUERIES`` registration order.

The engine keeps per-process plan caches (``_LSH_PAIRS_PLANS``,
``_TABLE_PLAN_CACHE``), so a query repeated in one process reads a
build time near zero; every query therefore runs exactly once per
process.  The order is the registration order, never
``__spark_entry__.queries()``, which reorders on scoring history.
"""

from __future__ import annotations

import os
import re
import time
from collections import Counter

import gen
import probe

# Module groups for the per-layer split.  A query belongs to the
# ``operators/<module>`` its OPERATORS.md implementation cell names most,
# ``builtin`` when it names none, ``other`` for the remaining modules.
GROUPS = ("builtin", "text", "dataset", "similarity", "dedup", "sketch",
          "stats", "graph", "funnel", "quality", "multimodal", "other")

TOTALS = ("plan_s", "jobs", "stages", "tasks", "scan_s", "shuffle_bytes",
          "shuffle_write_s", "fetch_wait_s", "agg_s", "sort_s",
          "python_eval_s", "spill_bytes", "cuts_released")

# Table scale (lineitem = 600k x SF).  Per-query cost is mostly fixed
# (build, planning, job start-up): a pass of every registered query
# takes ~100 s on a 4-core host even at this scale, more than one
# benchmark run can spend.
SF = 0.0005

# The pass: 24 of the registered queries, in registration order.  Chosen
# as the first query of each module group in ``entry_queries.QUERIES``
# order, so every group's layer is measured, plus 12 evenly spaced over
# the remaining queries.  Frozen by name so that queries registered
# later do not change the work; the tiny smoke scale runs the 12
# first-of-group queries only.
QUERY_SAMPLE = (
    "ohlc_1m_bars", "ohlc_5m_bars_multikey", "join_multiway",
    "text_language_id", "dedup_exact", "dedup_embedding_cosine",
    "similarity_bruteforce_topk", "cascade_5m_via_hub", "dataset_hash_split",
    "dataset_sequence_packing", "multimodal_decode_meta",
    "dataset_quality_gate", "context_derived_view", "agg_moment_statistics",
    "approx_heavy_hitters", "dedup_minhash_clusters", "agg_percentiles_disc",
    "dataset_source_mixture", "agg_customer_order_distribution",
    "text_unigram_logprob", "events_funnel_conversion", "similarity_pq_ann",
    "similarity_ivfpq_ann", "corpus_weighted_median_length",
)


def query_groups(repo_root: str, names: list[str]) -> dict[str, str]:
    with open(os.path.join(repo_root, "OPERATORS.md")) as f:
        md = f.read()
    mods: dict[str, str] = {}
    for m in re.finditer(r"^\| `(\w+)` \| (.*?) \|", md, re.M):
        found = re.findall(r"operators/(\w+)\.", m.group(2))
        mods[m.group(1)] = Counter(found).most_common(1)[0][0] if found else "builtin"
    return {n: (mods.get(n, "other") if mods.get(n, "other") in GROUPS else "other")
            for n in names}


def sample(groups: dict[str, str], scale: str) -> list[str]:
    """The queries one pass runs: QUERY_SAMPLE, or at the tiny scale the
    first query of each module group in it."""
    if scale == "full":
        return list(QUERY_SAMPLE)
    first: dict[str, str] = {}
    for name in QUERY_SAMPLE:
        first.setdefault(groups[name], name)
    return [name for name in QUERY_SAMPLE if name in first.values()]


def oracle_counts(data_dir: str, names: list[str]) -> dict[str, int]:
    import duckdb

    from ksql_linq_spark.entry_queries import ORACLES

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 1")
        for f in sorted(os.listdir(data_dir)):
            con.execute(f"CREATE VIEW {f.split('.')[0]} AS "
                        f"SELECT * FROM read_parquet('{data_dir}/{f}')")
        return {n: int(con.execute(f"SELECT count(*) FROM ({ORACLES[n]})")
                       .fetchone()[0]) for n in names}
    finally:
        con.close()


def run(ctx) -> dict:
    from ksql_linq_spark.entry_queries import QUERIES, flagship
    from ksql_linq_spark.session import release_lineage_cuts

    spark, tr = ctx.spark, ctx.tracer
    data = os.path.join(ctx.work, "tables")
    with ctx.phase("generate"):
        gen.write_tables(data, ctx.seed, SF)
    unknown = [n for n in QUERY_SAMPLE if n not in QUERIES]
    if unknown:
        raise RuntimeError(f"queries no longer registered: {unknown}")
    groups = query_groups(ctx.repo, list(QUERY_SAMPLE))
    names = sample(groups, ctx.scale)
    store = probe.SqlStore(spark)
    st = spark.sparkContext.statusTracker()

    def last_job_id() -> int:
        ids = st.getJobIdsForGroup(None)
        return max(ids) if ids else -1

    # warm-up: the flagship bar query (what ``__spark_entry__.entry``
    # runs) and the Arrow/pandas worker pool, so JIT and worker start-up
    # land in set-up
    with ctx.phase("warm_up"):
        flagship(spark, data).write.mode("overwrite").format("noop").save()
        ctx.warm_workers()

    lat_ms: list[float] = []
    rows: dict[str, int | None] = {}
    failed: set[str] = set()
    fallbacks: list[str] = []
    layer = {f"{k}.{g}": 0.0 for k in ("build_s", "eager_jobs", "exec_s") for g in GROUPS}
    totals = dict.fromkeys(TOTALS, 0.0)
    measuring = 0.0
    ctx.start_timed()
    t_pass = time.perf_counter()
    for name in names:
        g = groups[name]
        mark = store.count()
        jobs0 = last_job_id() if tr.enabled else 0
        t0 = time.perf_counter()
        try:
            with tr.span("query", query=name, group=g):
                with tr.span("build") as b:
                    df = QUERIES[name](spark, data)
                if tr.enabled:
                    layer[f"eager_jobs.{g}"] += last_job_id() - jobs0
                    with tr.span("plan") as p:
                        df._jdf.queryExecution().executedPlan()
                with tr.span("exec") as e:
                    df.write.mode("overwrite").format("noop").save()
            lat_ms.append((time.perf_counter() - t0) * 1e3)
        except Exception as exc:  # a failing query is counted, not fatal
            ctx.log(f"batch_suite {name}: {type(exc).__name__}: {str(exc)[:300]}")
            failed.add(name)
            release_lineage_cuts(spark)
            continue
        # outside the timed window: row count from the root of the
        # write's execution and the layer split
        t_m = time.perf_counter()
        execs = store.executions_since(mark)
        nodes, parents = probe.plan_nodes(spark, int(execs[-1].executionId()))
        rows[name] = probe.root_output_rows(nodes, parents)
        if rows[name] is None:
            fallbacks.append(name)
            rows[name] = df.count()
        if tr.enabled:
            layer[f"build_s.{g}"] += b["end"] - b["start"]
            layer[f"exec_s.{g}"] += e["end"] - e["start"]
            totals["plan_s"] += p["end"] - p["start"]
            for ex in execs:
                for k, v in probe.execution_totals(spark, ex).items():
                    if k in totals:
                        totals[k] += v
        measuring += time.perf_counter() - t_m
        # between queries, as a long-lived session would (not timed per query)
        cuts = release_lineage_cuts(spark)
        totals["cuts_released"] += cuts
    elapsed = time.perf_counter() - t_pass - measuring
    ctx.end_timed()

    t_v = time.perf_counter()
    expected = oracle_counts(data, [n for n in names if n in rows])
    verify_s = time.perf_counter() - t_v
    if ctx.corrupt and expected:
        first = next(iter(expected))
        expected[first] += 1
    wrong = {n for n, c in expected.items() if rows[n] != c}
    for n in sorted(wrong):
        ctx.log(f"batch_suite {n}: rows {rows[n]} != oracle {expected[n]}")
    completed = len(rows)
    return {
        "attempted": len(names),
        "failed": len(failed | wrong),
        "throughput_per_s": completed / elapsed,
        "latency_ms": lat_ms,
        "per_layer": {**layer, **totals} if tr.enabled else {},
        "diag": {"verify_s": verify_s, "root_count_fallbacks": fallbacks,
                 "queries_per_group": dict(Counter(groups[n] for n in names)),
                 "latency_by_query_ms": dict(zip([n for n in names if n in rows], lat_ms))},
    }
