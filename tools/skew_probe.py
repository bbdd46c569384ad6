"""Adversarial key-skew probe: zipf-distributed keys at 10x scale.

The driver's synthetic tables have near-uniform keys, so the salted /
AQE-skew paths are never actually stressed by the correctness sweeps.
This probe generates a zipf(s~1.2) key distribution (the head key owns
a double-digit percent of all rows — the "one hot advertiser / one
boilerplate template" shape) at the 10x row scale and runs the three
operator families whose topology must absorb skew:

- hot-key aggregation: ``salted_agg`` two-stage GROUP BY vs the plain
  one-shot GROUP BY on the same frame (AQE cannot split an aggregate);
- funnel: per-user window chains where one user is millions of rows;
- ANN join: an embedding corpus where ~30% of vectors collapse into
  one tight cluster, so one IVF cell dominates the cell equi-join.

Straggler detection reads per-stage task-time quantiles from the
Spark REST API (the probe session re-enables the UI): a stage whose
max task runtime exceeds STRAGGLER_RATIO x its median — over stages
with enough tasks and non-trivial medians — fails the probe, and so
does a leg that leaves no stage to examine (a PASS must mean stages
were checked).  "Enough tasks" is min(MIN_TASKS, the session's default
parallelism), so a small host still examines its full-width stages.
Results are recorded in SCALING.md "Measured scale probe".

Usage: python tools/skew_probe.py            (runs all three probes)
Timing note: run on an idle box; concurrent Spark runs oversubscribe
the cores and manufacture fake stragglers.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np

from ksql_linq_spark.session import build_session

STRAGGLER_RATIO = 5.0
MIN_TASKS = 8          # ignore trivially small stages (capped at defaultParallelism)
MIN_MEDIAN_MS = 50.0   # ignore stages where scheduling noise dominates

N_EVENTS = 1_000_000
N_USERS = 100_000
N_VECS = 200_000
DIM = 64


def _gen_data(spark, root: str) -> None:
    rng = np.random.default_rng(42)
    # zipf over a bounded key domain: rank r gets mass ~ 1/r^1.2
    ranks = np.arange(1, N_USERS + 1, dtype=np.float64)
    p = ranks ** -1.2
    p /= p.sum()
    users = rng.choice(N_USERS, size=N_EVENTS, p=p).astype(np.int64)
    head_share = (users == 0).mean()
    print(f"events: head key owns {head_share:.1%} of {N_EVENTS} rows")
    etypes = np.array(["view", "click", "purchase", "refund", "other"])
    ev = {
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "user_id": users,
        "event_type": etypes[rng.choice(5, size=N_EVENTS, p=[0.6, 0.25, 0.08, 0.02, 0.05])],
        "ts_us": (1704067200_000_000 + rng.integers(0, 7 * 86400 * 10**6, N_EVENTS)),
        "value": np.round(rng.uniform(0, 100, N_EVENTS), 2),
    }
    import pandas as pd

    edf = pd.DataFrame(ev)
    edf["ts"] = pd.to_datetime(edf.pop("ts_us"), unit="us")
    spark.createDataFrame(edf).write.mode("overwrite").parquet(f"{root}/events")

    # embeddings: 30% in one tight cluster (hot IVF cell), rest uniform
    hot = int(N_VECS * 0.3)
    centroid = rng.normal(0, 1, DIM)
    vecs = np.vstack(
        [
            centroid + rng.normal(0, 0.01, (hot, DIM)),
            rng.normal(0, 1, (N_VECS - hot, DIM)),
        ]
    ).astype(np.float32)
    vdf = pd.DataFrame(
        {"vec_id": np.arange(N_VECS, dtype=np.int64), "embedding": list(map(list, vecs))}
    )
    spark.createDataFrame(vdf).write.mode("overwrite").parquet(f"{root}/emb")


def _rest(spark, path: str):
    sc = spark.sparkContext
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}{path}"
    with urllib.request.urlopen(url) as r:
        return json.load(r)


def _stage_straggler_ratios(spark, stages) -> list[tuple[str, float, float, int]]:
    """(stage name, max/median runtime ratio, median ms, tasks) per
    examined stage of ``stages`` (REST completed-stage records)."""
    min_tasks = min(MIN_TASKS, spark.sparkContext.defaultParallelism)
    out = []
    for st in stages:
        sid, att = st["stageId"], st["attemptId"]
        if st["numCompleteTasks"] < min_tasks:
            continue
        q = _rest(spark, f"/stages/{sid}/{att}/taskSummary?quantiles=0.5,1.0")
        med, mx = q["executorRunTime"]
        if med < MIN_MEDIAN_MS:
            continue
        out.append((st["name"].split("\n")[0][:60], mx / max(med, 1.0), med, st["numCompleteTasks"]))
    return out


def straggler_verdict(ratios: list[tuple[str, float, float, int]]) -> bool:
    """True when at least one stage was examined and none has a
    max/median task-runtime ratio above STRAGGLER_RATIO."""
    return bool(ratios) and all(r[1] <= STRAGGLER_RATIO for r in ratios)


def _run(spark, label: str, fn) -> bool:
    spark.sparkContext._jsc.sc().statusStore()  # touch
    before = {st["stageId"] for st in _rest(spark, "/stages?status=COMPLETE")}
    t0 = time.time()
    n = fn()
    dt = time.time() - t0
    # only the stages this leg ran: an earlier leg's stages must not
    # stand in for a leg that examined none of its own
    stages = [
        st for st in _rest(spark, "/stages?status=COMPLETE")
        if st["stageId"] not in before
    ]
    ratios = _stage_straggler_ratios(spark, stages)
    worst = max(ratios, key=lambda r: r[1]) if ratios else ("-", 0.0, 0, 0)
    ok = straggler_verdict(ratios)
    status = "OK" if ok else ("STRAGGLER" if ratios else "NO STAGES EXAMINED")
    print(
        f"{label}: {dt:.2f}s rows={n} stages={len(ratios)} "
        f"worst max/median={worst[1]:.2f} (median {worst[2]:.0f} ms, "
        f"{worst[3]} tasks, {worst[0]!r}) -> {status}"
    )
    return ok


def main() -> int:
    root = "/tmp/skew_probe"
    # --no-aqe-skew (r7, VERDICT r6 item 7): rerun the probes with AQE's
    # skew-join split disabled to separate operators whose skew story is
    # shape-safe BY CONSTRUCTION (salted_agg's two-stage agg, funnel's
    # user-local windows) from those that lean on AQE's runtime
    # re-partitioning (plain hot-key joins).  A straggler that appears
    # only in this mode is an AQE dependency, not a topology bug.
    no_aqe_skew = "--no-aqe-skew" in sys.argv[1:]
    extra = {"spark.ui.enabled": "true"}
    if no_aqe_skew:
        extra["spark.sql.adaptive.skewJoin.enabled"] = "false"
        print("mode: AQE skew-join split DISABLED")
    spark = build_session(
        "skew-probe" + ("-noaqe" if no_aqe_skew else ""), extra_conf=extra
    )
    spark.sparkContext.setLogLevel("ERROR")
    if not os.path.exists(f"{root}/events"):
        _gen_data(spark, root)

    from pyspark.sql import functions as F

    from ksql_linq_spark.operators.funnel import funnel_report
    from ksql_linq_spark.operators.similarity import ann_join
    from ksql_linq_spark.operators.skew import salted_agg

    ev = spark.read.parquet(f"{root}/events")
    emb = spark.read.parquet(f"{root}/emb")
    ok = True

    # legs run sequentially in one session; _run judges each leg on
    # the stages that completed during it
    ok &= _run(
        spark,
        "salted_agg(zipf user_id)",
        lambda: salted_agg(
            ev,
            ["user_id"],
            {
                "n": (F.count, F.sum, F.lit(1)),
                "total": (F.sum, F.sum, "value"),
                "hi": (F.max, F.max, "value"),
            },
            salt_col="event_id",
        ).count(),
    )
    ok &= _run(
        spark,
        "plain groupBy(zipf user_id)",
        lambda: ev.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"), F.sum("value").alias("total")
        ).count(),
    )
    ok &= _run(
        spark,
        "funnel_report(zipf users)",
        lambda: funnel_report(ev, ["view", "click", "purchase"]).count(),
    )
    ok &= _run(
        spark,
        "ann_join(hot IVF cell)",
        lambda: ann_join(
            emb.filter(F.col("vec_id") % 100 == 0), emb, k=1,
            n_centroids=16, n_probes=2,
        ).count(),
    )
    print("PROBE", "PASS" if ok else "FAIL")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
