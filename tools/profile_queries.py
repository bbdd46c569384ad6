"""Per-query wall-clock decomposition for the optimization rounds.

For each named query (default: all), measures with the bench's own
methodology (noop sink) but SPLIT into phases:

- build_s:   Python DataFrame construction (entry_queries callable)
- plan_s:    analysis + optimization + physical planning (forced via
             queryExecution().executedPlan() before any job runs)
- exec_s:    the noop-sink write (actual job execution)
- eager_jobs: Spark jobs launched while the query is built and planned
             (a lineage cut runs the shuffle stages below it at build)
- jobs:      Spark jobs launched during exec (status tracker delta)
- stages:    stages launched during exec

Planning time is driver-side, single-threaded work (guide §7.3): at
100 TB it does not shrink with cluster size, so a query whose cost is
dominated by plan_s needs a *smaller expression tree*, not a faster
cluster.  ``--sort exec`` / ``--sort plan`` picks the ranking.

Usage: python tools/profile_queries.py [--top N] [--sf DIR] [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ksql_linq_spark.session import build_session, release_lineage_cuts


def main() -> None:
    args = [a for a in sys.argv[1:]]
    sf_dir = "/root/testdata/sf0.1"
    names: list[str] = []
    out_path = None
    i = 0
    while i < len(args):
        if args[i] == "--sf":
            sf_dir = args[i + 1]
            i += 2
        elif args[i] == "--out":
            out_path = args[i + 1]
            i += 2
        else:
            names.append(args[i])
            i += 1

    spark = build_session("profile")
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    if names:
        qs = {n: qs[n] for n in names}

    # warm like the bench does
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
    entry_mod.entry(spark).write.mode("overwrite").format("noop").save()

    tracker = spark.sparkContext.statusTracker()
    rows = {}
    for name, fn in list(qs.items()) * 2:  # pass 2 overwrites: warm numbers
        spark.sparkContext.setJobDescription(f"profile:{name}")
        try:
            jobs_at_start = set(tracker.getJobIdsForGroup(None))
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            # force full planning without running a job
            df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            jobs_before = tracker.getJobIdsForGroup(None)
            df.write.mode("overwrite").format("noop").save()
            t3 = time.perf_counter()
            jobs_after = tracker.getJobIdsForGroup(None)
            new_jobs = set(jobs_after) - set(jobs_before)
            n_stages = 0
            for j in new_jobs:
                ji = tracker.getJobInfo(j)
                if ji is not None:
                    n_stages += len(ji.stageIds)
            rows[name] = {
                "build_s": round(t1 - t0, 3),
                "plan_s": round(t2 - t1, 3),
                "exec_s": round(t3 - t2, 3),
                "total_s": round(t3 - t0, 3),
                "eager_jobs": len(set(jobs_before) - jobs_at_start),
                "jobs": len(new_jobs),
                "stages": n_stages,
            }
        except Exception as e:
            rows[name] = {"err": str(e)[:200]}
        finally:
            release_lineage_cuts(spark)
            spark.sparkContext.setJobDescription(None)

    ranked = sorted(
        (r for r in rows.items() if "err" not in r[1]),
        key=lambda kv: -kv[1]["total_s"],
    )
    print(f"{'query':42s} {'total':>7s} {'build':>7s} {'plan':>7s} "
          f"{'exec':>7s} {'eager':>5s} {'jobs':>4s} {'stg':>4s}")
    for name, r in ranked:
        print(f"{name:42s} {r['total_s']:7.3f} {r['build_s']:7.3f} "
              f"{r['plan_s']:7.3f} {r['exec_s']:7.3f} {r['eager_jobs']:5d} "
              f"{r['jobs']:4d} {r['stages']:4d}")
    for name, r in rows.items():
        if "err" in r:
            print(f"ERR {name}: {r['err']}")
    if out_path:
        with open(out_path, "w") as f:
            json.dump(rows, f, indent=1, sort_keys=True)
    sys.stdout.flush()
    os._exit(0)


if __name__ == "__main__":
    main()
