"""Per-site A/B of the lineage cuts (``session.cut``).

For each named query, finds the cut sites its build reaches (by the
caller's ``file:line``), then builds and runs the query with every cut
and, per site, with that one site's cut replaced by the identity —
interleaved, with the variant order rotating each run.  Per variant it
reports the medians of:

- scans:      parquet scans per table in the final plan (``explain``)
- build_s:    Python DataFrame construction, cut builds included
- eager_jobs: Spark jobs launched during the build (job group)
- exec_s:     planning + the noop-sink write

The graph queries answer from the driver below ``driver_max_edges``,
where no cut runs; they are measured in the distributed regime
(``graph._fetch_if_small`` forced to decline).

Usage: python tools/cut_ab.py --sf DIR [--runs N] [--out PATH] [query ...]
"""

from __future__ import annotations

import importlib
import io
import json
import os
import pkgutil
import re
import statistics
import sys
import time
from collections import Counter
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import ksql_linq_spark  # noqa: E402
from ksql_linq_spark import session  # noqa: E402
from ksql_linq_spark.operators import graph  # noqa: E402

OWNERS = [
    "dedup_minhash_clusters",
    "dedup_graph_triangles",
    "decontamination_overlap",
    "decontamination_overlap_hll",
    "text_unigram_logprob",
    "events_mad_outliers",
    "events_psi_drift",
    "dataset_remove_dup_ngrams",
    "dataset_quality_deciles",
    "events_dau_wau_stickiness",
    "events_type_cooccurrence_lift",
]
GRAPH_QUERIES = {"dedup_minhash_clusters", "dedup_graph_triangles"}


class Cuts:
    """Stands in for ``session.cut`` in every module that imported it:
    counts calls per site and skips the site named by ``skip``."""

    def __init__(self):
        self.skip = None
        self.seen: Counter = Counter()

    def __call__(self, df):
        f = sys._getframe(1)
        site = (
            f"{os.path.relpath(f.f_code.co_filename, ROOT)}:"
            f"{f.f_code.co_name}:{f.f_lineno}"
        )
        self.seen[site] += 1
        return df if site == self.skip else session.cut(df)


def main() -> None:
    args = sys.argv[1:]
    sf_dir, runs, out_path, names = None, 5, None, []
    while args:
        a = args.pop(0)
        if a == "--sf":
            sf_dir = args.pop(0)
        elif a == "--runs":
            runs = int(args.pop(0))
        elif a == "--out":
            out_path = args.pop(0)
        else:
            names.append(a)
    if sf_dir is None:
        sys.exit(__doc__)
    names = names or OWNERS

    spark = session.build_session(
        "cut_ab", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    cuts = Cuts()
    for m in pkgutil.walk_packages(ksql_linq_spark.__path__, "ksql_linq_spark."):
        mod = importlib.import_module(m.name)
        if mod is not session and getattr(mod, "cut", None) is session.cut:
            mod.cut = cuts
    real_fetch = graph._fetch_if_small
    sc = spark.sparkContext

    def run_once(name):
        group = f"cut-ab-{name}-{time.monotonic_ns()}"
        sc.setJobGroup(group, group)
        try:
            t0 = time.perf_counter()
            df = qs[name](spark, sf_dir)
            t1 = time.perf_counter()
            eager = len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("simple")
        scans = Counter(re.findall(r"/(\w+)\.parquet", buf.getvalue()))
        t2 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        t3 = time.perf_counter()
        session.release_lineage_cuts(spark)
        return {"build_s": t1 - t0, "exec_s": t3 - t2, "eager_jobs": eager,
                "scans": dict(scans)}

    report = {"sf_dir": sf_dir, "runs": runs, "cpus": os.cpu_count(),
              "spark": spark.version, "loadavg_start": os.getloadavg()[0],
              "queries": {}}
    for name in names:
        graph._fetch_if_small = (
            (lambda frame, gate: None) if name in GRAPH_QUERIES else real_fetch
        )
        cuts.skip, cuts.seen = None, Counter()
        run_once(name)  # warm-up; also discovers the sites
        calls = dict(cuts.seen)
        variants = [None] + sorted(calls)
        samples = {v: [] for v in variants}
        for r in range(runs):
            k = r % len(variants)
            for v in variants[k:] + variants[:k]:
                cuts.skip = v
                samples[v].append(run_once(name))
        cuts.skip = None
        rows = {}
        for v, ss in samples.items():
            rows[v or "all cuts"] = {
                "cut_calls": calls.get(v),
                "scans": ss[0]["scans"],
                "eager_jobs": statistics.median(s["eager_jobs"] for s in ss),
                "build_s": round(statistics.median(s["build_s"] for s in ss), 3),
                "exec_s": round(statistics.median(s["exec_s"] for s in ss), 3),
            }
        report["queries"][name] = rows
        print(json.dumps({name: rows}), flush=True)
    report["loadavg_end"] = os.getloadavg()[0]
    if out_path:
        with open(out_path, "w") as f:
            json.dump(report, f, indent=1, sort_keys=True)
    sys.stdout.flush()
    os._exit(0)


if __name__ == "__main__":
    main()
