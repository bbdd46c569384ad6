"""SparkSession factory tuned for this engine.

The reference (synthaicode/Ksql.Linq) boots a KsqlContext that connects to
ksqlDB + Kafka (src/Context/KsqlContext.Lifecycle.cs:210-298).  Here the
"context boot" is just building a SparkSession with scale-appropriate
defaults:

- UTC session timezone (oracle comparisons + deterministic date math),
- AQE on (runtime re-planning, skew-join handling at scale),
- shuffle partitions sized to cores locally; on a real cluster AQE
  coalesces from the configured initial number,
- a driver heap sized from the host's physical RAM,
- Arrow enabled for the Pandas-UDF paths (vectorized python boundary).
"""

from __future__ import annotations

import os
from collections.abc import Mapping

from pyspark.sql import SparkSession

def host_defaults(
    env: Mapping[str, str], cpu_count: int | None, ram_bytes: int
) -> tuple[int, str]:
    """(cores, ``spark.driver.memory``) for :func:`build_session`.

    ``SPARK_GRAFT_CPUS`` and ``SPARK_GRAFT_DRIVER_MEM`` win when set.
    Otherwise the cores are the host's, and the heap is a quarter of
    physical RAM (the JVM's own default max-heap fraction), between 1 g
    and the 24 g measured on a 128 GiB host (see :func:`build_session`)
    — a fixed 24 g would exceed the RAM of a small host."""
    cpus = int(env.get("SPARK_GRAFT_CPUS") or cpu_count or 1)
    mem = env.get("SPARK_GRAFT_DRIVER_MEM")
    if not mem:
        mb = min(max(ram_bytes // 4 // 2**20, 1024), 24 * 1024)
        mem = f"{mb}m"
    return cpus, mem


def build_session(
    app_name: str = "ksql_linq_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus, driver_mem = host_defaults(
        os.environ,
        os.cpu_count(),
        os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES"),
    )
    master = master or f"local[{cpus}]"
    sp = shuffle_partitions or cpus
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # driver parquet stores event time as TIMESTAMP(NANOS) which Spark
        # rejects; read as raw long nanos (sources.read_table converts)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # parquet isAdjustedToUTC=false timestamps read as TIMESTAMP (LTZ),
        # not TIMESTAMP_NTZ — watermarks/unix_seconds/intervals need LTZ and
        # a UTC session tz keeps the values equal to the naive oracle read
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # let AQE rewrite sort-merge -> shuffled-hash at runtime when a
        # join's largest post-shuffle partition is provably small
        # (guide §3.1: SHJ skips both sorts; the decision is made from
        # MEASURED partition bytes, so at 100 TB oversized partitions
        # keep the spill-safe SMJ — scale-adaptive by construction).
        # Default 0 in Spark (off); 64m here, env-tunable per cluster.
        # Interleaved min-of-4 A/B at sf0.1: similarity_ann_join -1.07 s,
        # decontamination_overlap -0.64 s, dedup_minhash_clusters
        # -0.32 s, worst mover +0.16 s.
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            os.environ.get("SPARK_GRAFT_SHJ_LOCAL_MAP_THRESHOLD",
                           str(64 * 1024 * 1024)),
        )
        # local[32] runs driver+executors in ONE JVM; a 330-execution
        # bench (165 queries x 2 passes) accumulates codegen/broadcast/
        # plan caches, and an undersized heap GC-thrashes the tail
        # (trivial-plan queries ballooning to ~20 s, warm pass slower
        # than cold — observed r3 at 8g AND at 16g once the suite
        # passed ~160 queries).  24 g keeps full GCs out of steady
        # state on the 128 GiB test box; host_defaults scales it down
        # on smaller hosts.
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def release_lineage_cuts(spark: SparkSession) -> int:
    """Unpersist every cached/locally-checkpointed RDD block set.

    The lineage-cut sites (``localCheckpoint(eager=False)`` in
    operators/text.py, stats.py, graph.py, decontam.py, dataset.py —
    see SCALING.md "Known costs accepted deliberately") persist
    materialized blocks at MEMORY_AND_DISK with no explicit unpersist:
    in a long-lived session that repeatedly builds these operators,
    executor storage accumulates until Python GC + ContextCleaner
    reclaim the handles.  Interactive/batch jobs never notice (session
    ends, storage goes with it); a resident service should call this
    between logical requests.  Returns the number of RDDs released.

    Note localCheckpoint blocks are NOT fault-tolerant: losing an
    executor after the cut loses those blocks, and because the lineage
    was truncated Spark cannot recompute them — the enclosing action
    fails and must be retried from the start.  That is the documented
    price of cutting (reliable ``checkpoint()`` to HDFS is the
    alternative when executor churn is expected)."""
    jsc = spark.sparkContext._jsc.sc()
    persistent = jsc.getPersistentRDDs()
    it = persistent.iterator()
    n = 0
    while it.hasNext():
        it.next()._2().unpersist(False)
        n += 1
    return n
