"""Arbitrary stateful streaming via transformWithStateInPandas.

The engine's tested custom-state path is ``applyInPandasWithState``
(operators/gapfill.py).  This module is the forward path on Spark 4's
transformWithState API — explicit per-key state variables with native
TTL and timers, the exact analog of the reference's RowMonitor state +
timer flushes (src/Runtime/RowMonitor.cs) without its hand-rolled sweep
loop.

ENVIRONMENT GATE: the TWS Python runner needs a working
``google.protobuf``; this container ships a broken protobuf install, so
:func:`tws_available` reports capability and the unit test skips when
absent.  The processor logic itself is plain pandas and identical in a
healthy environment.

Scale notes: state lives in the RocksDB state store (required by TWS),
partitioned by the group key, so memory is O(active keys / executor)
with TTL-driven eviction — the knob dropDuplicates lacks (its state
only ages out with an event-time watermark).  The provider is ALWAYS
selected together with changelog checkpointing
(:func:`ensure_rocksdb_provider`): the r9 ladder measured
snapshot-default RocksDB failing at even 1k keys (SCALING.md round-9).
"""

from __future__ import annotations

import re
import warnings

from pyspark.sql import DataFrame, SparkSession

ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
ROCKSDB_CHANGELOG_CONF = (
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
)

# The r11 strong-scaling probe (SCALING.md round-11; STREAM_THROUGHPUT.json
# v6 runs rocksdb_cl@100000@c8) measured a node whose state-shard count
# reaches 2x its cores sustaining NOTHING at ANY input rate: 16 shards on
# 8 cores fail at both 45k and 180k rows/s with the SAME ~12.5 s mean
# batch, a rate-independent per-trigger commit fixed-cost floor
# (shards x stateful queries = commits that must all finish inside the
# trigger).  Shards <= cores legs sustained at every probed scale.
SHARD_COLLAPSE_RATIO = 2.0


def shard_allocation_verdict(
    shards: int, cores: int, n_stateful_queries: int = 1
) -> str | None:
    """Apply the measured shards-per-node <= cores deployment rule.

    Returns a warning message when ``shards`` exceeds ``cores`` (the
    rule the r11 proportional-scaling legs validated), escalating to
    the measured-collapse wording at >= SHARD_COLLAPSE_RATIO x; None
    when the allocation is safe.  Pure function so the heuristic is
    unit-testable without a session.
    """
    if cores <= 0 or shards <= cores:
        return None
    commits = shards * max(1, n_stateful_queries)
    head = (
        f"state-shard allocation exceeds commit parallelism: "
        f"{shards} shuffle partitions (state shards) on {cores} cores "
        f"with {max(1, n_stateful_queries)} stateful quer"
        f"{'y' if max(1, n_stateful_queries) == 1 else 'ies'} = "
        f"{commits} state-store commits per trigger. "
    )
    if shards >= SHARD_COLLAPSE_RATIO * cores:
        return head + (
            "At this ratio (>= 2x cores) the r11 strong-scaling probe "
            "measured the composed topology sustaining NOTHING at any "
            "input rate — commit fixed cost alone exceeds the trigger "
            "(STREAM_THROUGHPUT.json v6, 8-core legs; SCALING.md "
            "round-11).  Set spark.sql.shuffle.partitions <= cores per "
            "node, partitioning the key space with the nodes."
        )
    return head + (
        "The measured deployment rule is shards-per-node <= cores "
        "(SCALING.md round-11): every sustained leg kept shards <= "
        "cores; oversubscribed allocations pay commit fixed cost "
        "before any data is processed.  Reduce "
        "spark.sql.shuffle.partitions or add cores."
    )


def parse_local_master_threads(master: str) -> int | None:
    """Thread count of a local master string — "local[8]" -> 8,
    "local[2,4]" (maxFailures form) -> 2 — or None when not a
    fixed-thread local master ("local[*]", "spark://...").  Shared by
    the shard guard and tools/streaming_throughput_probe.py so the two
    never disagree about the same session (r12 review)."""
    m = re.search(r"local\[(\d+)", master)
    return int(m.group(1)) if m else None


def _session_cores(spark: SparkSession) -> int:
    """Commit parallelism of this session: local[N] thread count when
    parseable, else the scheduler's defaultParallelism (= total
    executor cores on a real cluster)."""
    threads = parse_local_master_threads(
        spark.conf.get("spark.master", "")
    )
    if threads is not None:
        return threads
    try:
        return spark.sparkContext.defaultParallelism
    except Exception:
        return 0


def warn_if_shards_exceed_cores(
    spark: SparkSession, n_stateful_queries: int = 1
) -> str | None:
    """Session-level wrapper over :func:`shard_allocation_verdict`:
    reads shuffle partitions + cores from the session and emits the
    warning at topology start.  Returns the message (or None) so
    callers can also route it to an incident bus."""
    try:
        shards = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    except ValueError:
        # Non-integer value (e.g. "auto" on AQE-managed platforms):
        # the real shard allocation is decided at runtime and unknown
        # here, so skip the check — same no-evidence rule as cores <= 0
        # — rather than warn on a fabricated count (r12 ADVICE).
        return None
    msg = shard_allocation_verdict(
        shards, _session_cores(spark), n_stateful_queries
    )
    if msg is not None:
        warnings.warn(msg, stacklevel=3)
    return msg


def ensure_rocksdb_provider(
    spark: SparkSession, check_shards: bool = True
) -> None:
    """Select the RocksDB state store the PRODUCTION way: provider +
    changelog checkpointing, always as a pair.

    ``check_shards=False`` skips the shards <= cores warning for
    deployers that re-check with their real stateful-query count
    immediately after (e.g. ensure_rocksdb_provider then
    start_streaming_cascade), so the session warns once with the
    accurate commit arithmetic instead of twice with conflicting
    counts (r12 ADVICE).

    The r9 state-store ladder (SCALING.md round-9;
    STREAM_THROUGHPUT_KEYS.json v3) measured snapshot-default RocksDB
    as a trap — 41 s micro-batches at 10k keys, 10× worse than the
    HDFS-backed store and NOT sustained even at 1k keys, because every
    commit re-uploads a full SST snapshot.  With changelog
    checkpointing the commit writes only the delta and RocksDB reaches
    HDFS-store parity up to the 500k-key knee.  So the engine never
    sets the provider alone; if the USER's session already selected
    RocksDB without the flag, warn instead of silently overriding
    their config.
    """
    # Provider selection is the one hook every production stateful
    # topology passes through, so apply the shards <= cores deployment
    # rule here too (conservative n_stateful_queries=1; topology
    # deployers like start_streaming_cascade re-check with their real
    # query count and should pass check_shards=False here).
    if check_shards:
        warn_if_shards_exceed_cores(spark, 1)
    provider = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", ""
    )
    if "rocksdb" not in provider.lower():
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER
        )
        spark.conf.set(ROCKSDB_CHANGELOG_CONF, "true")
        return
    if spark.conf.get(ROCKSDB_CHANGELOG_CONF, "false").lower() != "true":
        warnings.warn(
            "RocksDB state store is selected without "
            f"{ROCKSDB_CHANGELOG_CONF}=true: snapshot-mode commits "
            "re-upload full SSTs and were measured NOT sustained even "
            "at 1k keys (SCALING.md round-9 ladder). Set the flag "
            "unless you specifically need snapshot checkpoints.",
            stacklevel=3,
        )


def tws_available() -> bool:
    """True iff the transformWithState Python runner can start here."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except Exception:
        return False


def streaming_first_seen_dedup(df: DataFrame, keys: list[str]) -> DataFrame:
    """Exactly-once-per-key pass-through: the first row of each key is
    emitted and every later arrival is dropped; the seen-marker is kept
    forever.  Streaming exact-dedup for a document pipeline: key on
    ``fingerprint(text)`` and duplicates die in-flight.
    """
    from pyspark.sql.streaming import StatefulProcessor

    out_schema = df.schema

    class FirstSeen(StatefulProcessor):
        def init(self, handle):
            self._seen = handle.getValueState("seen", "hit boolean")

        def handleInputRows(self, key, rows, timer_values):
            if self._seen.exists():
                return
            self._seen.update((True,))
            for pdf in rows:
                if len(pdf):
                    yield pdf.head(1)
                    return

        def close(self):
            pass

    ensure_rocksdb_provider(df.sparkSession)
    return df.groupBy(*keys).transformWithStateInPandas(
        FirstSeen(), out_schema, "append", "ProcessingTime"
    )
