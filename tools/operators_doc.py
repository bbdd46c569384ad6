"""Generate OPERATORS.md — the user-facing operator index.

One row per registered query: family, query name, the implementing
package functions (parsed from the query body's imports / KF references),
a one-line summary (docstring head), and whether a full-strength DuckDB
oracle twin exists.  The point is consumability: a user picks an
operator here and jumps straight to the implementing module without
reading entry_queries.py (VERDICT r4 item 9).

Introspection only — no SparkSession, no query execution — so the
freshness test (tests/test_conformance.py) can regenerate and diff this
file on every pytest run.

Usage: python tools/operators_doc.py   (writes OPERATORS.md)
"""

from __future__ import annotations

import inspect
import os
import re
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod

FAMILIES = [
    # (prefix, section title)
    ("tpch_", "TPC-H reference suite"),
    ("agg_", "Aggregation (§2.4)"),
    ("ohlc_", "OHLC bars / cascade (§2.5 W1-W2)"),
    ("window_", "Windowing (§2.5)"),
    ("cascade_", "OHLC bars / cascade (§2.5 W1-W2)"),
    ("calendar_", "Market calendar (§2.5 W9-W10)"),
    ("join_", "Joins (§2.3)"),
    ("asof_", "Joins (§2.3)"),
    ("interval_", "Joins (§2.3)"),
    ("filter_", "Projection / filter (§2.2)"),
    ("scalar_", "Scalar functions (§2.7)"),
    ("conditional_", "Scalar functions (§2.7)"),
    ("json_", "Scalar functions (§2.7)"),
    ("url_crypto", "Scalar functions (§2.7)"),
    ("geo_", "Scalar functions (§2.7)"),
    ("orderby_", "Sort / limit / set ops (§2.6)"),
    ("setops_", "Sort / limit / set ops (§2.6)"),
    ("count_star", "Sort / limit / set ops (§2.6)"),
    ("retention_", "Sort / limit / set ops (§2.6)"),
    ("pivot_", "Sort / limit / set ops (§2.6)"),
    ("analytic_", "Window analytics (§2.6 superset)"),
    ("context_", "Context / DDL (§2.1)"),
    ("stream_", "Streaming (§2.1/§2.5)"),
    ("streaming_", "Streaming (§2.1/§2.5)"),
    ("dedup_", "Deduplication (LLM pipeline)"),
    ("pipeline_", "Curation pipelines (LLM pipeline)"),
    ("similarity_", "Similarity search / ANN (LLM pipeline)"),
    ("embedding_", "Embedding ops (LLM pipeline)"),
    ("text_", "Text analysis (LLM pipeline)"),
    ("corpus_", "Corpus statistics (LLM pipeline)"),
    ("multimodal_", "Multimodal (LLM pipeline)"),
    ("dataset_", "Dataset building (LLM pipeline)"),
    ("decontam_", "Decontamination (LLM pipeline)"),
    ("events_", "Event analytics"),
    ("mart_", "Warehouse marts"),
    ("audit_", "Data quality / audit"),
    ("scd_", "SCD / temporal"),
    ("approx_", "Sketches"),
    ("graph_", "Graph"),
    ("layout_", "Storage layout"),
    ("zorder_", "Storage layout"),
]

IMPORT_RX = re.compile(
    r"from \.(operators|streaming)\.(\w+) import ([\w ,()\n]+?)(?:\n\s*\n|\n\s*(?:from|import|[a-zA-Z_]+\s*=)|\))",
)
SIMPLE_IMPORT_RX = re.compile(r"from \.(operators|streaming)\.(\w+) import (.+)")


def impl_refs(fn) -> list[str]:
    """package functions the query body imports, as module.func strings."""
    try:
        src = inspect.getsource(fn)
    except (OSError, TypeError):
        return []
    out: list[str] = []
    for line in src.splitlines():
        m = SIMPLE_IMPORT_RX.search(line.strip())
        if not m:
            continue
        pkg, mod, names = m.groups()
        for name in names.split(","):
            name = name.strip().strip("()")
            if name and not name.startswith("_"):
                out.append(f"{pkg}/{mod}.{name.split(' as ')[0].strip()}")
    # KF.<Func> scalar-registry references
    kf = sorted(set(re.findall(r"KF\.([A-Za-z]\w+)", src)))
    out.extend(f"functions.{n}" for n in kf)
    return out


def family_of(name: str) -> str:
    for prefix, title in FAMILIES:
        if name.startswith(prefix):
            return title
    return "Core query surface"


def summary_of(fn) -> str:
    doc = inspect.getdoc(fn) or ""
    head = doc.split("\n\n")[0].replace("\n", " ").strip()
    return (head[:157] + "...") if len(head) > 160 else head


# streaming/runtime surface without registered queries (exercised by
# tests/test_streaming.py etc. — Structured Streaming has no DuckDB
# twin); (module, symbol) pairs are import-checked by the freshness test
RUNTIME_SURFACE = [
    ("streaming/windows", "windowed_aggregate",
     "tumbling/hopping/session aggregation, grace→watermark, EMIT CHANGES/FINAL"),
    ("streaming/windows", "stream_stream_join", "WITHIN-windowed stream-stream join"),
    ("streaming/windows", "stream_static_join", "stream-table snapshot join"),
    ("streaming/windows", "keyed_table_sink",
     "keyed upsert sink with tombstone delete-on-null (TABLE cache analog)"),
    ("streaming/windows", "idempotent_append_sink",
     "exactly-once append across restarts/replay"),
    ("streaming/changelog_join", "stream_changelog_join",
     "true changelog stream-TABLE join with tombstones (stateful)"),
    ("streaming/consume", "Consumer", "ForEachAsync analog: retry/DLQ/commit loop"),
    ("streaming/dlq", "envelope", "DLQ error envelope (topic/offset keys, fingerprint)"),
    ("streaming/monitor", "QueryMonitor", "lag snapshot + heartbeat per query"),
    ("streaming/incidents", "IncidentBus",
     "runtime incident pub/sub (late_drop/restart/terminated via listener)"),
    ("streaming/incidents", "attach_incident_listener",
     "StreamingQueryListener adapter publishing incidents to a bus"),
    ("operators/cascade", "start_streaming_cascade",
     "multi-timeframe OHLC cascade as chained checkpointed queries"),
    ("operators/gapfill", "streaming_gap_fill",
     "carry-forward continuation via applyInPandasWithState, state in 64 key-hash shards"),
    ("runtime", "TimeBucket", "pull-read API over per-timeframe bar tables"),
    ("runtime", "HoppingWindowReader", "pull-read over hopping-window tables"),
    ("sources", "read_stream_from_table", "file-stream source over driver parquet"),
]


def generate() -> str:
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    by_family: dict[str, list[str]] = defaultdict(list)
    for name in sorted(qs):
        by_family[family_of(name)].append(name)
    lines = [
        "# OPERATORS — user-facing index (generated by tools/operators_doc.py)",
        "",
        f"{len(qs)} registered queries; every row has a driver-scored entry in",
        "`__spark_entry__.queries()`.  *oracle* = a full-strength DuckDB SQL",
        "twin exists (value-hash checked by the driver); rows without one are",
        "rows-only checked (non-SQL-expressible ops).  *implementation* lists",
        "the `ksql_linq_spark` functions the query composes — jump there, not",
        "to entry_queries.py.  Regenerate: `python tools/operators_doc.py`.",
        "",
    ]
    for family in sorted(by_family):
        lines += [f"## {family}", ""]
        lines.append("| query | implementation | oracle | summary |")
        lines.append("|---|---|---|---|")
        for name in by_family[family]:
            fn = qs[name]
            refs = impl_refs(fn)
            impl = "<br>".join(f"`{r}`" for r in refs[:4]) or "DataFrame/SQL built-ins"
            if len(refs) > 4:
                impl += f"<br>+{len(refs) - 4} more"
            lines.append(
                f"| `{name}` | {impl} | {'y' if name in oracles else 'rows-only'} "
                f"| {summary_of(fn)} |"
            )
        lines.append("")
    lines += [
        "## Streaming / runtime surface (no oracle twin — Structured",
        "Streaming semantics, exercised by tests/test_streaming.py and",
        "tests/test_runtime_calendar.py)",
        "",
        "| API | summary |",
        "|---|---|",
    ]
    for mod, sym, summary in RUNTIME_SURFACE:
        lines.append(f"| `{mod}.{sym}` | {summary} |")
    lines.append("")
    return "\n".join(lines) + "\n"


def main() -> None:
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "OPERATORS.md"
    )
    with open(out, "w") as f:
        f.write(generate())
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
