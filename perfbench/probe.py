"""Measurement taken from outside the engine: host fingerprint, memory
high-water marks, in-memory spans, and readers for Spark's public status
surfaces (status tracker, SQL status store, streaming progress)."""

from __future__ import annotations

import json
import os
import platform
import re
import statistics
import time
from contextlib import contextmanager


# -- host ----------------------------------------------------------------

def _meminfo_mb(field: str) -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024.0
    return float("nan")


def host_block(spark, load_start: tuple) -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_mb": round(_meminfo_mb("MemTotal")),
        "spark": spark.version,
        "python": platform.python_version(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "loadavg_start": list(load_start),
        "loadavg_end": list(os.getloadavg()),
    }


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of one process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def peak_rss_mb(spark) -> dict[str, float]:
    """Peak RSS of the driver JVM and of this Python process, in MB."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return {"jvm": vm_hwm_mb(jvm_pid), "python": vm_hwm_mb()}


# -- statistics ------------------------------------------------------------

def percentile(xs: list[float], p: float) -> float:
    """Nearest-rank percentile (p in 0..100) of a non-empty sample."""
    s = sorted(xs)
    k = max(0, min(len(s) - 1, int(-(-p * len(s) // 100)) - 1))
    return s[k]


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


# -- spans -----------------------------------------------------------------

class Tracer:
    """In-memory spans (name, start, end, parent, attrs).  Disabled, it
    records nothing and ``span`` costs one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time covered by child spans."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child):
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - c)
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


# -- SQL status store --------------------------------------------------------

_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9,
          "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3,
          "TiB": 1024.0 ** 4}
_NUM = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")
_NODE = re.compile(r'^\s*(\d+) \[id="node\d+" labelType="html" label="(.*?)"', re.M)
_EDGE = re.compile(r"^\s*(\d+)->(\d+);", re.M)


def parse_metric(text: str) -> float:
    """'6,412' -> 6412; '1.2 s' -> 1.2; '16.2 MiB' -> bytes.  Timings in
    seconds, sizes in bytes.  For per-task metrics the total is used."""
    m = _NUM.match(text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def plan_nodes(spark, execution_id: int) -> tuple[dict, dict]:
    """{node_id: (name, {metric: value})} and {child: parent} for one SQL
    execution, read in one call from the status store's plan graph."""
    ss = spark._jsparkSession.sharedState().statusStore()
    dot = ss.planGraph(execution_id).makeDotFile(ss.executionMetrics(execution_id))
    nodes: dict[int, tuple[str, dict]] = {}
    for nid, label in _NODE.findall(dot):
        parts = [p for p in label.split("<br>") if p]
        name = re.sub(r"</?b>", "", parts[0]).strip() if parts else ""
        metrics: dict[str, float] = {}
        i = 1
        while i < len(parts):
            # per-task metrics span two lines:
            # "name total (min, med, max (stageId: taskId))" then "1.2 s (...)"
            key, sep, val = parts[i].partition(" total (min, med, max")
            if sep and i + 1 < len(parts):
                i += 1
                val = parts[i]
            else:
                key, _, val = parts[i].partition(": ")
            metrics[key.strip()] = parse_metric(val)
            i += 1
        nodes[int(nid)] = (name, metrics)
    parents = {int(c): int(p) for c, p in _EDGE.findall(dot)}
    return nodes, parents


_ROW_PRESERVING = ("OverwriteByExpression", "AppendData", "AdaptiveSparkPlan",
                   "WholeStageCodegen", "Project", "InputAdapter", "ColumnarToRow",
                   "AQEShuffleRead", "WriteToDataSourceV2", "Sort", "Window",
                   "Exchange", "ShuffleQueryStage")


def root_output_rows(nodes: dict, parents: dict) -> int | None:
    """Row count at the plan root: walk down from the root through
    row-preserving nodes to the first node reporting output rows."""
    children: dict[int, list[int]] = {}
    for c, p in parents.items():
        children.setdefault(p, []).append(c)
    roots = [n for n in nodes if n not in parents]
    node = min(roots) if roots else None
    while node is not None:
        name, metrics = nodes[node]
        if "number of output rows" in metrics:
            return int(metrics["number of output rows"])
        kids = children.get(node, [])
        if len(kids) != 1 or not name.startswith(_ROW_PRESERVING):
            return None
        node = kids[0]
    return None


class SqlStore:
    """Reads executions added to the SQL status store since a mark."""

    def __init__(self, spark):
        self.ss = spark._jsparkSession.sharedState().statusStore()

    def count(self) -> int:
        return int(self.ss.executionsCount())

    def executions_since(self, mark: int) -> list:
        lst = self.ss.executionsList()
        return [lst.apply(i) for i in range(mark, lst.size())]


def job_ids(execution) -> list[int]:
    keys = execution.jobs().keySet().iterator()
    out = []
    while keys.hasNext():
        out.append(int(keys.next()))
    return out


def stage_ids(execution) -> list[int]:
    it = execution.stages().iterator()
    out = []
    while it.hasNext():
        out.append(int(it.next()))
    return out


def execution_totals(spark, execution) -> dict[str, float]:
    """Per-execution totals from the status store and status tracker."""
    eid = int(execution.executionId())
    nodes, _ = plan_nodes(spark, eid)
    st = spark.sparkContext.statusTracker()
    stages = stage_ids(execution)
    tasks = 0
    for sid in stages:
        info = st.getStageInfo(sid)
        tasks += info.numTasks if info is not None else 0
    t = {"jobs": len(job_ids(execution)), "stages": len(stages), "tasks": tasks,
         "scan_s": 0.0, "shuffle_bytes": 0.0, "shuffle_write_s": 0.0,
         "fetch_wait_s": 0.0, "agg_s": 0.0, "sort_s": 0.0,
         "python_eval_s": 0.0, "spill_bytes": 0.0, "files_read": 0.0,
         "rows_scanned": 0.0}
    for name, m in nodes.values():
        t["scan_s"] += m.get("scan time", 0.0)
        t["files_read"] += m.get("number of files read", 0.0)
        if name.startswith(("Scan", "FileScan", "BatchScan")):
            t["rows_scanned"] += m.get("number of output rows", 0.0)
        t["shuffle_bytes"] += m.get("shuffle bytes written", 0.0)
        t["shuffle_write_s"] += m.get("shuffle write time", 0.0)
        t["fetch_wait_s"] += m.get("fetch wait time", 0.0)
        t["agg_s"] += m.get("time in aggregation build", 0.0)
        t["sort_s"] += m.get("sort time", 0.0)
        t["spill_bytes"] += m.get("spill size", 0.0)
        t["python_eval_s"] += m.get("time to run Python workers", 0.0)
    return t


# -- streaming progress -------------------------------------------------------

def progress_summary(progresses: list[dict]) -> dict[str, float]:
    """Sums over the micro-batches one streaming query executed; state
    size from the last progress report."""
    out = {"add_batch_ms": 0.0, "plan_ms": 0.0, "offsets_ms": 0.0,
           "commit_ms": 0.0, "state_commit_ms": 0.0, "state_rows": 0.0,
           "state_bytes": 0.0, "batches": 0.0, "dropped": 0.0}
    for p in progresses:
        d = p.get("durationMs", {})
        out["add_batch_ms"] += d.get("addBatch", 0)
        out["plan_ms"] += d.get("queryPlanning", 0)
        out["offsets_ms"] += d.get("latestOffset", 0) + d.get("getBatch", 0)
        out["commit_ms"] += d.get("walCommit", 0) + d.get("commitOffsets", 0)
        out["batches"] += int("addBatch" in d)
        for so in p.get("stateOperators", []):
            out["state_commit_ms"] += so.get("commitTimeMs", 0)
            out["dropped"] += so.get("numRowsDroppedByWatermark", 0)
    if progresses:
        for so in progresses[-1].get("stateOperators", []):
            out["state_rows"] += so.get("numRowsTotal", 0)
            out["state_bytes"] += so.get("memoryUsedBytes", 0)
    return out
