"""Benchmark entry point for the ksql_linq_spark engine.

    python3 perfbench/run.py --workload {batch_suite,cascade_drain,pull_mixed}
                             --seed N --seconds S --trace {0,1}

Run from the repository root.  One process, one client.  The launcher
pins the environment before pyspark is imported: SPARK_GRAFT_CPUS = the
cores this process may use, a driver heap that fits the host, and every
temp dir, sink and checkpoint under a work dir inside the checkout that
is deleted at exit.  Inputs are generated from ``--seed``.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``).  The line before it is the host
block.  ``--trace 1`` also writes the spans and a result record under
``.perfbench_out/``.  See perfbench_smoke/METRICS.md for what each
metric means and which layer should move it.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from contextlib import contextmanager  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORKLOADS = ("batch_suite", "cascade_drain", "pull_mixed")
# Driver heap: 2g fits every workload with room on a 15 GiB host.  The
# heap size is fixed (-Xms = -Xmx) and so is the young generation
# (-Xmn), because G1's own resizing of both moved the JVM's peak RSS
# between 975 and 1406 MB over 14 runs of identical work.  The heap is
# not pre-touched: pages become resident only when the program uses
# them, so the JVM's peak RSS (about 1.1 GB, heap and native memory,
# with the 2 GB heap) follows what the program retains.
DRIVER_MEM = "2g"
YOUNG_GEN = "256m"


class Ctx:
    """What a workload needs: session, seeded inputs, tracer, timing marks."""

    def __init__(self, args, spark, work, tracer):
        self.spark, self.work, self.tracer = spark, work, tracer
        self.seed, self.seconds, self.scale = args.seed, args.seconds, args.scale
        self.corrupt = args.corrupt_expected
        self.repo = REPO
        self.cpus = len(os.sched_getaffinity(0))
        self.t_timed = None
        self.peak_rss_mb = None
        self.phases: dict[str, float] = {"session": time.perf_counter() - T_PROCESS}

    @contextmanager
    def phase(self, name: str):
        """Time one set-up step for the result record."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = self.phases.get(name, 0.0) + time.perf_counter() - t0

    def warm_workers(self) -> None:
        """Start the Arrow/pandas Python worker pool (one per core)."""
        self.spark.range(0, 4096, numPartitions=self.cpus).mapInPandas(
            lambda it: it, "id long").write.mode("overwrite").format("noop").save()

    def start_timed(self) -> None:
        self.t_timed = time.perf_counter()

    def end_timed(self) -> None:
        import probe

        self.peak_rss_mb = probe.peak_rss_mb(self.spark)

    @staticmethod
    def log(msg: str) -> None:
        print(f"# {msg}", file=sys.stderr, flush=True)


def metric_units(kind: str) -> dict[str, str]:
    """{name: unit} of the ``end_to_end`` or ``per_layer`` metrics that
    BENCHMARK.json declares."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def pin_environment(work: str) -> None:
    cpus = len(os.sched_getaffinity(0))
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYTHONPATH": REPO,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "OMP_NUM_THREADS": "1",
        "TZ": "UTC",
        # the JVM's perf-data file goes to /tmp whatever java.io.tmpdir says
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    }
    for d in (env["TMPDIR"], env["SPARK_LOCAL_DIRS"]):
        os.makedirs(d, exist_ok=True)
    os.environ.update(env)
    time.tzset()
    import tempfile

    tempfile.tempdir = env["TMPDIR"]


def descendants(pid: int) -> list[int]:
    """All live descendant pids of ``pid`` (from /proc)."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the session, the gateway JVM and every process under it."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.time() + 15
    while time.time() < deadline and any(_alive(p) for p in procs):
        time.sleep(0.1)
    for p in procs:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
    for p in procs:
        try:
            os.waitpid(p, 0)
        except ChildProcessError:
            pass


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: small inputs for the smoke run")
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="perturb one expected value (smoke run only)")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(REPO, "ksql_linq_spark")):
        print(f"perfbench: engine package ksql_linq_spark not found under {REPO}",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, REPO]
    work = os.path.join(REPO, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    pin_environment(work)
    load_start = os.getloadavg()

    import probe

    spark = None
    try:
        from ksql_linq_spark.session import build_session

        java_opts = (f"-Xms{DRIVER_MEM} -Xmn{YOUNG_GEN} -XX:-UsePerfData "
                     f"-Djava.io.tmpdir={os.environ['TMPDIR']}")
        spark = build_session("perfbench", extra_conf={
            "spark.driver.extraJavaOptions": java_opts,
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        })
        spark.sparkContext.setLogLevel("ERROR")
        tracer = probe.Tracer(bool(args.trace))
        ctx = Ctx(args, spark, work, tracer)
        mod = __import__(args.workload)
        res = mod.run(ctx)
        host = probe.host_block(spark, load_start)
    finally:
        t_stop = time.perf_counter()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    lat = res["latency_ms"]
    attempted, failed = res["attempted"], res["failed"]
    e2e = {
        "setup_s": ctx.t_timed - T_PROCESS,
        "throughput_per_s": res["throughput_per_s"],
        "latency_p50_ms": probe.percentile(lat, 50) if lat else float("nan"),
        "latency_p90_ms": probe.percentile(lat, 90) if lat else float("nan"),
        "peak_rss_mb": sum(ctx.peak_rss_mb.values()),
        "ok_ratio": (attempted - failed) / attempted,
    }
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "scale": args.scale, "host": host,
              "samples": len(lat), "end_to_end": e2e, "setup_phases_s": ctx.phases,
              "peak_rss_parts_mb": ctx.peak_rss_mb,
              "stop_s": time.perf_counter() - t_stop,
              "diag": res.get("diag", {})}
    out_dir = os.path.join(REPO, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}"
    if args.trace:
        layer = dict(res["per_layer"])
        layer["traced_throughput_per_s"] = res["throughput_per_s"]
        record["per_layer"] = layer
        record["self_time_s"] = tracer.self_times()
        base = os.path.join(out_dir, f"result-{stem}-trace0.json")
        if os.path.exists(base):
            with open(base) as f:
                untraced = json.load(f)["end_to_end"]["throughput_per_s"]
            record["trace_overhead_pct"] = 100.0 * (untraced / res["throughput_per_s"] - 1.0)
        tracer.dump(os.path.join(out_dir, f"spans-{stem}.json"))
        metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": u}
                   for n, u in metric_units("per_layer").items()}
    else:
        metrics = {n: {"value": float(e2e[n]), "unit": u}
                   for n, u in metric_units("end_to_end").items()}
    with open(os.path.join(out_dir, f"result-{stem}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print("# host " + json.dumps(host))
    if args.trace and "trace_overhead_pct" in record:
        print(f"# trace overhead {record['trace_overhead_pct']:.1f}% of untraced throughput")
    print(json.dumps({"correct": failed == 0 and len(lat) > 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
