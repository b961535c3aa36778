"""Benchmark of the rollup engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload ingest_backfill --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout. It builds nothing: the package is
imported from the checkout, and a run fails (exit code 2, no result)
when the package is not there. Each run starts from an empty scratch
directory, ``.perfbench_run/`` in the checkout, and leaves everything it
writes there.

A run: start Spark, set up the workload (make its inputs, build its
warehouse, run its untimed warm-up ops), then run ops in a closed loop
for ``--seconds`` and check every op's result against DuckDB. The last
line of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` starts
Spark with the event log on, wraps the package's public functions
(``spans.py``), runs traced ops for ``--seconds`` and reports per-layer
metrics (``layer_metrics``), including the tracing overhead against the
same ops run untraced afterwards.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import types

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402
import oracle  # noqa: E402
from inputs import PANELS  # noqa: E402
from spans import NULL_TRACER, Tracer, install, layer_times, write_layer  # noqa: E402
from workloads import WORKLOADS, dir_bytes  # noqa: E402

RUN_DIR = ".perfbench_run"
# one core fewer than the machine has, at most four: the driver JVM's
# scheduler, collector and compiler threads and the Python client need
# a core too. A process spinning on one core slowed a local[4] backfill
# op by 23% and a local[3] one by 10%; unloaded, the two ran within
# their run-to-run noise (7.6 s and 7.9 s)
CORES = max(1, min(4, os.cpu_count() or 1) - 1)
DRIVER_MEM = "2g"
# settings the package reads, sized to a 4-core machine and a small
# warehouse: the package defaults (local[32], a 24g heap, 256 url and 64
# state buckets) are sized for a 32-core host
SETTINGS = {
    "SPARK_GRAFT_CPUS": str(CORES),
    "SPARK_GRAFT_SHUFFLE_PARTITIONS": str(CORES),
    "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
    "SPARK_GRAFT_URL_BUCKETS": "32",
    "SPARK_GRAFT_STATE_BUCKETS": "8",
}
# a fixed, pre-touched heap: the JVM's resident set then does not depend
# on when the collector chose to grow the heap, so peak_rss_mb is steady
# from run to run and moves with what the JVM holds outside the heap.
# C1 only: with the C2 compiler an op kept getting faster for seven ops
# and more after the warm-up (11.8 s, then 8.8 s, down to 7.7 s), so a
# run's figures hung on how far the compiler had got; with C1 alone 20
# backfill ops after the warm-up went 8.5 s, 7.8 s, 8.0 s, then 6.7-7.5 s.
# C1 code fills the default 48 MB code cache, so it is made larger.
DRIVER_JAVA_OPTIONS = (
    f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
    " -XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=256m"
)

LAYERS = (
    "plans.pipeline", "plans.checkpoint", "tables", "operators.rollup",
    "operators.cascade", "operators.fold", "operators.sketches",
    "operators.histogram", "operators.cold_store", "operators.router",
    "operators.lttb", "operators.gapfill", "queries", "session",
)
WRITE_LAYERS = (
    "plans.checkpoint", "operators.rollup", "operators.cascade", "operators.fold",
    "operators.sketches", "operators.histogram", "operators.cold_store",
)
LAYER_UNITS = {"wall_s": "s", "self_s": "s", "jobs": "count", "task_s": "s",
               "wait_s": "s", "shuffle_bytes": "B"}


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def layer_metric_units() -> dict[str, str]:
    """Every per-layer metric the traced run reports, with its unit."""
    out = {}
    for layer in LAYERS:
        for k, unit in LAYER_UNITS.items():
            out[f"{layer}.{k}"] = unit
    for layer in WRITE_LAYERS:
        out[f"{layer}.bytes_written"] = "B"
        out[f"{layer}.files_written"] = "count"
    out["session.gc_s"] = "s"
    out["tables.write_amplification"] = "ratio"
    out["operators.router.rows_per_result"] = "ratio"
    out["operators.cold_store.bytes_per_point"] = "B/point"
    for p in PANELS:
        out[f"serve.{p}_p50_ms"] = "ms"
    out["trace.op_p50_ms"] = "ms"
    out["trace.overhead_pct"] = "%"
    out["trace.peak_rss_mb"] = "MB"
    return out


# the end-to-end figures are medians over the ops of the whole timed
# window, and over at least this many however long they take, so that
# one op slowed by the host does not set them
E2E_MIN_OPS = 3
E2E_UNITS = {"setup_s": "s", "op_p50_ms": "ms", "docs_per_s": "1/s",
             "warehouse_bytes": "B", "peak_rss_mb": "MB"}


# ------------------------------------------------------------------ spark

def configure_env(run_dir: str) -> None:
    """Pin every setting the package reads from the environment, and keep
    Spark's and Python's scratch files inside the run directory."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ.update(SETTINGS)
    # SPARK_LOCAL_DIRS, when set, overrides spark.local.dir
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.environ["SPARK_LOCAL_DIRS"] = os.path.join(
        run_dir, "spark-local"
    )
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    # every JVM, the launcher's too: temp files in the run, no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    for d in ("spark-local", "tmp", "eventlog"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def load_package(root: str) -> types.SimpleNamespace:
    """The package's public modules, imported from the checkout at
    ``root``; ImportError when the checkout does not hold it."""
    sys.path.insert(0, root)
    import chainalytic_framework_spark as cfs

    if not os.path.abspath(cfs.__file__).startswith(os.path.join(root, "")):
        raise ImportError(f"package found outside the checkout: {cfs.__file__}")
    from pyspark.sql import functions as F

    from chainalytic_framework_spark import queries, session, synth
    from chainalytic_framework_spark.operators import bucketing, gapfill, lttb, router
    from chainalytic_framework_spark.plans import pipeline
    from chainalytic_framework_spark.tables import TableStore

    return types.SimpleNamespace(
        F=F, queries=queries, session=session, synth=synth, bucketing=bucketing,
        gapfill=gapfill, lttb=lttb, router=router, pipeline=pipeline, TableStore=TableStore,
    )


def start_session(pkg, run_dir: str, eventlog: bool):
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": DRIVER_JAVA_OPTIONS,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
    }
    if eventlog:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = pkg.session.build_session(
        app_name="perfbench", master=f"local[{CORES}]", shuffle_partitions=CORES, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Jvm:
    """The driver JVM behind the py4j gateway: memory high-water mark
    and garbage-collection time."""

    def __init__(self, spark):
        self.pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())

    def reset_peak(self) -> None:
        try:
            with open(f"/proc/{self.pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError as e:
            log(f"cannot reset VmHWM ({e}); peak_rss_mb covers set-up too")

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("no VmHWM in /proc status")

    def children(self) -> set[int]:
        kids: set[int] = set()
        base = f"/proc/{self.pid}/task"
        for tid in os.listdir(base):
            try:
                with open(os.path.join(base, tid, "children")) as f:
                    kids.update(int(p) for p in f.read().split())
            except OSError:
                pass
        return kids

    @staticmethod
    def gc_seconds(spark) -> float:
        beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def shutdown(spark, jvm: Jvm) -> None:
    """Stop Spark, end the gateway JVM and wait for it and its Python
    workers to exit."""
    from pyspark import SparkContext

    kids = jvm.children()
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = gw.proc
        gw.shutdown()
        proc.stdin.close()  # the gateway exits on end of input
        proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 20
    while kids and time.monotonic() < deadline:
        kids = {p for p in kids if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for p in kids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


# ---------------------------------------------------------------- metrics

def timed_phase(wl, seconds: float, min_ops: int = 1) -> list:
    """Closed loop: the next op starts when the previous one is checked,
    until ``seconds`` have passed and at least ``min_ops`` ran."""
    results = []
    t0 = time.perf_counter()
    while len(results) < min_ops or time.perf_counter() - t0 < seconds:
        results.append(wl.run_op(len(results)))
    return results


def end_to_end(results, setup_s: float, peak_mb: float, wh_bytes: int) -> dict:
    ok = [r for r in results if r.ok] or results
    rates = [r.docs * 1000.0 / r.ms for r in ok if r.ms]
    return {
        "setup_s": setup_s,
        "op_p50_ms": statistics.median(r.ms for r in ok),
        # a median, like op_p50_ms: one slow op does not move it
        "docs_per_s": statistics.median(rates) if rates else 0.0,
        "warehouse_bytes": wh_bytes,
        "peak_rss_mb": peak_mb,
    }


def layer_metrics(spans, events, results, gc_s: float, peak_mb: float,
                  bytes_per_point: float) -> dict:
    spans = [s for s in spans if s.op is not None and s.end is not None]
    n = max(1, len(results))
    times = layer_times(spans)
    counters, records = eventlog.attribute(events, {s.id: s for s in spans})
    m: dict[str, float] = {}
    for layer in LAYERS:
        for k in ("wall_s", "self_s"):
            m[f"{layer}.{k}"] = times.get(layer, {}).get(k, 0.0) / n
        for k in eventlog.COUNTERS:
            m[f"{layer}.{k}"] = counters.get(layer, {}).get(k, 0) / n
    written = {layer: [0, 0] for layer in WRITE_LAYERS}
    for s in spans:
        if "bytes" in s.attrs and write_layer(s.attrs["table"]) in written:
            w = written[write_layer(s.attrs["table"])]
            w[0] += s.attrs["bytes"]
            w[1] += s.attrs["files"]
    for layer, (b, f) in written.items():
        m[f"{layer}.bytes_written"] = b / n
        m[f"{layer}.files_written"] = f / n
    m["session.gc_s"] = gc_s / n
    in_bytes = sum(r.input_bytes for r in results)
    m["tables.write_amplification"] = sum(b for b, _ in written.values()) / in_bytes if in_bytes else 0.0
    routed = [s for s in spans if s.layer == "operators.router" and "rows" in s.attrs]
    rows_out = sum(s.attrs["rows"] for s in routed)
    m["operators.router.rows_per_result"] = (
        sum(records.get(s.id, 0) for s in routed) / rows_out if rows_out else 0.0
    )
    m["operators.cold_store.bytes_per_point"] = bytes_per_point
    for p in PANELS:
        ms = [t for r in results for panel, t in r.requests if panel == p]
        m[f"serve.{p}_p50_ms"] = statistics.median(ms) if ms else 0.0
    m["trace.op_p50_ms"] = statistics.median(r.ms for r in results)
    m["trace.peak_rss_mb"] = peak_mb
    return m


# ------------------------------------------------------------------- main

def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    t_start = time.perf_counter()
    root = os.getcwd()
    run_dir = os.path.join(root, RUN_DIR)
    shutil.rmtree(run_dir, ignore_errors=True)
    configure_env(run_dir)
    try:
        pkg = load_package(root)
    except ImportError as e:
        log(f"the package is not in this checkout: {e}")
        return 2
    # the traced run logs events from the start; only the traced ops'
    # jobs carry a span's tag, so set-up is left out of the layers
    spark = start_session(pkg, run_dir, eventlog=bool(args.trace))
    jvm = Jvm(spark)
    log(f"Spark up after {time.perf_counter() - t_start:.1f}s")
    wl = WORKLOADS[args.workload](spark, pkg, run_dir, args.seed, log)
    try:
        wl.setup()
        wl.warmup()
        jvm.reset_peak()
        setup_s = time.perf_counter() - t_start
        log(f"{args.workload}: set-up {setup_s:.1f}s")
        if not args.trace:
            results = timed_ops(wl, args.seconds, "timed", E2E_MIN_OPS)
            metrics = end_to_end(results, setup_s, jvm.peak_rss_mb(), dir_bytes(wl.warehouse()))
            units = E2E_UNITS
        else:
            metrics, results = traced_run(pkg, wl, jvm, run_dir, args.seconds)
            units = layer_metric_units()
    finally:
        shutdown(wl.spark, jvm)
    failed = sum(not r.ok for r in results)
    out = {
        "correct": failed == 0,
        "attempted": len(results),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(out))
    return 0


def timed_ops(wl, seconds: float, what: str, min_ops: int = 1) -> list:
    results = timed_phase(wl, seconds, min_ops)
    log(f"{wl.name} {what}: {len(results)} ops, ms {[round(r.ms) for r in results]}"
        f", steal_s {[round(r.steal_s, 2) for r in results]}")
    for r in results:
        if r.requests:
            log("  " + " ".join(f"{p}={ms:.0f}" for p, ms in r.requests))
    return results


def traced_run(pkg, wl, jvm: Jvm, run_dir: str, seconds: float) -> tuple[dict, list]:
    """Run traced ops for ``seconds`` in the event-logged SparkContext and
    charge their work to layers. Then restart the SparkContext untraced,
    warm it up and run the ops again: the tracing overhead sets the
    traced ops against these, which ran in a JVM at least as warm, so it
    is an upper bound. Returns the per-layer metrics and every op run."""
    tracer = Tracer(wl.spark.sparkContext)
    restore = install(tracer, pkg.pipeline, pkg.TableStore)
    wl.tracer = tracer
    gc0 = Jvm.gc_seconds(wl.spark)
    try:
        results = timed_ops(wl, seconds, "traced")
    finally:
        restore()
        wl.tracer = NULL_TRACER
    gc_s = Jvm.gc_seconds(wl.spark) - gc0
    peak = jvm.peak_rss_mb()
    bpp = oracle.cold_bytes_per_point(wl.con, wl.warehouse())
    wl.spark.stop()  # flushes the event log
    logs = os.listdir(os.path.join(run_dir, "eventlog"))
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log, found {logs}")
    events = eventlog.read_events(os.path.join(run_dir, "eventlog", logs[0]))
    m = layer_metrics(tracer.spans, events, results, gc_s, peak, bpp)

    wl.spark = start_session(pkg, run_dir, eventlog=False)
    # the JVM's code is compiled by now; one op starts the new context
    wl.warmup(1)
    after = timed_ops(wl, seconds, "untraced")
    m["trace.overhead_pct"] = (m["trace.op_p50_ms"] / statistics.median(r.ms for r in after) - 1.0) * 100.0
    return m, results + after


if __name__ == "__main__":
    sys.exit(main())
