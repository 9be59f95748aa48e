"""METRO warehouse benchmark: one workload, one seed, one JSON line.

    python3 -m metrobench.run --workload olap_reads --seed 1 --seconds 10 --trace 0

Run from the repository root. The package is imported from the current
directory; every file the run writes (inputs, warehouse, checkpoints,
Spark local dirs, JVM temp files) lives under ``.metrobench_tmp/`` and
is removed when the run ends. A traced run also keeps its spans in
``.metrobench_out/``.

The last stdout line is ``{"correct", "attempted", "failed",
"metrics"}``: the ``end_to_end`` metrics of ``BENCHMARK.json`` when
``--trace 0``, its ``per_layer`` metrics when ``--trace 1``. The line
before it is a diagnostics object (CPU probe, failures, notes); the
probe is only reported, never used to wait, retry or rescale.
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
from contextlib import contextmanager

from . import spans as tr

PKG = "near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark"
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
DRIVER_MEM = "3g"  # the package default (32g) exceeds a 15 GB machine
SINK_TABLES = ["products", "supplier", "store", "customers", "time_dimension",
               "sales_fact", "store_quarterly_agg", "store_quarterly_agg__hwm"]


def cpu_probe_ms() -> float:
    """A fixed pure-Python loop; a diagnostic of machine speed only."""
    t = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc ^= i * 2654435761 & 0xFFFF
    return (time.perf_counter() - t) * 1000.0


def _process_age_s() -> float:
    """Seconds since this process started (interpreter start-up included)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class Run:
    """State shared by a workload and the harness."""

    def __init__(self, spark, tmp, seed, seconds, tracer):
        self.spark, self.tmp, self.seed, self.seconds = spark, tmp, seed, seconds
        self.tracer = tracer
        self.attempted = 0
        self.failures: list[str] = []
        self.layer: dict[str, float] = {}
        self.ops: list[float] = []  # timed operations that passed their check, s
        self.ops_untraced: list[float] = []  # traced runs: the paired untraced ops
        self.op_names: list[str] = []
        self.timed_ops = 0  # operations attempted in the timed phase
        self.progress = None  # traced runs: the StreamingQueryListener log
        self.paused = False  # inside untraced()
        self.streaming_start: list[float] = []
        self.t_first = None
        self.job0 = self.jobs = self.stages = self.tasks = 0
        self.measured_runs: set[str] = set()  # stream runIds after start_timing
        self.measured_batches = 0

    def fail(self, msg: str) -> None:
        self.failures.append(msg[:500])

    @property
    def traced(self) -> bool:
        """Whether the current operation runs with tracing on."""
        return self.progress is not None and not self.paused

    def record(self, latency: float, name: str | None = None) -> None:
        """A timed operation that passed its check."""
        if self.paused:
            self.ops_untraced.append(latency)
            return
        self.ops.append(latency)
        if name is not None:
            self.op_names.append(name)

    @contextmanager
    def untraced(self):
        """Runs a block as an untraced run does: no spans, no wrapped
        entry points, no streaming listener. Traced runs pair their
        operations with untraced ones to measure what tracing costs."""
        tracer = self.tracer
        self.drain_events()  # the listener must hear every traced batch
        tracer.uninstall()
        self.spark.streams.removeListener(self.progress.listener)
        self.tracer, self.paused = tr.NoTracer(), True
        try:
            yield
        finally:
            self.tracer, self.paused = tracer, False
            tracer.install()
            self.spark.streams.addListener(self.progress.listener)

    def drain_events(self) -> None:
        """Waits until Spark's listener bus has delivered every posted
        event: the status store and the streaming listener are fed from
        it asynchronously."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60_000)

    def _jobs_started(self) -> int:
        # Spark numbers jobs 0, 1, 2, ... across the application
        return self.spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()

    def start_timing(self) -> None:
        self.t_first = time.perf_counter()
        self.streaming_start.clear()
        self.tracer.cycle = 0
        self.job0 = self._jobs_started()
        self._attempted0 = self.attempted

    def stop_timing(self) -> None:
        """End of the measured phase: later spans are untimed checks.
        Counts the Spark jobs, executed stages and tasks of the phase."""
        self.tracer.cycle = None
        self.timed_ops = self.attempted - self._attempted0
        job1 = self._jobs_started()
        self.drain_events()
        tracker = self.spark.sparkContext.statusTracker()
        stages = set()
        tasks = 0
        for j in range(self.job0, job1):
            info = tracker.getJobInfo(j)
            if info is None:
                raise RuntimeError(f"Spark job {j} has no status after the "
                                   "listener bus drained; tasks cannot be counted")
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is None:
                    raise RuntimeError(f"stage {sid} of Spark job {j} has no status")
                if sid not in stages and st.numCompletedTasks:
                    stages.add(sid)
                    tasks += st.numCompletedTasks
        self.jobs, self.stages, self.tasks = job1 - self.job0, len(stages), tasks


class ProgressLog:
    """Collects per-batch durations from a StreamingQueryListener."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        log = self.events = []

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                d = p.durationMs
                if p.numInputRows > 0 and "addBatch" in d:
                    log.append((str(p.runId), d["addBatch"], d["triggerExecution"]))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Listener()


def _metric_defs() -> dict:
    with open(os.path.join(os.path.dirname(BENCH_DIR), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return spec


def _layer_metrics(run, tracer) -> dict:
    out = dict(run.layer)
    def p50(name):
        xs = [s["end"] - s["start"] for s in tracer.spans
              if s["name"] == name and s["cycle"] is not None and s["end"]]
        return statistics.median(xs) if xs else 0.0

    run.drain_events()
    ev = [e for e in run.progress.events if e[0] in run.measured_runs]
    if len(ev) != run.measured_batches:
        raise RuntimeError(f"the streaming listener heard {len(ev)} of "
                           f"{run.measured_batches} measured batches")
    out["streaming.batches"] = len(ev)
    out["streaming.add_batch_p50_ms"] = statistics.median(e[1] for e in ev) if ev else 0
    out["streaming.trigger_overhead_p50_ms"] = (
        statistics.median(e[2] - e[1] for e in ev) if ev else 0)
    out["streaming.start_s"] = (statistics.median(run.streaming_start)
                                if run.streaming_start else 0.0)
    out["etl.load_batch_s"] = p50("etl.load_batch")
    out["etl.refresh_s"] = p50("etl.refresh")
    out["etl.serve_quarterly_s"] = p50("etl.serve_quarterly")
    out["etl.totals_s"] = p50("etl.totals")
    for t in SINK_TABLES:
        out[f"sinks.insert_if_absent_s.{t}"] = p50(f"sinks.insert_if_absent.{t}")
    out["sinks.compact_s"] = sum(s["end"] - s["start"] for s in tracer.spans
                                 if s["name"] == "sinks.compact"
                                 and s["cycle"] is not None)
    out["sinks.commits"] = tracer.commits
    out["sinks.files_written"] = tracer.files_written
    out["sinks.bytes_written"] = tracer.bytes_written
    for layer, secs in tracer.self_times().items():
        out[f"self_s.{layer}"] = secs
    out["trace.spans"] = len(tracer.spans)
    out["trace.bookkeeping_s"] = tracer.overhead_s
    if run.ops and run.ops_untraced:  # the same operations, run untraced
        base = statistics.fmean(run.ops_untraced)
        out["trace.untraced_op_s"] = base
        out["trace.overhead_ratio"] = statistics.fmean(run.ops) / base - 1.0
    return out


def main() -> int:
    t0 = time.perf_counter() - _process_age_s()  # process start
    ap = argparse.ArgumentParser(description="METRO warehouse benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # a terminated run still stops its JVM and removes its scratch dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PKG, "__init__.py")):
        print(f"metrobench: package {PKG} not found under {root}; run from "
              "the repository root", file=sys.stderr)
        return 2
    spec = _metric_defs()

    # environment pinning: all cores, a heap the machine can hold, and
    # every scratch path inside this checkout
    tmp = os.path.join(root, ".metrobench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(tmp)
    cpus = len(os.sched_getaffinity(0))
    os.environ.pop("OMP_NUM_THREADS", None)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "TMPDIR": tmp,
    })
    sys.path.insert(0, root)
    os.chdir(tmp)  # spark-warehouse/, derby.log and friends land here

    proc = None
    spark = None
    try:
        probe = cpu_probe_ms()
        from . import workloads

        if args.workload not in workloads.WORKLOADS:
            print(f"metrobench: unknown workload {args.workload!r}", file=sys.stderr)
            return 2
        from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.session import (
            get_spark,
        )

        tracer = tr.Tracer() if args.trace else tr.NoTracer()
        if args.trace:
            tracer.install()
        t = time.perf_counter()
        with tracer.span("session.start", "session"):
            spark = get_spark(
                app_name=f"metrobench-{args.workload}",
                extra_conf={
                    "spark.sql.warehouse.dir": os.path.join(tmp, "spark-warehouse"),
                    "spark.driver.extraJavaOptions":
                        f"-Xlog:disable -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
                    "spark.ui.showConsoleProgress": "false",
                },
            )
        session_s = time.perf_counter() - t
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        spark.sparkContext.setLogLevel("ERROR")
        run = Run(spark, tmp, args.seed, args.seconds, tracer)
        if args.trace:
            run.progress = ProgressLog()
            spark.streams.addListener(run.progress.listener)
        run.layer["session.start_s"] = session_s
        latency = workloads.WORKLOADS[args.workload](run)
        peak_kb = _vm_hwm_kb(os.getpid()) + (_vm_hwm_kb(proc.pid) if proc else 0)
        # per attempted operation: a failed check is still counted work
        n_ops = max(run.timed_ops, 1)
        e2e = {
            "setup_s": run.t_first - t0,
            "jobs_per_op": run.jobs / n_ops,
            "tasks_per_op": run.tasks / n_ops,
        }
        for k, v in latency.items():
            run.layer[f"latency.{k}"] = v
        run.layer["mem.peak_rss_mb"] = peak_kb / 1024.0
        failed = len(run.failures)
        run.layer["error_rate"] = failed / max(run.attempted, 1)
        run.layer["env.cpu_probe_ms"] = probe
        if args.trace:
            tracer.uninstall()
            layer = _layer_metrics(run, tracer)
            out_dir = os.path.join(root, ".metrobench_out")
            tracer.write(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"))
        else:
            layer = run.layer
    finally:
        if spark is not None:
            try:
                spark.stop()
            except Exception as exc:  # the JVM is stopped below either way
                print(f"metrobench: spark.stop failed: {exc}", file=sys.stderr)
        if proc is not None:
            try:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        os.chdir(root)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))  # only when no other run uses it
        except OSError:
            pass

    section = "per_layer" if args.trace else "end_to_end"
    values = layer if args.trace else e2e
    declared = {m["name"] for m in spec[section]}
    # a produced name BENCHMARK.json does not declare is a typo; every
    # end-to-end metric is produced, a layer a workload skips reads 0
    missing = set() if args.trace else declared - set(values)
    if set(values) - declared or missing:
        print(f"metrobench: undeclared {sorted(set(values) - declared)}, "
              f"missing {sorted(missing)}", file=sys.stderr)
        return 1
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in spec[section]}
    diag = {"workload": args.workload, "seed": args.seed, "cpus": cpus,
            "cpu_probe_ms": probe, "ops": len(run.ops), **latency,
            "peak_rss_mb": run.layer["mem.peak_rss_mb"],
            "op_s": [[n, round(x, 4)] for n, x in zip(run.op_names or
                                                       range(len(run.ops)), run.ops)],
            "failures": run.failures[:5]}
    if args.trace:
        diag["op_untraced_s"] = [round(x, 4) for x in run.ops_untraced]
        diag["note"] = tr.LAZY_NOTE
    print(json.dumps({"diagnostics": diag}))
    print(json.dumps({"correct": failed == 0, "attempted": run.attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
