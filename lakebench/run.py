"""Lakehouse benchmark: one workload per run, printing its end-to-end
metrics (``--trace 0``) or, traced, the per-layer metrics of all three
workloads (``--trace 1``) as the last line of standard output.

    python3 lakebench/run.py --workload realtime_scoring --seed 1 --seconds 4 --trace 0

Run from the root of a checkout; everything the run writes goes under
``.lakebench_work/`` there and is removed at exit. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# the program under test; without it the run stops here, printing no result
import real_time_fraud_detection_lakehouse_spark  # noqa: E402,F401

from lakebench import procstat  # noqa: E402
from lakebench.trace import Tracer, fold  # noqa: E402

#: operations per workload in a traced run (whole rounds; gold_analytics:
#: one pass)
TRACED_OPS = {"medallion_increments": 2, "realtime_scoring": 4, "gold_analytics": 25}
DRIVER_HEAP = "2g"

#: the metrics of the last line and their units come from BENCHMARK.json:
#: ``end_to_end`` untraced, ``per_layer`` (``<span>.<counter>``) traced.
#: A run's op_p50_ms and op_tail_ms are printed beside them (run_info):
#: they track the host's CPU steal share too closely to be gated
#: (README.md)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    _BENCH = json.load(_fh)
E2E_UNITS = {m["name"]: m["unit"] for m in _BENCH["end_to_end"]}
LAYER_UNITS = {m["name"]: m["unit"] for m in _BENCH["per_layer"]}
SPAN_COUNTERS: dict[str, list[str]] = {}
for _name in LAYER_UNITS:
    _span, _counter = _name.rsplit(".", 1)
    SPAN_COUNTERS.setdefault(_span, []).append(_counter)


def _stop(signum, frame):
    raise SystemExit(128 + signum)


class Run:
    """One benchmark process: its directory, session and tracer."""

    def __init__(self, traced: bool) -> None:
        self.work = os.path.join(os.getcwd(), ".lakebench_work", f"run-{os.getpid()}")
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.makedirs(os.environ["TMPDIR"], exist_ok=True)
        # an inherited SPARK_LOCAL_DIRS would override spark.local.dir
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        self.tracer = Tracer(traced)
        self.spark = None
        self.jvm_proc = None
        self.jvm_pid = 0
        self.conf: dict[str, str] = {}

    def start_session(self) -> tuple[float, float]:
        """Start the session; (wall seconds, CPU seconds of the JVM and
        of this process) it took."""
        from real_time_fraud_detection_lakehouse_spark.core.session import get_spark

        cores = min(4, len(os.sched_getaffinity(0)))
        deploy = {
            "spark.driver.memory": DRIVER_HEAP,
            "spark.ui.showConsoleProgress": "false",
            # keep every file the session writes inside the checkout
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # -UsePerfData keeps the JVM's hsperfdata file out of /tmp
            "spark.driver.extraJavaOptions": "-XX:-UsePerfData"
            f" -Djava.io.tmpdir={os.environ['TMPDIR']}"
            f" -Dderby.system.home={self.work}",
        }
        if self.tracer.enabled:
            self.event_dir = os.path.join(self.work, "eventlog")
            os.makedirs(self.event_dir)
            deploy.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{self.event_dir}",
                "spark.eventLog.compress": "false",
                # one file per application, read by trace.read_event_log
                "spark.eventLog.rolling.enabled": "false",
            })
        c0 = procstat.self_cpu_s()
        with self.tracer.span("session.start") as call:
            self.spark = get_spark("lakebench", master=f"local[{cores}]", extra_conf=deploy)
        self.jvm_proc = self.spark.sparkContext._gateway.proc
        self.jvm_pid = self.jvm_proc.pid
        # the JVM is new: all its CPU so far is session start
        cpu_s = self.cpu_s() - c0
        self.tracer.attach(self.spark)
        self.conf = dict(self.spark.sparkContext.getConf().getAll())
        return call.wall_ms / 1000.0, cpu_s

    def cpu_s(self) -> float:
        """User plus system CPU seconds of the JVM and of this process."""
        return procstat.process_cpu_s(self.jvm_pid) + procstat.self_cpu_s()

    def jvm_memory_mb(self) -> dict[str, float]:
        """The JVM's memory in MB: the peak of each heap and non-heap
        pool (``MemoryPoolMXBean``), summed per kind, and then the heap
        and non-heap in use after a full collection."""
        jvm = self.spark.sparkContext._jvm
        mgmt = jvm.java.lang.management.ManagementFactory
        peaks = {"HEAP": 0.0, "NON_HEAP": 0.0}
        for pool in mgmt.getMemoryPoolMXBeans():
            peaks[pool.getType().name()] += pool.getPeakUsage().getUsed() / 1e6
        jvm.java.lang.System.gc()
        mem = mgmt.getMemoryMXBean()
        return {
            "heap_peak_mb": peaks["HEAP"], "non_heap_peak_mb": peaks["NON_HEAP"],
            "heap_retained_mb": mem.getHeapMemoryUsage().getUsed() / 1e6,
            "non_heap_retained_mb": mem.getNonHeapMemoryUsage().getUsed() / 1e6,
        }

    def close(self) -> None:
        """Stop every stream, the session and the JVM. Safe to call at
        any point, and twice."""
        spark, self.spark = self.spark, None
        jvm, self.jvm_proc = self.jvm_proc, None
        try:
            if spark is not None:
                for q in spark.streams.active:
                    q.stop()
                spark.stop()
        except Exception:
            # e.g. a signal cut a gateway call short and left the
            # connection out of step; the JVM is stopped below anyway
            traceback.print_exc()
        finally:
            if jvm is not None:
                if jvm.stdin is not None:
                    jvm.stdin.close()  # the JVM exits when its stdin closes
                try:
                    jvm.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    jvm.kill()
                    jvm.wait(timeout=30)

    def remove(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        parent = os.path.dirname(self.work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def tail_ms(latencies: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; below 40 samples, the 75th percentile."""
    n = len(latencies)
    q = max(0.75, 1 - 10 / n) if n >= 40 else 0.75
    ordered = sorted(latencies)
    pos = q * (n - 1)
    lo = int(pos)
    hi = min(lo + 1, n - 1)
    return ordered[lo] + (ordered[hi] - ordered[lo]) * (pos - lo), q * 100


def measure(run: Run, wl, seconds: float | None, ops: int | None) -> dict:
    """Whole rounds of operations for ``seconds`` (or ``ops``
    operations), at least ``wl.min_ops``; each operation is checked
    outside the timed region, after ``wl.warmup_ops`` operations that
    are checked but not measured."""
    for k in range(wl.warmup_ops):
        wl.before_op(k)
        wl.op(k)
        problems = wl.check_op(k)
        if problems:
            raise RuntimeError(f"{wl.name} warm-up operation failed: {problems}")
    latencies, cpu_ms, failed, stored = [], [], 0, None
    n = 0  # measured operations; operation k = warmup_ops + n
    start = time.perf_counter()
    while True:
        if ops is not None:
            if n >= ops:
                break
        elif n % wl.round_ops == 0 and n >= wl.min_ops and (
            time.perf_counter() - start >= seconds
        ):
            break
        k = wl.warmup_ops + n
        wl.before_op(k)
        c0 = run.cpu_s()
        t0 = time.perf_counter()
        try:
            wl.op(k)
            ok = True
        except Exception:
            traceback.print_exc()
            ok = False
        latencies.append((time.perf_counter() - t0) * 1000.0)
        cpu_ms.append((run.cpu_s() - c0) * 1000.0)
        problems = wl.check_op(k) if ok else ["operation raised"]
        if problems:
            failed += 1
            print(f"{wl.name} op {k} failed: {problems}", file=sys.stderr)
        n += 1
        if n == wl.min_ops:
            stored = wl.stored_bytes()
    tail, pct = tail_ms(latencies)
    return {
        "latencies": latencies, "failed": failed, "tail": tail, "tail_pct": pct,
        "cpu_ms": cpu_ms,
        "stored_mb": stored / 1e6 if stored is not None else None,
        "measure_s": time.perf_counter() - start,
    }


def run_workload(run: Run, name: str, seed: int, seconds: float | None,
                 ops: int | None, session: tuple[float, float]) -> dict:
    from lakebench.workloads import WORKLOADS

    wl = WORKLOADS[name](run, seed)
    try:
        wl.prepare()
        c0 = run.cpu_s()
        t0 = time.perf_counter()
        wl.load()
        load_s = time.perf_counter() - t0
        load_cpu_s = run.cpu_s() - c0
        steal0 = procstat.cpu_times()
        m = measure(run, wl, seconds, ops)
        steal = procstat.steal_share(steal0, procstat.cpu_times())
        final = wl.final_check()
        if final:
            print(f"{name} final check failed: {final}", file=sys.stderr)
    finally:
        wl.close()
    memory = run.jvm_memory_mb()
    return {
        "workload": name,
        "correct": not final,
        "attempted": len(m["latencies"]),
        "failed": m["failed"],
        "metrics": {
            # CPU seconds: the wall time of set-up follows the host's
            # steal share (README.md)
            "setup_s": session[1] + load_cpu_s,
            "op_p50_ms": statistics.median(m["latencies"]),
            "op_tail_ms": m["tail"],
            # the median: a batch that meets a burst of JIT compilation
            # or a collection moves the mean
            "cpu_ms_per_op": statistics.median(m["cpu_ms"]),
            # what the session keeps: the peaks (run_info) follow when
            # the collector happened to run (README.md)
            "jvm_retained_mb": memory["heap_retained_mb"] + memory["non_heap_retained_mb"],
            "stored_mb": m["stored_mb"],
        },
        "info": {
            "session_s": session[0], "load_s": load_s, "setup_wall_s": session[0] + load_s,
            "session_cpu_s": session[1], "load_cpu_s": load_cpu_s,
            **memory, "peak_rss_mb": procstat.peak_rss_mb(run.jvm_pid), "tail_percentile": m["tail_pct"],
            "measure_s": m["measure_s"], "steal_share": steal,
            "latencies_ms": m["latencies"], "cpu_ms": m["cpu_ms"],
        },
    }


def _wrap_sinks(tracer: Tracer) -> None:
    """Traced runs only: time the sink calls the scoring stream makes,
    by rebinding the names ``streaming.scoring`` looks up."""
    from real_time_fraud_detection_lakehouse_spark.streaming import scoring

    upsert, alert = scoring.upsert_by_key, scoring.alert_sink

    def traced_upsert(spark, updates, path, *args, **kwargs):
        with tracer.span("sinks.upsert", (path,)):
            return upsert(spark, updates, path, *args, **kwargs)

    def traced_alert(*args, **kwargs):
        with tracer.span("sinks.alert"):
            return alert(*args, **kwargs)

    scoring.upsert_by_key = traced_upsert
    scoring.alert_sink = traced_alert


def main(argv: list[str] | None = None) -> int:
    from lakebench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    signal.signal(signal.SIGTERM, _stop)

    run = Run(traced=bool(args.trace))
    try:
        session = run.start_session()
        if args.trace:
            _wrap_sinks(run.tracer)
            results = [
                run_workload(run, name, args.seed, None, TRACED_OPS[name], session)
                for name in TRACED_OPS
            ]
        else:
            results = [run_workload(run, args.workload, args.seed, args.seconds, None,
                                    session)]
        if args.trace:
            run.tracer.wait_for_progress(sum(
                1 for c in run.tracer.calls if c.span in ("bronze.ingest", "scoring.batch")
            ))
        conf = {k: v for k, v in run.conf.items() if k.startswith("spark.")
                and k not in ("spark.app.id", "spark.app.startTime", "spark.driver.port",
                              "spark.driver.host", "spark.app.submitTime")}
        run.close()
        for r in results:
            print(json.dumps({"run_info": {"workload": r["workload"], **r["info"],
                                           "metrics": r["metrics"]}}))
        print(json.dumps({"spark_conf": conf}))
        if args.trace:
            logs = [os.path.join(run.event_dir, f) for f in os.listdir(run.event_dir)]
            layer = fold(run.tracer, logs[0], SPAN_COUNTERS)
            missing = [f"{s}.{c}" for s, cs in SPAN_COUNTERS.items() for c in cs
                       if f"{s}.{c}" not in layer]
            if missing:
                raise RuntimeError(f"traced run produced no value for {missing}")
            metrics = {
                k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in layer.items()
            }
        else:
            metrics = {
                k: {"value": results[0]["metrics"][k], "unit": unit}
                for k, unit in E2E_UNITS.items()
            }
        print(json.dumps({
            "correct": all(r["correct"] for r in results),
            "attempted": sum(r["attempted"] for r in results),
            "failed": sum(r["failed"] for r in results),
            "metrics": metrics,
        }))
        return 0
    finally:
        try:
            run.close()
        finally:
            run.remove()


if __name__ == "__main__":
    sys.exit(main())
