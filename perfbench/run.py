"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the repository root.  One run is one fresh Python + JVM
process: it builds a ``local[<cpus>]`` session, makes its inputs from
``--seed``, warms up, measures for ``--seconds``, checks every answer
against the DuckDB oracle, and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with each metric as ``{"value": ..., "unit": ...}``, units from
``BENCHMARK.json``.

With ``--trace 0`` the metrics are the end-to-end ones: ``setup_s``,
``cpu_s_per_op`` (median CPU seconds the driver JVM spent per unit of
the workload's work) and ``peak_rss_mb``; with
``--trace 1`` the engine's layers are wrapped, a closing sweep calls
each of them once more, and the metrics are the per-layer ones (spans
are written to ``.bench_work/spans/``).  The line
before it, prefixed ``# detail``, carries the workload's own figures
(wall-clock latency and throughput, freshness and read percentiles,
sample counts, host CPU steal).
Everything is written under ``.bench_work/`` in the current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ENGINE = "arcane_stream_parquet_spark"
DRIVER_MEMORY = "1g"
# The whole heap is committed and touched at start, so peak RSS measures
# what the run adds beyond the heap (code, metadata, native and Python
# memory) instead of when the collector happened to grow the heap.
HEAP_OPTIONS = f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"
# A workload's preload (inputs plus the base target) runs this many times
# from scratch; ``setup_s`` counts the median one.
PRELOAD_REPEATS = 3


def _process_age_s() -> float:
    """Seconds since this process started (kernel start time, 10 ms
    resolution), so ``setup_s`` includes interpreter start-up."""
    try:
        with open("/proc/self/stat") as fh:
            start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as fh:
            uptime = float(fh.read().split()[0])
        return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError, IndexError):
        return 0.0


def _cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot, from
    ``/proc/stat``; (0, 0) where the kernel does not report them."""
    try:
        with open("/proc/stat") as fh:
            ticks = [int(v) for v in fh.readline().split()[1:9]]
        return ticks[7], sum(ticks)
    except (OSError, ValueError, IndexError):
        return 0, 0


def _cpu_s(pid: int | str) -> float:
    """User + system CPU seconds a process has used so far."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def _rss_peak_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


class Run:
    """State shared by a workload and the harness: session, inputs,
    tracer and the attempted/failed counters."""

    def __init__(self, spark, work, seed, seconds, tracer, layers, t0: float, jvm_pid=None) -> None:
        self.spark = spark
        self.jvm_pid = jvm_pid
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.layers = layers
        self.attempted = 0
        self.failed = 0
        self.setup_s = 0.0
        self.preload_s: list[float] = []
        self._t0 = t0
        self._measure_start = 0.0
        self._ticks0 = (0, 0)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"check failed: {what}", file=sys.stderr, flush=True)

    def preload(self, build):
        """Run ``build(i)`` ``PRELOAD_REPEATS`` times, each into fresh
        directories, and return the last result.  The repeats make the
        preload's share of ``setup_s`` a median."""
        out = None
        for i in range(PRELOAD_REPEATS):
            t = time.perf_counter()
            out = build(i)
            self.preload_s.append(time.perf_counter() - t)
        return out

    def start_measuring(self) -> None:
        """``setup_s``: process start to the first timed operation, with
        the repeated preloads counted once, as their median."""
        self._measure_start = time.perf_counter()
        extra = sum(self.preload_s) - statistics.median(self.preload_s) if self.preload_s else 0.0
        self.setup_s = self._measure_start - self._t0 - extra
        self._ticks0 = _cpu_ticks()

    def jvm_cpu_s(self) -> float:
        """CPU seconds the driver JVM has used so far (all its threads)."""
        return _cpu_s(self.jvm_pid)

    def steal_share(self) -> float:
        """Share of CPU time the hypervisor gave to other guests since
        measuring started: a gauge of host contention, reported beside
        the metrics."""
        steal, total = (b - a for a, b in zip(self._ticks0, _cpu_ticks()))
        return steal / total if total else 0.0

    def time_up(self, cycle_s: float = 0.0) -> bool:
        """True once the measuring window is spent.  A closed loop passes
        its last cycle's duration: a cycle that would end more than half
        its length past the window is not started, so runs keep the
        window's length and whole cycles."""
        return time.perf_counter() - self._measure_start + cycle_s / 2 >= self.seconds


def _session(work: str, cpus: int):
    from arcane_stream_parquet_spark import build_session

    spark = build_session(
        app_name="perfbench",
        cpus=cpus,
        extra_confs={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} {HEAP_OPTIONS}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def manifest_units(root: str) -> dict[str, dict[str, str]]:
    """``{"end_to_end": {name: unit}, "per_layer": {name: unit}}`` from
    the ``BENCHMARK.json`` at ``root``, in the manifest's order."""
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return {kind: {m["name"]: m["unit"] for m in bench[kind]} for kind in ("end_to_end", "per_layer")}


def with_units(values: dict, units: dict[str, str]) -> dict:
    """The manifest's metrics as ``{"value": ..., "unit": ...}``, in its
    order.  A metric the run did not produce is an error, not a zero."""
    missing = [name for name in units if name not in values]
    if missing:
        raise KeyError(f"run produced no value for {missing}")
    return {name: {"value": values[name], "unit": unit} for name, unit in units.items()}


def measure(workload: str, seed: int, seconds: float, trace: bool, root: str, t0: float) -> dict:
    from perfbench.layers import Layers
    from perfbench.spans import Tracer
    from perfbench.stats import percentile, reportable_percentile
    from perfbench.workloads import WORKLOADS, layer_sweep

    work = os.path.join(root, ".bench_work", f"{workload}-{seed}-{os.getpid()}")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    spark = None
    try:
        t = time.perf_counter()
        spark = _session(work, _cpus())
        session_end = time.perf_counter()
        tracer = Tracer(spark, run_id=f"{workload}-{seed}", enabled=trace)
        if trace:
            from perfbench.spans import Span

            tracer.spans.append(Span(0, "session.start", "session", t, session_end, None, tracer.run_id))
        layers = Layers(tracer)
        layers.install()
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        run = Run(spark, work, seed, seconds, tracer, layers, t0, jvm_pid)
        ops, detail = WORKLOADS[workload](run)
        n = len(ops.latencies)
        e2e = {
            "setup_s": run.setup_s,
            "cpu_s_per_op": percentile(ops.cpu_s, 50),
            "peak_rss_mb": _rss_peak_mb("self") + _rss_peak_mb(jvm_pid),
        }
        detail["latency_p50_s"] = percentile(ops.latencies, 50)
        detail["throughput_per_s"] = ops.work / ops.busy_s
        detail["samples"] = n
        detail["tail_percentile"] = reportable_percentile(n)
        detail["preload_s"] = run.preload_s
        detail["cpu_steal_share"] = run.steal_share()
        if trace:
            layer_sweep(run)
            values = layers.metrics()
            values["traced.latency_p50_s"] = detail["latency_p50_s"]
            values["traced.cpu_s_per_op"] = e2e["cpu_s_per_op"]
            spans_dir = os.path.join(root, ".bench_work", "spans")
            os.makedirs(spans_dir, exist_ok=True)
            tracer.dump(os.path.join(spans_dir, f"{workload}-seed{seed}.jsonl"))
        units = manifest_units(root)
        metrics = with_units(values, units["per_layer"]) if trace else with_units(e2e, units["end_to_end"])
        return {
            "detail": detail,
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": metrics,
        }
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    t0 = time.perf_counter() - _process_age_s()
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    root = os.getcwd()
    for need in (os.path.join(ENGINE, "__init__.py"), "BENCHMARK.json"):
        if not os.path.isfile(os.path.join(root, need)):
            print(f"error: run from the repository root ({need} not found)", file=sys.stderr)
            return 2
    sys.path.insert(0, root)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    try:
        result = measure(args.workload, args.seed, args.seconds, bool(args.trace), root, t0)
    except Exception:
        traceback.print_exc()
        return 1
    detail = result.pop("detail")
    print("# detail " + json.dumps(detail, sort_keys=True))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
