"""Benchmark entry point.

  python3 benchmark/run.py --workload tile_job --seed 1 --seconds 10 --trace 0

Run from the repository root. Generates the seeded input (cached under
``.benchwork/``), starts one local Spark session with one busy process per
core the process may use, runs the workload's operation once cold (set-up)
and once more to warm up, then runs it in a closed loop for ``--seconds``,
checking every output against the numpy oracles. The last line of standard
output is one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json. ``--trace 1``
reports the per-layer metrics instead: traced operations and their layer
prefixes run with the Spark event log on, between two halves of the untraced
closed loop; a human-readable layer report goes to standard error.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

import eventlog
import gen
import workloads

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / ".benchwork"
DRIVER_MEMORY = "4g"
# a traced run traces operations (each with all its layer prefixes) for
# the run length, and at least this many
MIN_TRACE_REPS = 2


def task_slots(workload) -> int:
    """Spark task slots: one busy process per core this process may use. A
    tile_job slot is one JVM task thread; a PIP slot is a JVM task thread
    plus the Python worker it feeds, so PIP gets half as many slots. With a
    slot per core on PIP, one busy process next to the benchmark slowed it
    by 30%, two by 50%; with half as many slots, by 1% and 8%."""
    cores = len(os.sched_getaffinity(0))
    return max(1, cores // workload.procs_per_slot)


def start_session(cpus: int, event_log: Path | None = None):
    """A local session whose scratch files all stay under WORK."""
    from pyspark.sql import SparkSession

    tmp = WORK / "tmp"
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("rio_cogeo_spark_benchmark")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.driver.extraJavaOptions",
                f"-Xms{DRIVER_MEMORY} -Xmn512m -XX:-UsePerfData "
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}")
        .config("spark.local.dir", str(WORK / "spark-local"))
        .config("spark.sql.warehouse.dir", str(WORK / "warehouse"))
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.eventLog.enabled", str(event_log is not None).lower())
    )
    if event_log is not None:
        b = (
            b.config("spark.eventLog.dir", str(event_log))
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Shut down the Spark JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    SparkContext._gateway = None
    SparkContext._jvm = None
    try:
        gateway.shutdown()
    finally:
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def peak_rss_mb(spark) -> float:
    """High-water resident set size of the driver JVM, in MiB."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


class Loop:
    """A closed loop of one client: runs checked operations, counts outcomes."""

    def __init__(self, workload) -> None:
        self.workload = workload
        self.attempted = 0
        self.failed = 0

    def record(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1

    def once(self, spark):
        """Seconds of one checked operation; None if it raised."""
        try:
            dt, ok = self.workload.run(spark)
        except Exception:  # noqa: BLE001 - a failed operation is a result
            traceback.print_exc()
            self.record(False)
            return None
        self.record(ok)
        if not ok:
            print(f"benchmark: wrong output from {self.workload.name}",
                  file=sys.stderr)
        return dt

    def measure(self, spark, seconds: float) -> list:
        """Operation times of a ``seconds``-long closed loop: it starts
        operations until ``seconds`` have passed, at least one."""
        times = []
        end = time.perf_counter() + seconds
        while not times or time.perf_counter() < end:
            dt = self.once(spark)
            if dt is None:
                break  # the operation raised; the session may be unusable
            times.append(dt)
        if not times:
            raise RuntimeError(f"no {self.workload.name} operation completed")
        print(f"{self.workload.name}: {len(times)} operations, median "
              f"{statistics.median(times):.3f} s, min {min(times):.3f} s, "
              f"max {max(times):.3f} s", file=sys.stderr)
        return times


def untraced_run(loop: Loop, cpus: int, seconds: float) -> dict:
    """End-to-end metrics: set-up, one warm-up operation, then a
    ``seconds``-long closed loop."""
    t0 = time.perf_counter()
    spark = start_session(cpus)
    try:
        loop.once(spark)  # cold: JVM, codegen, Python workers, dim-side cache
        setup_s = time.perf_counter() - t0
        print(f"{loop.workload.name}: set-up {setup_s:.3f} s", file=sys.stderr)
        # the operation after the cold one is still 10-25% slower than the
        # ones after it while the JIT compiles; keep it out of the median
        loop.once(spark)
        op_s = statistics.median(loop.measure(spark, seconds))
        return {
            "pages_per_s": loop.workload.n_pages / op_s,
            "setup_s": setup_s,
            "peak_rss_mb": peak_rss_mb(spark),
        }
    finally:
        spark.stop()


def traced_run(loop: Loop, cpus: int, seconds: float) -> dict:
    """Per-layer metrics. Traced operations and their layer prefixes run in
    a session with the event log on, between two halves of the untraced
    closed loop, each in a fresh session of the same JVM, so that a slow
    spell of the machine falls on both sides of the comparison."""
    wl = loop.workload
    log_dir = WORK / "eventlog"
    shutil.rmtree(log_dir, ignore_errors=True)
    log_dir.mkdir(parents=True)
    spans = workloads.Spans()
    counts = {}
    times = []
    for phase in ("untraced", "traced", "untraced"):
        spark = start_session(cpus, event_log=log_dir if phase == "traced" else None)
        try:
            if phase == "untraced":
                loop.once(spark)  # cold, or warm this session's Python workers
                times += loop.measure(spark, seconds / 2)
                continue
            end = time.perf_counter() + seconds
            rep = 0
            while rep < MIN_TRACE_REPS or time.perf_counter() < end:
                ok, counts = wl.trace(spark, spans, rep)
                loop.record(ok)
                rep += 1
        finally:
            spark.stop()
    untraced_s = statistics.median(times)

    totals = eventlog.group_totals(eventlog.only_log(str(log_dir)))
    op_groups = [v for k, v in totals.items() if k.startswith("op#")]
    layers = wl.layer_seconds(spans)
    traced_s = sum(layers.values())
    metrics = {**layers, **counts}
    for key in op_groups[0]:
        metrics[key] = statistics.median(g[key] for g in op_groups)
    if any(r["name"] == "pip.dim_side" for r in spans.records):
        metrics["pip.dim_side.s"] = spans.median("pip.dim_side")
    metrics["op.traced_s"] = traced_s
    metrics["op.untraced_s"] = untraced_s

    print(f"\n{wl.name}: per-layer seconds (median of {len(op_groups)} traced "
          f"operations)",
          file=sys.stderr)
    for name, sec in layers.items():
        print(f"  {name:<22} {sec:8.3f}", file=sys.stderr)
    print(f"  {'sum':<22} {traced_s:8.3f}  vs untraced operation "
          f"{untraced_s:.3f} s ({traced_s / untraced_s - 1:+.1%})", file=sys.stderr)
    print(f"  tracing overhead = traced / untraced = "
          f"{traced_s / untraced_s:.3f}", file=sys.stderr)
    trace_dir = WORK / "trace"
    trace_dir.mkdir(parents=True, exist_ok=True)
    (trace_dir / f"{wl.name}.json").write_text(json.dumps(
        {"spans": spans.records, "event_log_groups": totals,
         "metrics": metrics}, indent=1))
    return metrics


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    if importlib.util.find_spec("rio_cogeo_spark") is None:
        print(f"benchmark: no rio_cogeo_spark package under {ROOT}", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    # keep every temporary file of this process, the JVM and its launcher
    # inside the checkout
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = str(tmp)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # Spark's Python workers import the program from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        path for path in (str(ROOT), os.environ.get("PYTHONPATH")) if path
    )
    pages_path = gen.cached_pages(str(WORK), args.seed)
    loop = Loop(workloads.make(args.workload, pages_path, str(WORK)))
    cpus = task_slots(loop.workload)

    try:
        if args.trace:
            metrics = traced_run(loop, cpus, args.seconds)
            names = spec["per_layer"]
        else:
            metrics = untraced_run(loop, cpus, args.seconds)
            names = spec["end_to_end"]
    finally:
        stop_jvm()

    # a layer this workload does not run took no time and did no work
    out = {m["name"]: {"value": metrics.get(m["name"], 0), "unit": m["unit"]}
           for m in names}
    print(json.dumps({
        "correct": loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": out,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
