"""The crawl-engine benchmark.

    python3 perfbench/run.py --workload crawl_discovery --seed 1 --seconds 5 --trace 0

Workloads: crawl_discovery, corpus_queries (perfbench/README.md).

Run from the repository root. One process runs one workload at
``local[nproc]`` with a driver heap sized from the host's memory, prints each
metric as ``name value unit`` and, as its last line, one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` wraps the
engine's layers in spans (perfbench/layers.py) and reports the per-layer
metrics instead. Every run also writes its full record (inputs, every
operation, host interference, spans) to ``.bench_out/``; ``perfbench/report.py``
turns those records into the per-layer table and the tracing overhead.
Exits 1 when a correctness gate fails and 2 when the engine cannot be
imported. All files go under ``.bench_work/`` and ``.bench_out/`` in the
current directory.
"""

from __future__ import annotations

import argparse
import json
import multiprocessing
import os
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

END_TO_END_UNITS = {
    "items_per_s": "items/s",
    "heavy_s": "s",
    "light_s": "s",
    "setup_s": "s",
    "cpu_ms_per_item": "CPU-ms",
    "peak_rss_gb": "GB",
}


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _driver_heap() -> str:
    """A quarter of the host's memory, between 1 and 6 GB."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return f"{max(1, min(6, total_kb // (4 * 1024 * 1024)))}g"


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs: the time a hypervisor gave
    this machine's CPUs to someone else."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def _spin(_) -> float:
    t0 = time.perf_counter()
    s = 0
    for i in range(2_000_000):
        s += i
    return time.perf_counter() - t0


def _calibrate() -> float:
    """Median wall of a fixed pure-Python loop run on every core at once: a
    host-speed probe that sees neighbours this machine's process table
    cannot (other virtual machines on the same cores)."""
    n = _cpus()
    with multiprocessing.get_context("fork").Pool(n) as pool:
        return round(statistics.median(pool.map(_spin, range(n))), 4)


def start_spark(work: str):
    """A session sized from the host, with every scratch file under
    ``work``. Returns (spark, start wall)."""
    from crawling_infrastructure_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    # the launcher JVM of spark-submit: no perf data file in the system /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    heap = _driver_heap()
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        cpus=_cpus(),
        extra_conf={
            "spark.driver.memory": heap,
            # a fixed-size heap: peak RSS then tracks what the run uses, not
            # when the collector chose to grow the heap; no perf data file
            # in the system /tmp
            "spark.driver.extraJavaOptions": f"-Xms{heap} -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the traced run reads every job and stage back at the end
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and the Python workers it
    started) to exit."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    # the next session in this process launches a fresh JVM
    SparkContext._gateway = SparkContext._jvm = None


def run(workload: str, seed: int, seconds: float, trace: bool, sizes: dict | None = None) -> dict:
    """Run one workload in this process and return its full record."""
    from bench import CpuTracker, PhaseInterference
    from perfbench import layers, workloads
    from perfbench.tracer import Tracer

    work = os.path.abspath(os.path.join(".bench_work", f"{workload}-{os.getpid()}"))
    workloads.clean(work)
    load_before, jiffies_before, calib_before = _loadavg(), _cpu_jiffies(), _calibrate()
    spark = tracer = watch = None
    try:
        spark, session_s = start_spark(work)
        if trace:
            tracer = Tracer(spark)
            layers.instrument(tracer)
            watch = layers.CatalogWatch(work)
        interference = PhaseInterference()
        res = workloads.WORKLOADS[workload](
            spark, seed, seconds, work, after_op=watch, sizes=sizes
        )
        rss_gb = CpuTracker._proc_tree_stats()[1]
        host = interference.finish()
        steal, total = (b - a for a, b in zip(jiffies_before, _cpu_jiffies()))
        host["steal_share"] = round(steal / max(total, 1), 4)
        record = {
            "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
            "cpus": _cpus(), "driver_heap": _driver_heap(), "inputs": res.inputs,
            "window_s": res.window_s,
            "ops": [
                {"kind": o.kind, "wall": o.wall, "cpu": o.cpu,
                 **({"name": o.name} if o.name else {}),
                 **({f: getattr(o.stats, f) for f in ("epoch", "claimed", "completed", "failed", "blocked", "new_urls")}
                    if o.stats is not None else {})}
                for o in res.ops
            ],
            "session_s": session_s,
            "setup_samples": res.setup_s,
            "warmup_s": res.warmup_s,
            "gates_s": res.gates_s,
            "failures": res.failures,
            "host": {**host, "load_before": load_before, "load_after": _loadavg()},
        }
        attempted = len(res.ops)
        try:
            e2e = workloads.end_to_end(workload, res, session_s, rss_gb)
        except (statistics.StatisticsError, ZeroDivisionError):
            e2e = {k: 0.0 for k in END_TO_END_UNITS}  # no operation completed
            res.failures.append("no operation completed")
        record["end_to_end"] = e2e
        if trace:
            tracer.unpatch()
            tracer.harvest()
            record["per_layer"] = layers.per_layer(tracer, watch, session_s, res)
            record["spans"] = tracer.records()
    finally:
        if tracer is not None:
            tracer.unpatch()
        if spark is not None:
            stop_spark(spark)
        workloads.clean(work)
    record["host"]["calib_s"] = [calib_before, _calibrate()]
    record["attempted"] = max(attempted, 1)
    record["failed"] = min(len(res.failures), record["attempted"])
    return record


def result_line(record: dict) -> dict:
    from perfbench.layers import PER_LAYER_UNITS

    units = PER_LAYER_UNITS if record["trace"] else END_TO_END_UNITS
    values = record["per_layer"] if record["trace"] else record["end_to_end"]
    return {
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["crawl_discovery", "corpus_queries"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import bench  # noqa: F401
        import crawling_infrastructure_spark  # noqa: F401
        import tests.reference_oracle  # noqa: F401
        import tools.check_oracle  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    record = run(args.workload, args.seed, args.seconds, bool(args.trace))
    os.makedirs(".bench_out", exist_ok=True)
    out = os.path.join(".bench_out", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out, "w") as f:
        json.dump(record, f, indent=1)
    for msg in record["failures"]:
        print(f"perfbench: correctness: {msg}", file=sys.stderr)
    print(f"perfbench: host {json.dumps(record['host'])}", file=sys.stderr)
    line = result_line(record)
    for k, m in line["metrics"].items():
        print(f"{k} {m['value']} {m['unit']}")
    print(json.dumps(line))
    return 0 if line["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
