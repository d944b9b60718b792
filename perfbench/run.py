"""Benchmark entry point.

    python3 perfbench/run.py --workload cdc_stream --seed 1 --seconds 12 --trace 0

Run from the repository root. Makes every input from ``--seed``, starts
one Spark session on ``local[nproc // 2]`` through the package's
``session.get_spark``, runs one workload (see ``workloads.py``) for
``--seconds`` of measured time after an untimed warm-up, checks the
outputs against DuckDB, and prints every metric by name and unit. The
last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — end-to-end metrics
with ``--trace 0``, per-layer metrics with ``--trace 1`` (Spark's event
log on, parsed per op by ``eventlog.py``). Exits non-zero when a
correctness check fails; all working files live in a fresh directory
under ``.perfbench_work/`` and are removed at exit.
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402
from eventlog import OP_METRICS, parse_dir, per_op  # noqa: E402
from harness import Run  # noqa: E402

E2E_UNITS = {"setup_s": "s", "op_p50_s": "s", "items_per_s": "1/s"}

# The per-layer metrics every traced run reports (0 where the workload
# does not exercise the layer).
LAYER_UNITS = {
    "session.start_s": "s", "cdc.init_s": "s", "streaming.start_s": "s",
    "sources.load_s": "s", "sources.load_jobs": "count",
    "streaming.add_batch_s": "s", "streaming.overhead_s": "s",
    "streaming.wait_s": "s",
    "cdc.buckets_touched_per_commit": "count",
    "cdc.rows_rewritten_per_event": "count",
    "cdc.bytes_written_per_event": "B",
    "cdc.mirror_files": "count", "cdc.mirror_bytes": "B",
    "cdc.bytes_retained": "B", "cdc.apply_s": "s", "cdc.expire_s": "s",
    "cdc.read_latest_s": "s", "cdc.read_travel_s": "s", "cdc.diff_s": "s",
    "api.execute_s": "s", "api.first_page_s": "s", "api.drain_s": "s",
    "api.pages": "count", "api.rows_returned": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.driver_gap_s": "s", "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s", "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB", "spark.spill_mb": "MB", "spark.gc_s": "s",
}

# Which timed op kinds each spark.* metric is taken over, per workload:
# the fixed-cost counters (jobs, stages, tasks, driver gap) and the
# executor counters watch the ops they are expected to move.
FIXED_COST = ("spark.jobs", "spark.stages", "spark.tasks", "spark.driver_gap_s")
SPARK_KINDS = {
    "cdc_stream": {"fixed": ["commit"], "executor": ["commit"]},
    "lake_sql": {"fixed": ["point"], "executor": ["q1", "q3"]},
}

def nproc() -> int:
    return len(os.sched_getaffinity(0))


def spark_cpus() -> int:
    """Task threads for Spark: half the CPUs. The rest run the JVM's
    compiler and GC threads and the Python driver, so a run does not ask
    for more runnable threads than it has CPUs."""
    return max(1, nproc() // 2)


def driver_mem_mb() -> int:
    """4 GiB, or a third of the box's RAM when that is less."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f
                            if line.startswith("MemTotal")).split()[1])
    return min(4096, total_kb // 1024 // 3)


def cpu_sample() -> tuple[int, int]:
    """(steal jiffies, total jiffies) from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals)


def env_stamp() -> dict:
    with open("/proc/loadavg") as f:
        load = [float(v) for v in f.read().split()[:3]]
    steal, total = cpu_sample()
    return {"loadavg": load, "steal_jiffies": steal, "total_jiffies": total}


def prepare_env(work: str, trace: bool) -> None:
    """Environment and Spark config the JVM reads at launch: pinned
    cores and driver memory, per-run local and temp dirs, and (traced
    runs only) an uncompressed event log."""
    conf_dir = os.path.join(work, "conf")
    for d in ("conf", "local", "tmp", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, d))
    lines = [
        "spark.ui.showConsoleProgress false",
        f"spark.sql.warehouse.dir file:{work}/warehouse",
        f"spark.driver.extraJavaOptions -Djava.io.tmpdir={work}/tmp",
    ]
    if trace:
        lines += ["spark.eventLog.enabled true",
                  f"spark.eventLog.dir file:{work}/eventlog",
                  "spark.eventLog.compress false"]
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as f:
        f.write("\n".join(lines) + "\n")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(spark_cpus()),
        "SPARK_DRIVER_MEM": f"{driver_mem_mb()}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_CONF_DIR": conf_dir,
        "TMPDIR": os.path.join(work, "tmp"),
    })


def peak_rss_mb(pids: list[int]) -> float:
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except FileNotFoundError:
            pass
    return total_kb / 1024.0


def stop_spark(spark) -> None:
    """Stop the session (if any) and the JVM PySpark launched, and wait
    for the JVM to exit. A no-op once the JVM is gone."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def end_to_end(run: Run) -> dict[str, float]:
    """The end-to-end metrics. A run stopped by a failed op may lack
    samples of some kinds; its figures cover what it measured (0 when
    nothing) and it is reported as not correct anyway."""
    sampled = {k: v for k, v in run.samples.items() if v}
    return {
        "setup_s": run.session_start_s + statistics.median(run.setup_s),
        "op_p50_s": stats.per_kind_geomean(sampled) if sampled else 0.0,
        "items_per_s": stats.median_rate(run.items, sampled) if run.items else 0.0,
    }


def per_layer(run: Run) -> dict[str, float]:
    out = {name: 0.0 for name in LAYER_UNITS}
    out["session.start_s"] = run.session_start_s
    out.update(run.layer)
    for name, values in run.layer_samples.items():
        out[name] = statistics.median(values)
    ops = per_op(parse_dir(os.path.join(run.work, "eventlog")), run.spans)
    loads = [o["spark.jobs"] / run.loads_per_span
             for o in ops if o["kind"] == "setup.load"]
    if loads:
        out["sources.load_jobs"] = statistics.median(loads)
    kinds = SPARK_KINDS[run.workload]
    for metric in OP_METRICS:
        group = kinds["fixed"] if metric in FIXED_COST else kinds["executor"]
        vals = [o[metric] for o in ops if o["kind"] in group]
        if vals:
            out[metric] = statistics.median(vals)
    return out


def kind_lines(run: Run) -> list[str]:
    lines = []
    for kind, vals in run.samples.items():
        t = stats.tail(vals)
        tail = f"p{t[0]}={t[1]:.4f} s" if t else "tail n/a (n<11)"
        lines.append(f"  op {kind:<12} n={len(vals):<4} "
                     f"p50={statistics.median(vals):.4f} s  {tail}")
    return lines


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        import proof_of_concept___cdc_w_iceberg_spark as pkg
    except ImportError as e:
        print(f"perfbench: the package is not importable from {root}: {e}",
              file=sys.stderr)
        return 2
    if not os.path.abspath(pkg.__file__).startswith(root + os.sep):
        print(f"perfbench: imported the package from {pkg.__file__}, "
              f"not from {root}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    # A terminated run still stops its JVM and removes its work dir; a
    # second SIGTERM must not cut that clean-up short.
    def terminated(*_):
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        sys.exit(143)

    signal.signal(signal.SIGTERM, terminated)
    work = os.path.join(root, ".perfbench_work",
                        f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(work)
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    spark = None
    try:
        prepare_env(work, run.trace)
        stamp_start = env_stamp()
        from proof_of_concept___cdc_w_iceberg_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(f"perfbench_{args.workload}")
        run.session_start_s = time.perf_counter() - t0
        run.mark("session")
        run.spark = spark
        WORKLOADS[args.workload](run)
        from pyspark import SparkContext

        jvm_pid = SparkContext._gateway.proc.pid
        rss = peak_rss_mb([os.getpid(), jvm_pid])
        import pyspark

        java = spark._jvm.java.lang.System.getProperty("java.version")
        stop_spark(spark)
        spark = None
        run.mark("stop")
        stamp_end = env_stamp()
        e2e = end_to_end(run)
        layers = per_layer(run) if run.trace else {}
    finally:
        if "pyspark" in sys.modules:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    d_steal = stamp_end["steal_jiffies"] - stamp_start["steal_jiffies"]
    d_total = stamp_end["total_jiffies"] - stamp_start["total_jiffies"]
    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds:g} "
          f"trace={args.trace}")
    print(f"  env nproc={nproc()} SPARK_GRAFT_CPUS={os.environ['SPARK_GRAFT_CPUS']} "
          f"driver_mem={os.environ['SPARK_DRIVER_MEM']} "
          f"pyspark={pyspark.__version__} java={java} "
          f"{run.scale} seed={args.seed}")
    print(f"  env loadavg start={stamp_start['loadavg']} end={stamp_end['loadavg']} "
          f"cpu_steal={100.0 * d_steal / max(1, d_total):.2f}%")
    print("  phases " + " ".join(f"{k}={v:.1f}s" for k, v in run.phases.items())
          + f"  peak_rss={rss:.0f} MB (driver + JVM)")
    print(f"  setup reps={len(run.setup_s)} "
          f"[{', '.join(f'{s:.3f}' for s in run.setup_s)}] s "
          f"session_start={run.session_start_s:.3f} s")
    for line in kind_lines(run):
        print(line)
    for name, value in e2e.items():
        print(f"  {name:<32} {value:>14.6g} {E2E_UNITS[name]}")
    for name, value in layers.items():
        print(f"  {name:<32} {value:>14.6g} {LAYER_UNITS[name]}")
    for err in run.errors[:20]:
        print(f"  error: {err}")
    correct = run.failed == 0
    print("detail " + json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "end_to_end": e2e, "per_layer": layers,
        "samples": run.samples, "setup_s": run.setup_s,
        "phases": run.phases, "peak_rss_mb": rss,
        "env": {"nproc": nproc(), "cpus": os.environ["SPARK_GRAFT_CPUS"],
                "driver_mem": os.environ["SPARK_DRIVER_MEM"],
                "pyspark": pyspark.__version__, "java": java,
                "scale": run.scale, "start": stamp_start, "end": stamp_end},
    }))
    metrics, units = (layers, LAYER_UNITS) if run.trace else (e2e, E2E_UNITS)
    print(json.dumps({
        "correct": correct,
        "attempted": max(1, run.attempted),
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
