#!/usr/bin/env python3
"""CDC-path benchmark of record.

Run from the root of a checkout::

    python3 cdcbench/run.py --workload cdc_pipeline --seed 1 --seconds 10 --trace 0

One process drives the program on ``local[<cores>]`` through its public
entry points only (``CdcPipeline``, ``ParquetSnapshotSink``,
``GenerationView``, ``queries()``). Inputs come from ``--seed``. The
last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- every ``end_to_end`` metric of
``BENCHMARK.json`` with ``--trace 0``, every ``per_layer`` metric with
``--trace 1``. The end-to-end metrics are the CPU time of set-up and
the CPU time per timed operation (see ``workloads.cpu_seconds``); wall
times, latency and throughput are in the ``detail`` object, the line before,
with the box, the sample counts, gauges after every batch and, when
traced, the self-time table. A per-layer metric of a layer the
workload does not use is 0.

Exits with code 2, printing no result, when the program is missing.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()
CPU_PROCESS = time.process_time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

ROOT = os.getcwd()
# one directory per process, so runs sharing a checkout never collide
WORK = os.path.join(ROOT, ".cdcbench_work", str(os.getpid()))


def host_memory_bytes() -> int:
    """Memory this process may use: the smaller of RAM and the cgroup limit."""
    with open("/proc/meminfo") as fh:
        total = int(fh.readline().split()[1]) * 1024
    try:
        with open("/sys/fs/cgroup/memory.max") as fh:
            limit = fh.read().strip()
        if limit.isdigit():
            total = min(total, int(limit))
    except OSError:
        pass
    return total


def size_resources(trace: bool) -> dict:
    """Environment for the session, sized from the host, with every
    temporary directory inside the checkout."""
    cpus = len(os.sched_getaffinity(0))
    mem = host_memory_bytes()
    # a quarter of the host for the driver heap, 1..8 GiB: the session's
    # own default (48g) does not fit a small box
    driver_gb = min(max(mem // 4 // 2**30, 1), 8)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_gb}g",
        # a heap of fixed size: when G1 shrank it after a full collection,
        # about one run in five spent more CPU time on concurrent marking
        # than on the timed queries
        "SPARK_GRAFT_DRIVER_JAVA_OPTS": f"-Xms{driver_gb}g",
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        # every JVM, the launcher's too, keeps its temporary files here
        # compiler threads live as long as the JVM, so that cpu_seconds
        # can leave their time out
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads",
        "TMPDIR": tmp,
        # one thread per task slot: Python workers must not fan out again
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
    }
    if trace:
        env["SPARK_GRAFT_EVENTLOG_DIR"] = os.path.join(WORK, "events")
    os.environ.update(env)
    return {"cores": cpus, "memory_gb": round(mem / 2**30, 1), "driver_memory": env["SPARK_GRAFT_DRIVER_MEM"]}


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def stop_jvm(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()
        proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "snowflake_cdc_spark")):
        print(f"no snowflake_cdc_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    box = size_resources(bool(args.trace))
    try:
        return run(args, spec, box, WORKLOADS[args.workload])
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(WORK))
        except OSError:  # another run still uses it
            pass


def run(args, spec, box, workload) -> int:
    from snowflake_cdc_spark.session import get_spark
    from spans import Tracer
    from workloads import Ctx

    t0 = time.perf_counter()
    extra = {"spark.eventLog.compress": "false"} if args.trace else None
    spark = get_spark(app_name=f"cdcbench-{args.workload}", cpus=box["cores"], extra_conf=extra)
    get_spark_s = time.perf_counter() - t0
    ready_s = time.perf_counter() - T_PROCESS
    box.update(
        java=spark.sparkContext._jvm.System.getProperty("java.version"),
        spark=spark.version,
        python=platform.python_version(),
    )
    tracer = Tracer(spark, bool(args.trace))
    event_dir = os.environ.get("SPARK_GRAFT_EVENTLOG_DIR")
    ctx = Ctx(spark, tracer, WORK, args.seed, args.seconds, event_dir)
    try:
        res = workload(ctx)
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        peak_rss_mb = vm_hwm_mb(os.getpid()) + vm_hwm_mb(jvm_pid)
    finally:
        stop_jvm(spark)  # also flushes the event log the traced run reads
    latency_p50 = statistics.median(res.latencies)
    # CPU time, not wall time, is the end-to-end cost: on a shared host
    # the wall time of a run moves with the other tenants' load
    cpu_per_op = res.cpu_s / len(res.latencies)
    gauges = res.gauges or [{"persistent_rdds": 0, "jvm_heap_used_mb": 0.0}]
    if args.trace:
        layers = res.layers_fn() if res.layers_fn else {}
        layers.update(
            {
                "session.get_spark.s": get_spark_s,
                "spark.persistent_rdds": max(g["persistent_rdds"] for g in gauges),
                "spark.jvm_heap_used_mb": max(g["jvm_heap_used_mb"] for g in gauges),
                "spark.peak_rss_mb": peak_rss_mb,
                "trace.latency_p50_s": latency_p50,
                "trace.cpu_s_per_op": cpu_per_op,
            }
        )
        wanted = spec["per_layer"]
        values = {m["name"]: layers.get(m["name"], 0.0) for m in wanted}
    else:
        wanted = spec["end_to_end"]
        values = {
            # CPU time, like cpu_s_per_op: the wall time of set-up moves
            # even more with the host's load than that of the timed work
            "setup_s": res.setup_cpu_s - CPU_PROCESS,
            "cpu_s_per_op": cpu_per_op,
        }
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in wanted}
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "box": box,
        "ready_s": ready_s,
        "setup_wall_s": ready_s + res.setup_s,
        "get_spark_s": get_spark_s,
        "samples": len(res.latencies),
        "latencies_s": [round(x, 4) for x in res.latencies],
        "latency_p50_s": latency_p50,
        "throughput_per_s": res.work / res.wall_s,
        "cpu_s": res.cpu_s,
        "gauges": gauges,
        "errors": res.errors,
        **res.detail,
    }
    print(json.dumps({"detail": detail}, default=str))
    print(
        json.dumps(
            {
                "correct": res.failed == 0,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
