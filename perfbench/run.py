"""Benchmark entry point: one seeded command per workload.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 12 --trace 0

Run it from the root of a checkout; it builds nothing ahead of time and
writes only under ``.perfbench_work/`` there. The last line of standard
output is the result: ``{"correct", "attempted", "failed", "metrics"}``
with every end-to-end metric (``--trace 0``) or every per-layer metric
(``--trace 1``). The line before it is the full report (host settings,
health probes, sizes, sample counts, errors). Without the engine package
beside it, the command exits with status 2 and prints no result.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("query_mix", "ingest_mix")


def cpu_probe() -> float:
    """Fixed single-core numpy sort (seconds). Healthy is ~0.2 s on a
    4-core VM; several seconds means CPU steal during the run."""
    import numpy as np

    a = np.random.default_rng(0).integers(0, 1 << 40, 10_000_000)
    np.sort(a[: a.size // 4])  # fault the pages in outside the timed sort
    t0 = time.perf_counter()
    np.sort(a)
    return time.perf_counter() - t0


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot (all CPUs),
    from /proc/stat; its growth over a run shows steal the probe missed."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def host_settings(work: str) -> dict:
    """Spark settings sized to this host, not to the library defaults."""
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    driver_mb = min(3072, mem_kb // 1024 // 4)
    return {
        "nproc": nproc,
        "mem_total_mb": mem_kb // 1024,
        "master": f"local[{nproc}]",
        "shuffle_partitions": nproc,
        "driver_memory": f"{driver_mb}m",
        "spark_local_dirs": os.path.join(work, "spark-local"),
        "tmpdir": os.path.join(work, "tmp"),
    }


def start_spark(host: dict, work: str):
    """Start the session with every scratch path inside ``work``."""
    for d in (host["spark_local_dirs"], host["tmpdir"]):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = host["spark_local_dirs"]
    os.environ["TMPDIR"] = host["tmpdir"]
    java_opts = f"-Djava.io.tmpdir={host['tmpdir']} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--driver-java-options", shlex.quote(java_opts),
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "pyspark-shell",
        ]
    )
    from search_engine_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=host["master"],
        shuffle_partitions=host["shuffle_partitions"],
        driver_memory=host["driver_memory"],
    )


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for both."""
    from pyspark import SparkContext

    from py4j.protocol import Py4JError

    gateway = SparkContext._gateway
    try:
        spark.stop()
    except (Py4JError, OSError):
        pass  # interrupted mid-call: the JVM still exits on EOF below
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a SIGTERM unwinds through the finally below, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    if not os.path.isfile(os.path.join(ROOT, "search_engine_spark", "__init__.py")):
        print(f"perfbench: no search_engine_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    host = host_settings(work)
    t_run = time.perf_counter()
    probe_before = cpu_probe()
    steal_before = steal_s()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(host, work)
        session_s = time.perf_counter() - t0

        import workloads

        run = workloads.Run(spark, args, work, session_s)
        run.execute()
        result, report = run.result()
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    report.update(
        {
            "host": host,
            "probe_s": {"before": probe_before, "after": cpu_probe()},
            "steal_s": steal_s() - steal_before,
            "run_s": time.perf_counter() - t_run,
        }
    )
    if args.trace:
        traces = os.path.join(base, "traces")
        os.makedirs(traces, exist_ok=True)
        path = os.path.join(traces, f"{args.workload}-seed{args.seed}-{os.getpid()}.json")
        run.tracer.dump(path)
        report["trace_file"] = os.path.relpath(path, ROOT)
    print(json.dumps(report, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
