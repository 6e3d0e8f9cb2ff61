#!/usr/bin/env python3
"""Benchmark entry point: one workload per invocation, one JSON result line.

    python3 perfbench/run.py --workload queries --seed 7 --seconds 12 --trace 0

Run from the repository root. The session is pinned to the machine
(``local[<cores>]``, shuffle partitions = cores, a bounded driver heap) and
every ``SPARK_GRAFT_*`` knob in the environment is cleared first, so a stale
A/B export cannot change the measured program. All scratch output (Spark
local dirs, checkpoints, event logs) goes to ``perfbench/.work``.

Output: a context line (workload, seed, cores, effective conf, per-workload
details), then the last line ``{"correct", "attempted", "failed",
"metrics"}``. ``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the
per-layer ones (see perfbench/README.md). Exit code 0 only when every
operation ran and matched its oracle.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

from procs import alive, cpu_ticks, descendants, steal_share

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DRIVER_MEMORY = "4g"

# Conf keys echoed with every result: the ones that decide how much
# parallelism and memory the measured program gets.
ECHO_CONF = (
    "spark.master",
    "spark.driver.memory",
    "spark.sql.shuffle.partitions",
    "spark.default.parallelism",
    "spark.sql.adaptive.enabled",
    "spark.sql.execution.arrow.maxRecordsPerBatch",
    "spark.local.dir",
    "spark.eventLog.enabled",
)


def machine_cores() -> int:
    """What ``nproc`` prints: the CPUs this process may run on."""
    return len(os.sched_getaffinity(0))


def pin_environment(cores: int) -> dict[str, str]:
    """Clear A/B knobs and route scratch files into the work dir. Returns
    the variables that were dropped, for the context line."""
    dropped = {
        k: os.environ.pop(k)
        for k in list(os.environ)
        if k.startswith("SPARK_GRAFT_")
        or k in ("SPARK_MASTER", "SPARK_DRIVER_MEM", "PYSPARK_SUBMIT_ARGS")
    }
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher included: temp files in the work
    # dir, no hsperfdata file in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # Python workers import the package from the checkout
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(paths)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    return dropped


def start_session(cores: int, trace: bool, app: str):
    from hypercane_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.default.parallelism": str(cores),
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.eventLog.enabled": "true" if trace else "false",
    }
    if trace:
        os.makedirs(os.path.join(WORK, "eventlog"), exist_ok=True)
        conf["spark.eventLog.dir"] = "file://" + os.path.join(WORK, "eventlog")
        conf["spark.eventLog.compress"] = "false"
    spark = get_spark(
        app_name=app,
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(timeout_s: float = 60.0) -> None:
    """Stop Spark, then end the gateway JVM and wait until it and every
    process it forked (the Python worker daemon and its workers) are gone.

    ``spark.stop()`` leaves the JVM running; PySpark only closes its stdin
    when this process exits, and the JVM then shuts down on its own, seconds
    after the run has returned. Closing stdin here and waiting makes the run
    end with nothing of it left behind. Whatever is still alive after
    ``timeout_s`` is killed, and waited for."""
    from pyspark import SparkContext

    tree = descendants(os.getpid())
    gateway = SparkContext._gateway
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            gateway.close()
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
            SparkContext._gateway = SparkContext._jvm = None
        tree.update(descendants(os.getpid()))
        deadline = time.monotonic() + timeout_s
        while any(alive(p, s) for p, s in tree.items()):
            if time.monotonic() > deadline:
                for p, s in tree.items():
                    if alive(p, s):
                        try:
                            os.kill(p, signal.SIGKILL)
                        except ProcessLookupError:
                            pass
            time.sleep(0.05)


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM (local mode: the driver runs every task).
    Reported with the details, not as a metric: between seeds it spreads by
    18-28 % (IQR/median), with the heap's growth following GC timing."""
    pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("queries", "crawl-verify"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "hypercane_spark")):
        print(
            f"perfbench: no hypercane_spark package under {ROOT}; run from "
            "a full checkout",
            file=sys.stderr,
        )
        return 2
    # a SIGTERM unwinds like an exception, so stop_session still runs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    cores = machine_cores()
    shutil.rmtree(WORK, ignore_errors=True)
    dropped = pin_environment(cores)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    ticks = cpu_ticks()
    t0 = time.perf_counter()
    import pandas  # noqa: F401  (pandas_udf type hints resolve at import)

    from bench_crawl import CrawlWorkload
    from bench_queries import QueriesWorkload
    from tracing import Tracer

    workload_cls = {"queries": QueriesWorkload, "crawl-verify": CrawlWorkload}[
        args.workload
    ]
    try:
        spark = start_session(cores, bool(args.trace), f"perfbench-{args.workload}")
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark, cores, os.path.join(WORK, "eventlog"))
        wl = workload_cls(spark, args.seed, args.seconds, cores, WORK)
        res = wl.run(tracer if args.trace else None)
        res.details["session_s"] = session_s
        res.details["peak_rss_mb"] = jvm_peak_rss_mb(spark)
        conf = {k: spark.conf.get(k, None) for k in ECHO_CONF}
    finally:
        stop_session()
    res.details["host_steal_share"] = steal_share(ticks, cpu_ticks())
    if args.trace:
        metrics = tracer.layer_metrics(res)
    else:
        metrics = res.end_to_end()
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": cores,
        "conf": conf,
        "cleared_env": sorted(dropped),
        "details": res.details,
    }
    print(json.dumps(context, sort_keys=True))
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
    shutil.rmtree(WORK, ignore_errors=True)
    return 0 if res.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
