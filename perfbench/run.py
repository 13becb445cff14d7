"""Benchmark entry point.

    python3 perfbench/run.py --workload ann_query_update --seed 1 --seconds 10 --trace 0

Runs one workload against ``local[nproc]`` from the root of a checkout and
prints two JSON lines on stdout: the run's full record (environment,
every per-operation figure with its sample count), then the summary the
benchmark contract reads: ``{"correct", "attempted", "failed",
"metrics"}``.  With ``--trace 0`` the summary metrics are the end-to-end
metrics; with ``--trace 1`` they are the per-layer metrics of a traced
run.  Every file the run writes lives in one directory under the
checkout, removed at exit.  See README.md in this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE_DIR = os.path.join(ROOT, "tiledb_vector_search_spark")
RUN_ROOT = os.path.join(ROOT, ".perfbench_run")


def _mem_available_kb() -> int | None:
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemAvailable:"):
                    return int(line.split()[1])
    except OSError:
        return None
    return None


def _cpu_ticks() -> tuple[int, int] | None:
    """(steal, total) CPU ticks since boot, from /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return (f[7] if len(f) > 7 else 0), sum(f)


def _host_state() -> dict:
    return {"loadavg": list(os.getloadavg()), "mem_available_kb": _mem_available_kb()}


def _git_commit() -> str | None:
    """The checkout's commit, when it is a git work tree (else None)."""
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=False,
            # never search above the checkout for a repository
            env=dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT)),
        )
    except (OSError, subprocess.SubprocessError):
        return None
    if out.returncode != 0:
        return None
    return out.stdout.strip() or None


def _stop_jvm(spark) -> None:
    """Stop the session, then the gateway JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(PACKAGE_DIR, "__init__.py")):
        print(f"library package not found at {PACKAGE_DIR}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import metrics, workloads

    if args.workload not in metrics.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(metrics.WORKLOADS)}",
              file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("--seconds must be positive", file=sys.stderr)
        return 2

    workdir = os.path.join(RUN_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(os.path.join(workdir, "tmp"))
    evdir = os.path.join(workdir, "events")
    os.makedirs(evdir)
    # Python workers import the library from the checkout; every
    # temporary file (shuffle, spill, broadcast) stays inside the run dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")

    nproc = len(os.sched_getaffinity(0))
    record: dict = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": nproc,
        "master": f"local[{nproc}]",
        "git_commit": _git_commit(),
        "python": sys.version.split()[0],
        "host_start": _host_state(),
    }
    tracer = None
    spark = None
    run = None
    crashed = None
    t_start = time.perf_counter()
    record["t_start_epoch"] = time.time()
    ticks0 = _cpu_ticks()
    try:
        from perfbench.trace import Tracer

        if args.trace:
            tracer = Tracer()
            sess = tracer.begin("session", "get_spark", op="setup")
        from tiledb_vector_search_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            # no hsperfdata file in the system temp dir
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(workdir, 'tmp')} -XX:-UsePerfData",
        }
        if args.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{evdir}",
                "spark.eventLog.compress": "false",
            })
        spark = get_spark(
            app_name=f"perfbench-{args.workload}",
            master=f"local[{nproc}]",
            shuffle_partitions=nproc,
            extra_conf=conf,
        )
        spark.sparkContext.setLogLevel("ERROR")
        record["spark_version"] = spark.version
        record["default_parallelism"] = spark.sparkContext.defaultParallelism
        if tracer is not None:
            tracer.end(sess)
            tracer.spark_context = spark.sparkContext
            tracer.install()
        run = workloads.Run(spark, args.seed, args.seconds, workdir, tracer)
        record["session_start_s"] = time.perf_counter() - t_start
        with run.span("session", "warm_up", op="setup"):
            workloads.warm_up(spark)
        record["warm_up_s"] = time.perf_counter() - t_start - record["session_start_s"]
        metrics.WORKLOADS[args.workload](run)
        run.loop_t1 = run.loop_t1 or time.perf_counter()
    except Exception:
        crashed = traceback.format_exc()
        print(crashed, file=sys.stderr)
    finally:
        if tracer is not None:
            tracer.uninstall()
        if spark is not None:
            _stop_jvm(spark)
    try:
        record["host_end"] = _host_state()
        ticks1 = _cpu_ticks()
        if ticks0 and ticks1 and ticks1[1] > ticks0[1]:
            # share of CPU time the hypervisor gave to other guests
            record["cpu_steal_share"] = (ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1])
        if crashed is not None or run is None or run.loop_t0 == 0.0:
            # the workload could not run at all: no result line
            return 1
        record["setup_excluded_s"] = run.setup_excluded_s
        record["setup_s"] = run.loop_t0 - t_start - run.setup_excluded_s
        record["run_wall_s"] = run.loop_t1 - t_start
        summary, detail = metrics.summarize(args.workload, run, record, tracer, evdir)
        print(json.dumps(detail, sort_keys=True), flush=True)
        print(json.dumps(summary), flush=True)
        return 0
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(RUN_ROOT)  # only when no other run is using it
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
