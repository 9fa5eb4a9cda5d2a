#!/usr/bin/env python3
"""Benchmark for miru_spark: bulk build, then the CPU costs of BM25
top-k, facet, plugin and batch ops on the serving and the distributed
route, in units of a calibration task timed in the same run; traced
runs add the append, the compaction and the per-layer split.

Run from the repository root (NOTES.md has the full description):

    python3 perfbench/run.py --workload serve_hot --seed 1 --seconds 12 --trace 0

Workloads (see workloads.py): `serve_hot` (warm serving route, zero Spark
jobs) and `distributed` (kernel route, Spark jobs); both share one
set-up. `--trace 0` prints the end-to-end metrics; `--trace 1` enables
Spark's event log and prints the per-layer metrics instead. The last line
of stdout is one JSON object {correct, attempted, failed, metrics}; the
line before it is the full record (host, set-up, per-class wall and CPU
timings with sample counts and tail percentiles, failures).

Spark runs on local[nproc] in one JVM with a fixed 4 GB heap. Every file
the run writes lives under .perfbench_work/ and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import miru_spark.index  # noqa: E402,F401 - fail fast without the program
import miru_spark.query  # noqa: E402,F401

import layers  # noqa: E402
import probes  # noqa: E402
from workloads import LOOPS, CorpusWriter, Run  # noqa: E402

HEAP = "4g"


def start_spark(work: str, traced: bool):
    from miru_spark.session import get_spark

    cpus = probes.nproc()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the program's helpers and PySpark both place files under tempfile's
    # directory; keep them inside the run's work dir
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # nor may a JVM write its hsperfdata file under /tmp: the launcher
    # JVM takes this, the driver JVM its extraJavaOptions below
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # an inherited SPARK_LOCAL_DIRS would override spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    conf = {
        "spark.driver.memory": HEAP,
        "spark.driver.extraJavaOptions": (
            f"-Xms{HEAP} -XX:+UseParallelGC -XX:ParallelGCThreads={cpus} "
            f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        ),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        logdir = os.path.join(work, "eventlog")
        os.makedirs(logdir, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + logdir
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    return get_spark(app_name="perfbench", master=f"local[{cpus}]",
                     extra_conf=conf)


def _alive(pid: int) -> bool:
    """Running (an exited process awaiting its reaper counts as ended)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the context, then the gateway JVM and the Python workers it
    forked, and wait until every one of them has exited."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    workers = probes.descendants(proc.pid) if proc is not None else []
    try:
        gw.shutdown()
    except (Py4JError, OSError):
        pass  # the gateway connection is already closed
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    while workers and time.monotonic() < deadline:
        workers = [p for p in workers if _alive(p)]
        time.sleep(0.05)
    for p in workers:
        os.kill(p, signal.SIGKILL)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(LOOPS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    traced = bool(args.trace)

    t0 = time.perf_counter()
    work = os.path.join(os.getcwd(), ".perfbench_work", str(os.getpid()))
    os.makedirs(work, exist_ok=True)
    try:
        mem_bw = probes.mem_bw_gbps()
        inputs = CorpusWriter(work, args.seed)
        inputs.start()
        spark = start_spark(work, traced)
        t_spark = time.perf_counter() - t0
        try:
            run = Run(spark, work, args.workload, args.seed, args.seconds,
                      traced)
            run.setup(inputs)
            run.rec["host"]["mem_bw_gbps"] = mem_bw
            run.rec["host"]["spark_start_s"] = t_spark
            run.rec["host"]["throttled"] = mem_bw < probes.THROTTLED_GBPS
            run.pools()
            t1 = time.perf_counter()
            run.warm_pass()
            run.rec["warm_pass_s"] = time.perf_counter() - t1
            run.loop()
            if traced:
                layers.probe(run)
                run.ingest_tail()
            else:
                metrics = run.end_to_end()
        finally:
            stop_spark(spark)
        if traced:
            metrics = layers.finish(run, os.path.join(work, "eventlog"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work dir is still there

    run.rec["slow_spans"] = [(s.name, round(s.wall_ms))
                             for s in run.spans.spans if s.wall_ms > 200]
    run.rec["failures"] = run.failures
    run.rec["wall_s"] = time.perf_counter() - t0
    run.rec["workload"] = args.workload
    run.rec["seed"] = args.seed
    print(json.dumps(run.rec, default=str))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
