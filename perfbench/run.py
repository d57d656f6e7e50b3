#!/usr/bin/env python3
"""Repo benchmark entry point.

    python3 perfbench/run.py --workload merge_smallfiles --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout.  Builds nothing: the engine is
imported from the checkout.  Inputs are generated from ``--seed`` into a
scratch directory under the checkout, which is removed on exit.  The last
line of stdout is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``).  The line before it records the run's context:
source digest, cores, seed, host canaries, per-op median walls, failed
checks and, untraced, the run's timings.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import sys
import time

import proctree

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "parquet_merger_spark")
DRIVER_MEM = "2g"
STOP_TIMEOUT_S = 60.0  # how long to wait for the JVM and workers to exit


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def source_digest() -> str:
    """Content digest of the engine's sources (the checkout has no git)."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(PACKAGE):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(root, f)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def prepare_env(work: str, cores: int) -> None:
    """Keep every file the run writes under ``work`` and let executor-side
    Python workers import the engine; must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # a fixed driver heap: the engine's default scales with host memory
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)


def stop_jvm() -> None:
    """After ``spark.stop()``: close the JVM's stdin pipe, which makes it
    exit, and wait until it and every other child process has ended."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=STOP_TIMEOUT_S)
    deadline = time.monotonic() + STOP_TIMEOUT_S
    while proctree.tree() != {os.getpid()} and time.monotonic() < deadline:
        time.sleep(0.1)


def run(args, work: str) -> tuple[dict, dict]:
    import workloads

    cores = len(os.sched_getaffinity(0))
    prepare_env(work, cores)
    memory = proctree.MemorySampler()
    extra = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if args.trace:
        memory.start()
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file:" + log_dir,
            "spark.eventLog.compress": "false",
        })
    t0 = time.perf_counter()
    from parquet_merger_spark.session import (
        first_touch_canary_s,
        get_spark,
        stage_latency_canary_s,
    )
    t1 = time.perf_counter()
    spark = get_spark("perfbench", cpus=cores, extra_conf=extra)
    t2 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")

    runner = workloads.Runner(spark, args.seed, args.seconds, bool(args.trace), work)
    try:
        if args.workload == "merge_smallfiles":
            e2e = runner.merge_smallfiles()
        else:
            e2e = runner.query_mix()
        context = {
            "source_digest": source_digest(),
            "cores": cores,
            "seed": args.seed,
            "workload": args.workload,
            "first_touch_canary_s": first_touch_canary_s(),
            "stage_latency_canary_s": stage_latency_canary_s(spark, reps=5, warmup=2),
            "op_median_s": {k: round(statistics.median(v), 4) for k, v in runner.walls.items()},
            "problems": runner.problems[:20],
        }
    finally:
        spark.stop()
        stop_jvm()

    if args.trace:
        if args.workload == "query_mix":
            runner.event_log_layers(log_dir)
        values = dict(runner.layer)
        values["session.import_s"] = t1 - t0
        values["session.get_spark_s"] = t2 - t1
        values.update({f"run.{k}": v for k, v in e2e.items()})
        values["trace.bookkeeping_s"] = runner.tracer.cost
        values["trace.spans"] = len(runner.tracer.spans)
        values["run.peak_rss_mb"] = memory.stop() / 2**20
        spec = load_spec()["per_layer"]
    else:
        # the timings go to the context line: see README "Why counts"
        context["timings"] = e2e
        values = {
            "jobs_per_pass": runner.median_pass("jobs"),
            "tasks_per_pass": runner.median_pass("tasks"),
            "ok_share": 1 - runner.failed / runner.attempted,
            "setup_s": t2 - t0,
        }
        spec = load_spec()["end_to_end"]
    # a layer this workload leaves idle reports 0
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in spec
    }
    result = {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
    }
    return result, context


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    # on SIGTERM, unwind through the finally blocks: stop Spark, remove files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    names = [w["name"] for w in load_spec()["workloads"]]
    if args.workload not in names:
        p.error(f"unknown workload {args.workload!r}; one of {names}")
    if not os.path.isdir(PACKAGE):
        print(f"engine sources not found at {PACKAGE}; run from a source checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        result, context = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps({"context": context}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
