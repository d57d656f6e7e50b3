"""One key runner for bench.py and the measurement tools.

The four decisions every timing or sweep tool shares, made once:

* ``timed`` — the timed region of one key (bench.py's contract);
* ``warm`` — the untimed JVM/IO and Python-worker warm-up before it;
* ``cluster_session`` — a multi-JVM ``local-cluster`` session, executors
  registered before the first job;
* ``write_round`` — the round's artifact, written without losing the
  standing one.

Importing this module also puts the repo root on ``sys.path``, so a tool
can import the package right after it.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from artifact import write_artifact  # noqa: E402


def timed(spark, build, sf_dir: str) -> tuple[float, float]:
    """Run ``build(spark, sf_dir)`` into the ``noop`` sink; returns
    ``(wall_s, build_s)``, the second being when the builder returned.

    ``clearCache`` runs OUTSIDE the window: earlier keys' persisted
    frames would otherwise pile up in the CacheManager and every later
    plan analysis walks them (measured +85% on pagerank after 40 prior
    keys).  Build and action are timed TOGETHER: builders that
    materialize inside (iterative operators, index builds) would
    otherwise run their real work outside the window.  The ``noop``
    sink runs every stage but skips driver-side result collection."""
    spark.catalog.clearCache()
    t0 = time.perf_counter()
    df = build(spark, sf_dir)
    build_s = time.perf_counter() - t0
    df.write.format("noop").mode("overwrite").save()
    return round(time.perf_counter() - t0, 3), round(build_s, 3)


def warm(spark, sf_dir: str) -> None:
    """Fault in the JVM/IO path on the smallest table in ``sf_dir`` (a
    generated scale dir holds only the tables its keys read), then fork
    one Python worker per default-parallelism slot, so the first
    pandas-UDF key does not pay interpreter spin-up."""
    smallest = min(glob.glob(os.path.join(sf_dir, "*.parquet")), key=os.path.getsize)
    spark.read.parquet(smallest).count()
    n = spark.sparkContext.defaultParallelism
    spark.range(0, n, 1, n).mapInPandas(lambda it: it, "id long").count()


def cluster_session(master: str):
    """``get_spark`` on a ``local-cluster[n,cores,mem_mb]`` master, sized
    from the spec, returned once every executor JVM has registered.

    The spec's third number sizes the WORKER's allotment, not the
    executor JVM (whose heap is Spark's 1g default otherwise), so it is
    passed on as ``spark.executor.memory``.  The driver runs no tasks
    here: a 6g heap without the local-mode pre-touch.  Executors get the
    GCLocker retry option that ``get_spark`` gives the local-mode
    driver."""
    from parquet_merger_spark.session import get_spark

    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    os.environ.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)
    n_exec, cores, mem_mb = (
        int(g) for g in re.match(r"local-cluster\[(\d+),(\d+),(\d+)\]", master).groups()
    )
    spark = get_spark(
        "pm-cluster",
        cpus=n_exec * cores,
        master=master,
        extra_conf={
            "spark.executor.memory": f"{mem_mb}m",
            "spark.driver.memory": "6g",
            "spark.driver.extraJavaOptions": "",
            "spark.executor.extraJavaOptions": (
                "-XX:+UnlockDiagnosticVMOptions -XX:GCLockerRetryAllocationCount=64"
            ),
        },
    )
    # the block-manager count includes the driver's; a sweep that ran
    # driver-only would prove nothing about multi-JVM execution
    deadline = time.time() + 180
    while spark.sparkContext._jsc.sc().getExecutorMemoryStatus().size() < n_exec + 1:
        if time.time() > deadline:
            raise RuntimeError(f"{master}: executors never registered")
        time.sleep(1)
    return spark


def write_round(prefix: str, obj: dict, *, subset: bool = False, **dump_kwargs) -> str:
    """Write ``obj`` to ``<prefix>_r<NN>.json`` at the repo root, NN from
    ``oracle.next_round``; a displaced standing file is kept under a
    numbered ``_prev`` slot.  Returns the path.

    ``subset=True`` marks rows for named keys only (a triage run): they
    merge into the round's standing artifact, and with none standing
    nothing is written, so a subset never passes for the full sweep."""
    from parquet_merger_spark.oracle import next_round

    path = os.path.join(ROOT, f"{prefix}_r{next_round(ROOT):02d}.json")
    if subset:
        if not os.path.exists(path):
            return "(key subset, not written)"
        with open(path) as fh:
            obj = {**json.load(fh), **obj}
    moved = write_artifact(path, obj, **dump_kwargs)
    if moved:
        print(f"# previous artifact preserved at {moved}")
    return path
