"""SparkSession construction tuned for this engine.

Local-mode defaults follow the public Spark tuning guidance: shuffle
partitions ~ cores (not 200), AQE on (runtime coalesce + skew-join),
UTC session timezone (parquet timestamps compare cleanly against
UTC-naive engines like DuckDB), Arrow enabled for the Pandas-UDF path.
"""

from __future__ import annotations

import atexit
import os
import shutil

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# scratch roots this process made for itself, removed when it exits; a
# path a caller passes in (an index, a sink) is never recorded here
_SCRATCH_ROOTS: set[str] = set()


def own_scratch_root(root: str) -> str:
    """Record ``root`` for removal at interpreter exit; returns it."""
    _SCRATCH_ROOTS.add(root)
    return root


@atexit.register
def _remove_scratch_roots() -> None:
    for root in _SCRATCH_ROOTS:
        shutil.rmtree(root, ignore_errors=True)

# glibc malloc tuning for the LONG-LIVED Python workers (they inherit the
# driver's environment through the JVM -> pyspark.daemon fork chain, so this
# must be set before the JVM is launched — i.e. at import time).  Default
# glibc serves every >128 KB allocation with a fresh mmap and munmaps it on
# free: each large Arrow/numpy batch buffer (vectorized-kernel transients run
# 10s-100s of MB) is then re-faulted from the OS on EVERY batch.  Keeping
# those allocations on the heap (high mmap threshold) and never trimming it
# back (high trim threshold) means a worker faults its peak working set once
# and reuses it for the rest of its life.  On memory-overcommitted virtual
# hosts where first-touch faults are served by the hypervisor at ~ms cost this
# is the difference between 0.07s and 17s per batch (measured A/B); on a
# healthy host it is a no-op-sized win.  Bounded: one worker retains at most
# its peak transient footprint (~hundreds of MB), same order as Arrow batches.
os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(1 << 30))
os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", str(1 << 30))


def _default_driver_mem() -> str:
    """Adaptive driver-heap default: a fifth of physical RAM, clamped to
    [8g, 24g].  In local mode the driver JVM IS the whole cluster (all
    executor threads + shuffle + broadcast + checkpoint blocks live in
    one heap), so the right size scales with the host; on a real
    multi-executor cluster spark.executor.memory governs instead and
    this default is irrelevant.  Falls back to 8g when /proc/meminfo is
    unreadable (non-Linux)."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    total_gb = int(line.split()[1]) // (1024 * 1024)
                    return f"{max(8, min(24, total_gb // 5))}g"
    except OSError:
        pass
    return "8g"


def get_spark(
    app_name: str = "parquet_merger_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """Session with the engine's standard confs; ``local[cpus]`` unless
    ``master`` names a cluster (local-cluster / spark:// / yarn / k8s).

    On a NON-local master the package source is automatically shipped to
    executors (:func:`ship_package`) — without it, every module-level
    applyInPandas/mapInPandas kernel dies with ModuleNotFoundError in
    the executor-side python worker (found by the r09 local-cluster
    sweep).  Cluster deployments should also size
    ``spark.executor.memory`` / instances via ``extra_conf`` and may
    enable executor-loss-safe lineage cuts with ONE line:
    ``spark.sparkContext.setCheckpointDir(...)`` (see
    :mod:`parquet_merger_spark.barrier`).

    Driver heap defaults to an ADAPTIVE size (see _default_driver_mem):
    in local mode every executor thread shares the driver JVM, and the
    old fixed 8g default GC-thrashed 32-thread runs on large hosts —
    measured 2-4x wall variance on the shuffle-heavy LSH keys at sf0.1
    (dedup_pipeline_lsh 12-20s at 8g vs a stable 5-6.5s at 24g).
    Override with SPARK_GRAFT_DRIVER_MEM."""
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or cpus
    resolved_master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.master(resolved_master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # the console progress bar writes to the driver's stdout, which
        # corrupts machine-read output (bench.py's one-JSON-line contract)
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem())
        # Fault the whole heap at JVM startup instead of lazily during the
        # first queries that grow it.  In local mode the driver heap IS the
        # cluster's working memory; on virtualized hosts whose first-touch
        # faults are hypervisor-served (BASELINE.md §3) lazy heap growth
        # taxes whichever queries happen to run first — measured 7s -> 2.9s
        # on the first signature-kernel call, with the cost moved into
        # session startup (untimed in bench.py; once per pytest session).
        # Standard production JVM practice; ~no-op on healthy hosts.
        #
        # GCLockerRetryAllocationCount (default 2): with 32 executor
        # threads doing compressed shuffle IO, JNI critical sections hold
        # the GCLocker almost continuously; under heap pressure a WORDS-
        # sized allocation can exhaust its 2 retries and throw a spurious
        # OutOfMemoryError while the spill that would free memory is mid-
        # flight (observed: neighbor_jaccard's hash-agg spill dying on a
        # 3-word TimSort allocation at 4 GiB, MEM_SCALING_r08 triage; the
        # JDK-8192647 pathology).  64 retries turns that into a brief
        # stall.  No effect when the heap has headroom.  The flag is
        # diagnostic on JDK 17 (product from JDK 21), hence the unlock.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:+AlwaysPreTouch -XX:+UnlockDiagnosticVMOptions"
            " -XX:GCLockerRetryAllocationCount=64",
        )
        # Spill-reader buffers are UNTRACKED heap: when a hash
        # aggregation finishes, finishAggregate opens a reader for EVERY
        # spill file at once — with read-ahead each reader allocates TWO
        # 1 MB buffers (file buffer + read-ahead buffer; the 1 MB floor
        # is the conf's minimum) plus a thread, all outside the memory
        # manager's accounting.  A spill-heavy constrained-heap task set
        # (32 tasks x ~50 spills at sf10/6g) allocated ~3 GB of invisible
        # buffers and died in ByteBuffer.allocate (MEM_SCALING_r08 triage
        # stack).  Disabling read-ahead halves the untracked set and
        # drops the threads; spill re-reads are page-cache-served
        # sequential IO, so the merge-throughput cost is noise next to
        # not OOMing exactly when memory is scarcest.
        .config("spark.unsafe.sorter.spill.read.ahead.enabled", "false")
        # Reliable checkpoints (barrier.materialize with a checkpoint dir
        # set) are PERMANENT by default: Spark never deletes rdd-* dirs,
        # so per-iteration cuts in dedup_clusters/pagerank/BPE and the
        # per-micro-batch cut in near_dedup_batch_apply grow the dir
        # without bound on long jobs.  This flag has the ContextCleaner
        # remove a checkpoint's files once its RDD is GC'd on the driver
        # — exactly the lifecycle iterative barriers want (each round's
        # cut is unreachable one round later).  No effect unless a
        # checkpoint dir is set; documented in barrier.py.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if not resolved_master.startswith("local["):
        # real executor processes: ship the package or module-level
        # Python kernels cannot unpickle on the workers (r09 finding)
        ship_package(spark)
    return spark


def pin_oracle_confs(spark: SparkSession) -> SparkSession:
    """Runtime confs required for bit-exact oracle comparison.

    Safe to call on a session we did not build (e.g. the driver's):
    only touches runtime-settable SQL confs.

    ``nanosAsLong``: Spark 4 rejects parquet TIMESTAMP(NANOS) outright
    (PARQUET_TYPE_ILLEGAL); with this conf the ns column arrives as a long
    (nanos since epoch) and readers rebuild a timestamp at whatever
    precision they need (see ``queries._events``).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark


def ship_package(spark: SparkSession) -> str:
    """Ship this package's source to every executor via ``addPyFile``.

    REQUIRED on any multi-JVM master (local-cluster, standalone, YARN,
    K8s): module-level functions passed to ``applyInPandas`` /
    ``mapInPandas`` (the GEMM tile kernels in
    :mod:`operators.simsearch`, the multimodal decoders, ...) are
    cloudpickled BY REFERENCE, so the executor-side python worker must
    be able to ``import parquet_merger_spark`` — and executor JVMs run
    in their own work directories where the repo is not importable.
    Invisible in ``local[n]`` mode only because the forked worker daemon
    inherits the driver JVM's cwd (the repo root), which is exactly the
    kind of single-JVM accident the r09 local-cluster sweep exists to
    catch (7 keys failed with ModuleNotFoundError before this helper).
    Closure-defined kernels (the minhash/simhash signatures) pickle by
    VALUE and never hit the import, which is why only the module-level
    ones failed.

    Zips the INSTALLED package (``.py`` sources only), calls
    ``sc.addPyFile`` — Spark distributes the zip with the job and
    prepends it to every worker's ``sys.path``.  Returns the zip path.
    Local-mode sessions may call it harmlessly.

    The zip is named by a CONTENT DIGEST of the sources and written to a
    fresh ``mkdtemp`` directory (mode 0700, unpredictable name), never a
    guessable shared-tmp path (r09: the zip was
    ``/tmp/..._pyfiles_<pid>.zip`` with an exists()-check — a stale file
    from a recycled pid, or a pre-planted one on a multi-user host,
    would have been shipped to every executor).  A changed source tree
    therefore always produces a NEW zip path within the same process —
    note that a session that already shipped the old digest keeps both
    on its worker ``sys.path`` (Spark has no removePyFile), so
    re-shipping into a LIVE session does not hot-swap code; restart the
    session to pick up edits, like any Spark deployment.
    """
    out = _zip_package()
    spark.sparkContext.addPyFile(out)
    return out


# digest -> zip path, per process: rebuild only when the sources change
_SHIPPED_ZIPS: dict[str, str] = {}


def _zip_package(pkg_dir: str | None = None) -> str:
    """Build (or reuse) the content-addressed source zip for
    :func:`ship_package`.  Separated for testability: a source edit must
    yield a different zip path (digest in the name)."""
    import hashlib
    import tempfile
    import zipfile

    if pkg_dir is None:
        import parquet_merger_spark

        pkg_dir = os.path.dirname(os.path.abspath(parquet_merger_spark.__file__))
    parent = os.path.dirname(pkg_dir)
    sources: list[str] = []
    for root, dirs, files in os.walk(pkg_dir):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        sources.extend(
            os.path.join(root, f) for f in sorted(files) if f.endswith(".py")
        )
    h = hashlib.sha256()
    for full in sources:
        h.update(os.path.relpath(full, parent).encode())
        h.update(b"\0")
        with open(full, "rb") as fh:
            h.update(fh.read())
        h.update(b"\0")
    digest = h.hexdigest()[:16]
    cached = _SHIPPED_ZIPS.get(digest)
    if cached and os.path.exists(cached):
        return cached
    # mkdtemp: random name, 0700, created with O_EXCL semantics — nothing
    # to pre-plant, nothing stale to pick up
    out = os.path.join(
        own_scratch_root(tempfile.mkdtemp(prefix="pm_spark_pyfiles_")),
        f"parquet_merger_spark_{digest}.zip",
    )
    with zipfile.ZipFile(out, "w") as z:
        for full in sources:
            z.write(full, os.path.relpath(full, parent))
    _SHIPPED_ZIPS[digest] = out
    return out


def warm_engine(spark, cpus: int | None = None) -> float:
    """One untimed pass through the engine's shared runtime paths so the
    FIRST heavy query of a session doesn't pay their setup: C2-JIT the
    shuffle writer/reader, TimSort, hash-aggregate, window, broadcast and
    Arrow serialization classes, fork all Python workers, and run one
    parquet write+read round-trip (the index builds write parquet first
    thing; the committer + codec paths are their own JIT island).

    Root cause this addresses (r10 verdict #2, "first-heavy-key session
    tax"): ~2-15s landed on whichever heavy key ran FIRST in a bench
    window — key-order swaps moved the tax with the ORDER, not the key,
    and a profiled first `write_gram_index` read 3.6s against a 1.1s
    warm sum of its own stages.  Interpreter/JIT + first-touch of
    executor working memory, not plan cost.  A/B with this warm-up, by a
    one-off first-key probe since deleted (bench always runs this
    warm-up now): first dedup_ngram_jaccard 6.4s -> 4.8s in the same
    host phase; the remaining gap to the ~3s warm floor is the key's own
    first-iteration cache build.  Costs ~4-6s once per
    session, OUTSIDE any timed window — per-session setup, not
    steady-state operator cost, same rationale as the existing
    Python-worker prefork.  Returns its own wall seconds."""
    import time as _time

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    t0 = _time.perf_counter()
    n = cpus or spark.sparkContext.defaultParallelism
    df = spark.range(0, 4_000_000, 1, n).selectExpr(
        "id", "id % 1000 as k", "cast(id as string) as s"
    )
    agg = df.groupBy("k").count()
    j = df.join(agg, "k")
    w = Window.partitionBy("k").orderBy(F.desc("id"))
    out = j.withColumn("rn", F.row_number().over(w)).filter("rn <= 10")
    out.write.format("noop").mode("overwrite").save()
    # unbounded (whole-partition) window frame: a DIFFERENT executor
    # path from the running frame above (partition buffering + spill
    # classes — the _df_capped shape); first execution measured ~1s of
    # one-time cost on the first gram-index build without this
    wu = Window.partitionBy("k")
    df.withColumn("c", F.count(F.lit(1)).over(wu)).filter(
        "c < 0"
    ).write.format("noop").mode("overwrite").save()
    # Arrow/pandas boundary at real batch volume on every worker
    spark.range(0, 2_000_000, 1, n).selectExpr(
        "id", "cast(id as double) as x"
    ).mapInPandas(lambda it: it, "id long, x double").write.format(
        "noop"
    ).mode("overwrite").save()
    # parquet write+read: committer, page writers, codec, vectorized
    # reader — first exercised by the index prebuilds otherwise
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="pm_warm_")
    try:
        # write THROUGH a shuffle (the index-build shape: exchange ->
        # compressed parquet of shuffle output), then read it back
        spark.range(0, 1_000_000, 1, n).selectExpr(
            "id", "id % 64 as k", "cast(id as string) as s"
        ).repartition(n, "k").write.mode("overwrite").parquet(f"{tmp}/warm")
        spark.read.parquet(f"{tmp}/warm").count()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return round(_time.perf_counter() - t0, 3)


def first_touch_canary_s(mb: int = 256) -> float:
    """Wall seconds to first-touch one page in every 4 KiB of a fresh
    ``mb``-MiB allocation — the host-health probe from BASELINE.md §3:
    this VM's hypervisor intermittently serves first-touch page faults
    at ~400us each (~11 MB/s), inflating any wall-clock number taken in
    such a window by up to ~50%.  Healthy: < 0.1s for 256 MiB.  > 1s
    means bench numbers from this session are host-noise-dominated and
    should not be compared round-over-round.  Recorded as
    ``host_canary_s`` in BENCH_local / SCALING artifacts so they
    self-qualify."""
    import mmap
    import time

    # anonymous mmap, NOT malloc/np.empty: with MALLOC_TRIM_THRESHOLD_
    # pinned to 1 GiB (above) a heap allocation is never returned to the
    # OS, so the SECOND canary in a process would re-touch already-
    # faulted pages and read ~0s regardless of host state — making the
    # "after" reading (and canary_ok) structurally blind to pathology
    # arising mid-sweep.  munmap on close returns the pages, so every
    # call faults fresh ones.
    n = mb << 20
    t0 = time.perf_counter()
    buf = mmap.mmap(-1, n)
    try:
        mv = memoryview(buf)
        mv[::4096] = b"\x01" * (n // 4096)
        mv.release()
    finally:
        buf.close()
    return round(time.perf_counter() - t0, 3)


def stage_latency_canary_s(spark, reps: int = 12, warmup: int = 3) -> float:
    """Median wall seconds of a no-op one-task-per-core Spark stage — the
    SECOND host-health probe class (r07 verdict ask #7).

    The first-touch canary only sees page-fault service latency, and its
    1.0s fault-dominated threshold misses the milder ~1.2x drift phase:
    BENCH_r07's driver window (197.0s) and the committed same-code window
    (174.3s) were BOTH ``canary_ok`` yet differ 13%.  A fixed-size
    JVM-only stage (range -> sum: whole-stage codegen, no shuffle, no
    python workers) measures scheduler + executor dispatch latency, which
    that phase inflates uniformly.  Healthy on this box: ~0.07-0.10s
    median after warmup; ``bench.py`` flags a window non-comparison-grade
    above 0.15s (``canary_strict_ok`` — decision rule in SURVEY §10).
    Median over ``reps`` so a single GC pause cannot flag; ``warmup``
    rounds are discarded (the first stage after idle pays JIT/page-in)."""
    import statistics
    import time

    # one task per core: a fixed 32-task stage would measure multiple
    # scheduling WAVES on smaller sessions (0.13s median on local[8] vs
    # 0.07s on local[32] — same host, same health)
    n = spark.sparkContext.defaultParallelism
    samples = []
    for i in range(warmup + reps):
        t0 = time.perf_counter()
        spark.range(0, 1 << 20, 1, n).selectExpr("sum(id)").collect()
        if i >= warmup:
            samples.append(time.perf_counter() - t0)
    return round(statistics.median(samples), 4)
