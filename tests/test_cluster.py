"""Multi-JVM execution pins (r09): real executor processes via Spark's
``local-cluster`` master.

Everything before r09 ran ``local[n]`` — one JVM — which HID a genuine
cluster bug: module-level kernels passed to applyInPandas/mapInPandas
(the GEMM tiles, the multimodal decoders) are cloudpickled BY REFERENCE,
and executor python workers could not ``import parquet_merger_spark``
(ModuleNotFoundError on 7 contract keys in the r09 local-cluster sweep).
``session.ship_package`` is the fix; these tests pin it.

local-cluster needs its own SparkContext (one per process), so the
cluster session runs in a SUBPROCESS, not the shared pytest session.
"""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_ship_package_zip_contents(spark):
    """The shipped zip must contain the package's .py files under the
    package name (importable from a sys.path zip root), no pycache."""
    from parquet_merger_spark.session import ship_package

    path = ship_package(spark)  # harmless no-op semantics in local mode
    with zipfile.ZipFile(path) as z:
        names = z.namelist()
    assert "parquet_merger_spark/__init__.py" in names
    assert "parquet_merger_spark/operators/simsearch.py" in names
    assert not [n for n in names if "__pycache__" in n or not n.endswith(".py")]


def test_zip_package_content_addressed(tmp_path):
    """r10 (verdict #5 + advisor): the shipped zip is named by a content
    digest in a private mkdtemp dir — a source edit must produce a NEW
    zip path (no stale-by-pid cache), an unchanged tree must reuse the
    built zip, and nothing lives at a guessable shared-tmp path."""
    import tempfile
    import zipfile as zf

    from parquet_merger_spark.session import _zip_package

    pkg = tmp_path / "fakepkg"
    (pkg / "sub").mkdir(parents=True)
    (pkg / "__init__.py").write_text("X = 1\n")
    (pkg / "sub" / "__init__.py").write_text("")
    (pkg / "sub" / "mod.py").write_text("def f():\n    return 1\n")

    p1 = _zip_package(str(pkg))
    assert _zip_package(str(pkg)) == p1  # unchanged tree: cache hit
    # not at a predictable path: parent dir is mkdtemp-random, not
    # tempfile.gettempdir() itself, and the name carries the digest
    assert os.path.dirname(p1) != tempfile.gettempdir()

    (pkg / "sub" / "mod.py").write_text("def f():\n    return 2\n")
    p2 = _zip_package(str(pkg))
    assert p2 != p1, "source edit must change the zip path"
    with zf.ZipFile(p2) as z:
        assert b"return 2" in z.read("fakepkg/sub/mod.py")
    with zf.ZipFile(p1) as z:
        assert b"return 1" in z.read("fakepkg/sub/mod.py")


_SCRATCH_AT_EXIT = r"""
import os, sys, tempfile
sys.path.insert(0, {root!r})
from parquet_merger_spark.session import get_spark, ship_package
from parquet_merger_spark.queries import QUERIES, _t
from parquet_merger_spark.operators.dedup import write_gram_index

spark = get_spark("pm-scratch-exit", cpus=2, shuffle_partitions=2)
spark.sparkContext.setLogLevel("ERROR")
for key in ("decontaminate_indexed", "stream_dedup"):
    assert QUERIES[key](spark, {sf!r}).count() > 0
ship_package(spark)
write_gram_index(
    _t(spark, {sf!r}, "documents"), os.path.join(tempfile.gettempdir(), "caller_index")
)
print("\n".join(sorted(os.listdir(tempfile.gettempdir()))))
"""


def test_scratch_roots_removed_at_exit(tmp_path):
    """A process removes the scratch roots it made when it exits: the
    queries' per-application dir (an index key and a stream key both
    write there) and the shipped-source zip's dir.  An index path the
    caller passed in stays."""
    from conftest import SF_SMOKE

    out = subprocess.run(
        [sys.executable, "-c", _SCRATCH_AT_EXIT.format(root=ROOT, sf=SF_SMOKE)],
        env={**os.environ, "TMPDIR": str(tmp_path)},
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    during = out.stdout.split()
    assert any(n.startswith("pm_spark_local-") for n in during), during
    assert any(n.startswith("pm_spark_pyfiles_") for n in during), during
    left = sorted(os.listdir(tmp_path))
    assert not [n for n in left if n.startswith("pm_spark_")], left
    assert os.path.exists(tmp_path / "caller_index" / "meta.json")


def test_module_level_kernel_on_real_executors():
    """A module-referenced applyInPandas kernel (the exact shape that
    failed pre-fix) must run on real executor JVMs once ship_package has
    shipped the source.  Uses a minimal local-cluster (2 JVMs x 2 cores)
    in a subprocess; asserts the GEMM pair kernel returns the right
    pairs AND that >=2 executor block managers registered."""
    code = f"""
import sys, time
sys.path.insert(0, {ROOT!r})
import os
os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
from pyspark.sql import SparkSession
spark = (
    SparkSession.builder.master("local-cluster[2,2,1536]")
    .appName("pm-cluster-pin")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.ui.showConsoleProgress", "false")
    .config("spark.driver.memory", "2g")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
deadline = time.time() + 120
while spark.sparkContext._jsc.sc().getExecutorMemoryStatus().size() < 3:
    assert time.time() < deadline, "executors never registered"
    time.sleep(2)
from parquet_merger_spark.session import ship_package
ship_package(spark)
from parquet_merger_spark.operators.simsearch import cosine_near_dup_pairs
rows = [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0])]
df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
got = sorted(
    (r.id_a, r.id_b)
    for r in cosine_near_dup_pairs(df, threshold=0.9).collect()
)
assert got == [(1, 2)], got

# barrier.materialize reliable path: with a checkpoint dir set, the
# iterative operators' lineage cuts go through FS checkpoints that
# survive executor loss — prove the switch engages multi-JVM and the
# result is unchanged
import tempfile, glob, os
from parquet_merger_spark.barrier import materialize, reliable_checkpoints_enabled
assert not reliable_checkpoints_enabled(spark)
ckpt = tempfile.mkdtemp(prefix="pm_ckpt_")
spark.sparkContext.setCheckpointDir(ckpt)
assert reliable_checkpoints_enabled(spark)
from parquet_merger_spark.operators.dedup import dup_clusters
edges = spark.createDataFrame(
    [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
)
clusters = set((r.doc_id, r.cluster_id) for r in dup_clusters(edges).collect())
assert clusters == set([(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)]), clusters
assert glob.glob(os.path.join(ckpt, "*", "rdd-*")), "no FS checkpoint written"
print("CLUSTER-PIN-OK")
"""
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "CLUSTER-PIN-OK" in out.stdout


def test_reliable_checkpoint_recovers_from_executor_kill():
    """r10 (verdict #1): the PAYOFF of reliable checkpoints, exercised.
    On a 2-executor local-cluster with a checkpoint dir set, SIGKILL one
    executor JVM mid-iteration (after >=4 reliable checkpoints exist: the
    edge and adjacency barriers, round 1's labels and round 2's, whose
    write is under way) in the middle of dup_clusters on a 30-node chain
    (5 min-label rounds, each round a lineage cut) — the job must
    COMPLETE with the exact component labeling.  Without the checkpoint
    dir the same kill is fatal (localCheckpoint blocks die with their
    executor — the control arm lives in tools/fault_recovery.py's
    artifact, not here, to keep suite wall bounded).  Sizing note: a 2g driver OOM'd PLANNING ~30
    reliable-checkpoint rounds post-kill (heap, not disk) — 4g is the
    floor for this shape; production drivers are bigger."""
    code = f"""
import sys, os, time, glob, signal, threading, tempfile
sys.path.insert(0, {ROOT!r})
sys.path.insert(0, os.path.join({ROOT!r}, "tools"))
os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
from pyspark.sql import SparkSession
spark = (
    SparkSession.builder.master("local-cluster[2,2,1536]")
    .appName("pm-fault-pin")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.ui.showConsoleProgress", "false")
    .config("spark.driver.memory", "4g")
    .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
deadline = time.time() + 120
while spark.sparkContext._jsc.sc().getExecutorMemoryStatus().size() < 3:
    assert time.time() < deadline, "executors never registered"
    time.sleep(1)
from parquet_merger_spark.session import ship_package
ship_package(spark)
from fault_recovery import _executor_pids
ckpt = tempfile.mkdtemp(prefix="pm_fault_pin_")
spark.sparkContext.setCheckpointDir(ckpt)
app_id = spark.sparkContext.applicationId
killed = dict()
def watcher():
    while True:
        if len(glob.glob(os.path.join(ckpt, "*", "rdd-*"))) >= 4:
            pids = _executor_pids(app_id)
            if pids:
                eid, pid = sorted(pids.items())[-1]
                os.kill(pid, signal.SIGKILL)
                killed["exec_id"] = eid
                return
        time.sleep(0.1)
threading.Thread(target=watcher, daemon=True).start()
from parquet_merger_spark.operators.dedup import dup_clusters
N = 30
pairs = spark.createDataFrame(
    [(i, i + 1) for i in range(N - 1)], "id_a long, id_b long"
)
got = set((r.doc_id, r.cluster_id) for r in dup_clusters(pairs).collect())
assert got == set((i, 0) for i in range(N)), sorted(got)[:5]
assert killed, "executor was never killed — nothing was proven"
assert len(glob.glob(os.path.join(ckpt, "*", "rdd-*"))) >= 2
print("FAULT-PIN-OK exec_id=" + killed["exec_id"])
"""
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        timeout=540,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "FAULT-PIN-OK" in out.stdout


def test_get_spark_cluster_master_autoships():
    """get_spark(master=<non-local>) must ship the package automatically
    — a user building a cluster session through the library entry point
    should never see the ModuleNotFoundError class of failure."""
    code = f"""
import sys, time
sys.path.insert(0, {ROOT!r})
import os
os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
from parquet_merger_spark.session import get_spark
spark = get_spark("pm-autoship-pin", cpus=4, master="local-cluster[2,2,1536]")
spark.sparkContext.setLogLevel("ERROR")
deadline = time.time() + 120
while spark.sparkContext._jsc.sc().getExecutorMemoryStatus().size() < 3:
    assert time.time() < deadline, "executors never registered"
    time.sleep(2)
from parquet_merger_spark.operators.simsearch import cosine_near_dup_pairs
rows = [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0])]
df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
got = sorted(
    (r.id_a, r.id_b)
    for r in cosine_near_dup_pairs(df, threshold=0.9).collect()
)
assert got == [(1, 2)], got
print("AUTOSHIP-OK")
"""
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "AUTOSHIP-OK" in out.stdout
