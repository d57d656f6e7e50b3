"""The benchmark's workloads and the metrics they report.

Each workload is a closed loop with one client: the next operation starts
when the previous one has returned.  An operation ("op") is one merge
batch, one scan-and-plan of the merge tree, or one query key built and
collected to the driver.  A run makes whole passes over its ops until
``seconds`` have elapsed, at least one, starting from a fresh session
that is not warmed: the JVM's warm-up is part of what a run measures, as
it is for a one-shot CLI session.  An op's figure is the median of its
calls.  Every call's output is checked, outside its timed span.

See README.md for why each workload was chosen and which metric each
layer should move.
"""

from __future__ import annotations

import math
import os
import statistics
import time

import proctree
from checks import check_batch, check_query
from datagen import write_merge_tree, write_tables
from tracing import Tracer, event_log_task_metrics, job_ids, job_tasks

# The query_mix keys, with the family (layer) each belongs to.
QUERY_KEYS = {
    "pricing_summary": "queries.relational",
    "revenue_pareto_share": "queries.quantile",
    "window_agg_events": "events",
    "sessionize": "events",
    "pagerank": "operators.graph",
    "text_quality": "operators.textstats",
    "dedup_minhash_lsh": "operators.dedup",
    "decontaminate_indexed": "operators.dedup",
    "simsearch_pq_indexed": "operators.simsearch",
}
# Keys whose first call writes a persisted index; later calls probe it.
INDEX_KEYS = ("decontaminate_indexed", "simsearch_pq_indexed")
# Keys named in ROADMAP that get their own wall and job count.
KEY_METRICS = ("revenue_pareto_share", "pagerank", "dedup_minhash_lsh",
               "decontaminate_indexed", "simsearch_pq_indexed")
# The seed draws the relational and event tables.  The documents and
# embeddings tables come from a fixed seed, so the hashes recorded for the
# keys without a SQL oracle (all of which read only those two) hold for
# every seed.
TEXT_SEED = 42
TABLE_SF = 0.01


def _median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def _geomean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(map(math.log, xs)) / len(xs)) if xs else 0.0


def _p90(xs):
    xs = sorted(xs)
    return xs[math.ceil(0.9 * len(xs)) - 1] if xs else 0.0


class Runner:
    """One run of one workload in this process."""

    def __init__(self, spark, seed: int, seconds: float, trace: bool, work: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.tracer = Tracer(sc=self.sc, enabled=trace)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.layer: dict[str, float] = {}
        self.walls: dict[str, list[float]] = {}  # wall of each good call, per op
        self.cpus: dict[str, list[float]] = {}  # process-tree CPU seconds, likewise
        self.n_passes = 0
        # Spark jobs and tasks the application ran, per pass
        self.pass_counts: dict[str, list[int]] = {}
        # query keys: (build_s, exec_s) of every call, and the traced op spans
        self.phases: dict[str, list[tuple[float, float]]] = {}
        self.key_spans: dict[str, list] = {}

    def fail(self, what: str) -> None:
        self.failed += 1
        self.problems.append(what[:300])

    def run_ops(self, ops) -> None:
        """Make whole passes over ``ops`` (label, fn, check) until
        ``seconds`` have elapsed, at least one.  ``fn()`` runs timed;
        ``check(result)`` returns a problem or None.  A raise or a problem
        counts as a failed op.  A pass's Spark jobs are every job the
        application started during it, from any thread: the run has one
        client, and the checks start none."""
        t_start = time.perf_counter()
        pass_jobs = []
        while self.n_passes == 0 or time.perf_counter() - t_start < self.seconds:
            self.n_passes += 1
            jobs0 = job_ids(self.sc)
            for label, fn, check in ops:
                self.attempted += 1
                cpu0 = proctree.cpu_s()
                t0 = time.perf_counter()
                try:
                    with self.tracer.span(label):
                        res = fn()
                except Exception as exc:  # a failing op is counted; the run goes on
                    self.fail(f"{label}: {type(exc).__name__}: {exc}")
                    continue
                wall = time.perf_counter() - t0
                cpu = proctree.cpu_s() - cpu0
                problem = check(res)
                if problem:
                    self.fail(f"{label}: {problem}")
                else:
                    self.walls.setdefault(label, []).append(wall)
                    self.cpus.setdefault(label, []).append(cpu)
            pass_jobs.append(job_ids(self.sc) - jobs0)
        self.pass_counts = {
            "jobs": [len(ids) for ids in pass_jobs],
            "tasks": [job_tasks(self.sc, ids) for ids in pass_jobs],
        }

    def median_pass(self, count: str) -> float:
        """Median over the run's passes of a per-pass Spark count."""
        return _median(self.pass_counts.get(count, ()))

    def summary(self, rows: int) -> dict:
        medians = [_median(w) for w in self.walls.values()]
        pass_wall = sum(medians)
        return {
            "pass_wall_s": pass_wall,
            "op_geomean_s": _geomean(medians),
            "rows_per_s": rows / pass_wall if pass_wall else 0.0,
            "cpu_s": sum(_median(c) for c in self.cpus.values()),
        }

    # -- merge_smallfiles ---------------------------------------------
    def merge_smallfiles(self) -> dict:
        from parquet_merger_spark.operators import export as export_mod
        from parquet_merger_spark.operators import merge as merge_mod
        from parquet_merger_spark.operators.merge import merge_batches
        from parquet_merger_spark.plans import planner as planner_mod
        from parquet_merger_spark.plans.planner import smart_batch
        from parquet_merger_spark.sources import catalog as catalog_mod
        from parquet_merger_spark.sources.catalog import scan_folders

        tree = os.path.join(self.work, "tree")
        out = os.path.join(self.work, "out")
        manifest = write_merge_tree(tree, self.seed)
        specs = manifest["batches"]

        t = self.tracer
        probed: set[str] = set()

        def on_probe(args):
            t.count("footers_probed", len(args[1]))
            probed.update(args[1])

        t.wrap(merge_mod, "probe_schemas", "catalog.probe_schemas", on_probe)
        t.wrap(planner_mod, "probe_schemas", "catalog.probe_schemas", on_probe)
        t.wrap(catalog_mod, "probe_schema", "catalog.probe_schema",
               lambda args: t.count("spark_probe_fallbacks"))
        t.wrap(merge_mod, "merged_df_ordered", "merge.build")
        t.wrap(merge_mod, "write_parquet", "merge.write_parquet")
        t.wrap(export_mod, "export_csv", "export.export_csv")

        planned: dict = {}

        def scan_and_plan():
            with t.span("catalog.scan_folders"):
                entries = scan_folders([tree])
            with t.span("planner.smart_batch"):
                plans, singles = smart_batch(self.spark, entries)
            planned.update(entries=entries, plans=plans, singles=singles)
            return plans, singles

        def merge(plan):
            return merge_batches(self.spark, [plan], out, single_file=True,
                                 csv=True, compression="snappy")[0]

        def merge_one(name):
            return merge(next(p for p in planned["plans"] if p.name == name))

        ops = [("merge.scan_plan", scan_and_plan,
                lambda res: self._check_plan(*res, specs, manifest["singletons"]))]
        ops += [
            (f"merge.batch:{name}", lambda name=name: merge_one(name),
             lambda res, name=name: check_batch(res, specs[name]))
            for name in sorted(specs) if not specs[name]["fails"]
        ]
        try:
            self.run_ops(ops)
        finally:
            t.unwrap()
        # Batches of nanosecond-timestamp files fail with "Cannot read
        # schema" (a known engine gap): merged once here, and a failure is
        # reported per layer, not as an op.  Once the gap is closed their
        # output is checked like any other batch's.
        gap_failures = 0
        for plan in planned.get("plans", ()):
            if not specs[plan.name]["fails"]:
                continue
            res = merge(plan)
            if not res.ok:
                gap_failures += 1
                continue
            problem = check_batch(res, specs[plan.name])
            if problem:
                self.fail(f"merge.batch:{plan.name}: {problem}")
        self.layer["merge.known_gap_failures"] = gap_failures
        if t.enabled:
            self._merge_layers(out, specs, planned, probed)
        rows = sum(sum(s["rows"]) for s in specs.values() if not s["fails"])
        return self.summary(rows)

    @staticmethod
    def _check_plan(plans, singles, specs, n_singletons) -> str | None:
        got = {p.name: p for p in plans}
        if set(got) != set(specs):
            return f"smart_batch planned {sorted(got)}, expected {sorted(specs)}"
        if singles != n_singletons:
            return f"smart_batch counted {singles} singletons, expected {n_singletons}"
        for name, spec in specs.items():
            if got[name].paths != spec["files"]:
                return f"smart_batch planned batch {name} with the wrong files"
            # a known-gap batch's flag follows its unreadable footers, not
            # its schemas, so it is not checked
            if not spec["fails"] and got[name].schema_mismatch != spec["mismatch"]:
                return f"smart_batch flagged batch {name} wrongly"
        return None

    def _merge_layers(self, out, specs, planned, probed) -> None:
        t = self.tracer
        by: dict[str, list] = {}
        for sp in t.spans:
            by.setdefault(sp.name.split(":")[0], []).append(sp)

        def walls(name):
            return [sp.wall for sp in by.get(name, [])]

        def self_times(name):
            return [t.self_time(sp) for sp in by.get(name, [])]

        batch_jobs: dict[int, int] = {}
        for name in ("merge.build", "merge.write_parquet"):
            for sp in by.get(name, []):
                batch_jobs[sp.parent] = batch_jobs.get(sp.parent, 0) + sp.jobs
        footers = t.counts.get("footers_probed", 0) / self.n_passes
        ok = [n for n, s in specs.items() if not s["fails"]]
        size_in = sum(os.path.getsize(f) for n in ok for f in specs[n]["files"])
        size_out = sum(
            os.path.getsize(os.path.join(out, "merged", n + ".parquet")) for n in ok
        )
        batch_walls = walls("merge.batch")
        self.layer.update({
            "catalog.scan_folders_s": _median(walls("catalog.scan_folders")),
            "catalog.files_found": len(planned["entries"]),
            # per pass: one smart_batch probe plus one probe per batch
            "catalog.probe_schemas_s": sum(walls("catalog.probe_schemas")) / self.n_passes,
            "catalog.footers_probed": footers,
            "catalog.probes_per_file": footers / max(1, len(probed)),
            "catalog.spark_probe_fallbacks":
                t.counts.get("spark_probe_fallbacks", 0) / self.n_passes,
            "planner.smart_batch_s": _median(self_times("planner.smart_batch")),
            "planner.batches": len(planned["plans"]),
            "planner.singletons": planned["singles"],
            "planner.mismatch_batches": sum(p.schema_mismatch for p in planned["plans"]),
            "merge.batch_p50_s": _median(batch_walls),
            "merge.batch_p90_s": _p90(batch_walls),
            "merge.build_s": _median(self_times("merge.build")),
            "merge.write_parquet_s": _median(walls("merge.write_parquet")),
            "merge.jobs_per_batch": _median(batch_jobs.values()),
            "merge.tasks_per_batch":
                _median(job_tasks(self.sc, sp.job_ids) for sp in by.get("merge.batch", [])),
            "merge.bytes_out_per_byte_in": size_out / size_in,
            "export.export_csv_s": _median(walls("export.export_csv")),
            "export.jobs_per_batch": _median(sp.jobs for sp in by.get("export.export_csv", [])),
        })

    # -- query_mix -----------------------------------------------------
    def query_mix(self) -> dict:
        import duckdb

        from parquet_merger_spark.oracle import canon_hash, register_views
        from parquet_merger_spark.queries import ORACLE_SQL, QUERIES

        data = os.path.join(self.work, "data")
        rows = write_tables(data, TABLE_SF, self.seed, TEXT_SEED)
        recorded = _recorded_hashes()
        con = duckdb.connect()
        register_views(con, data)
        expected: dict[str, str | None] = {}

        def run_key(k):
            self.spark.catalog.clearCache()
            t0 = time.perf_counter()
            with self.tracer.span("build"):
                df = QUERIES[k](self.spark, data)
            t1 = time.perf_counter()
            with self.tracer.span("exec"):
                got = df.toPandas()
            self.phases.setdefault(k, []).append((t1 - t0, time.perf_counter() - t1))
            return got

        def check_key(k, got):
            if k not in expected:
                expected[k] = (canon_hash(con.execute(ORACLE_SQL[k]).df())
                               if k in ORACLE_SQL else recorded.get(k))
            source = "DuckDB oracle" if k in ORACLE_SQL else "recorded hash"
            return check_query(got, expected[k], source)

        try:
            self.run_ops([
                (f"key:{k}", lambda k=k: run_key(k), lambda got, k=k: check_key(k, got))
                for k in QUERY_KEYS
            ])
        finally:
            con.close()
        if self.tracer.enabled:
            self._query_layers()
        return self.summary(sum(rows.values()))

    def _query_layers(self) -> None:
        keys = QUERY_KEYS
        spans = self.key_spans
        for sp in self.tracer.spans:
            if sp.parent is None:
                spans.setdefault(sp.name.split(":", 1)[1], []).append(sp)
        for fam in set(keys.values()):
            ks = [k for k in keys if keys[k] == fam and k in spans]
            for i, stat in enumerate(("build_s", "exec_s")):
                self.layer[f"{fam}.{stat}"] = sum(
                    _median(p[i] for p in self.phases[k]) for k in ks
                )
            self.layer[f"{fam}.jobs"] = sum(_median(sp.jobs for sp in spans[k]) for k in ks)
            self.layer[f"{fam}.tasks"] = sum(
                _median(job_tasks(self.sc, sp.job_ids) for sp in spans[k]) for k in ks
            )
        for k in INDEX_KEYS:
            if k in self.phases:  # build phase of the first call
                name = f"{keys[k]}.index_build_s"
                self.layer[name] = self.layer.get(name, 0.0) + self.phases[k][0][0]
        for k in KEY_METRICS:
            if k in spans:
                self.layer[f"key.{k}.wall_s"] = _median(sp.wall for sp in spans[k])
                self.layer[f"key.{k}.jobs"] = _median(sp.jobs for sp in spans[k])

    def event_log_layers(self, log_dir: str) -> None:
        """Task CPU, GC, shuffle and spill per family (sums of per-key
        medians), from the event log; call after the session has stopped."""
        per_job, n_tasks = event_log_task_metrics(log_dir)
        if n_tasks == 0:
            self.problems.append(f"no task metrics in the event log under {log_dir}")

        def op_stat(sp, stat):
            return sum(per_job.get(j, {}).get(stat, 0.0) for j in sp.job_ids)

        for fam in set(QUERY_KEYS.values()):
            for stat in ("task_cpu_s", "gc_s", "shuffle_bytes", "spill_bytes"):
                self.layer[f"{fam}.{stat}"] = sum(
                    _median(op_stat(sp, stat) for sp in sps)
                    for k, sps in self.key_spans.items()
                    if QUERY_KEYS[k] == fam
                )


def _recorded_hashes() -> dict[str, str]:
    import json

    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected_hashes.json")
    with open(path) as fh:
        return json.load(fh)
