#!/usr/bin/env python3
"""Profile ONE contract key: run it with bench.py's methodology under
Spark event logging, then break the wall down into driver-side plan/build
time vs per-job execution, and per-stage task metrics (duration, task
count, shuffle read/write bytes, python eval presence).

Usage:  python tools/profile_key.py key [key ...]

The empirical loop from the optimization guide §1: find out WHERE the
time goes (scheduling, shuffle, python boundary, barrier count) before
touching anything.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

from keyrun import timed, warm

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    keys = sys.argv[1:]
    if not keys:
        sys.exit("usage: profile_key.py key [key ...]")

    from parquet_merger_spark.queries import QUERIES
    from parquet_merger_spark.session import get_spark

    unknown = [k for k in keys if k not in QUERIES]
    if unknown:
        sys.exit(f"unknown keys: {unknown}")

    evdir = tempfile.mkdtemp(prefix="pm_eventlog_")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(
        "pm-profile",
        cpus=cpus,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{evdir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    warm(spark, SF_DIR)

    sc = spark.sparkContext
    for name in keys:
        sc.setJobDescription(f"profile:{name}")
        wall, t_build = timed(spark, QUERIES[name], SF_DIR)
        sc.setJobDescription(None)
        print(f"\n=== {name}: wall={wall:.3f}s (builder returned at {t_build:.3f}s)")
        _report(evdir, sc.applicationId, t0_wall=wall)
        # mark a cut so the next key's report skips earlier events
        _CUT[0] = _count_lines(evdir, sc.applicationId)

    spark.stop()


_CUT = [0]


def _count_lines(evdir: str, app_id: str) -> int:
    path = _log_path(evdir, app_id)
    with open(path) as fh:
        return sum(1 for _ in fh)


def _log_path(evdir: str, app_id: str) -> str:
    # Spark 4 rolling layout: eventlog_v2_<appId>/events_N_<appId>[...]
    for f in os.listdir(evdir):
        full = os.path.join(evdir, f)
        if f.startswith(app_id):
            return full
        if f == f"eventlog_v2_{app_id}" and os.path.isdir(full):
            evs = sorted(p for p in os.listdir(full) if p.startswith("events_"))
            if evs:
                return os.path.join(full, evs[-1])
    raise FileNotFoundError(f"no event log for {app_id} in {evdir}")


def _report(evdir: str, app_id: str, t0_wall: float) -> None:
    path = _log_path(evdir, app_id)
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    with open(path) as fh:
        for i, line in enumerate(fh):
            if i < _CUT[0]:
                continue
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {
                    "t0": ev["Submission Time"],
                    "stages": [s["Stage ID"] for s in ev["Stage Infos"]],
                    "desc": (ev.get("Properties") or {}).get(
                        "spark.job.description", ""
                    ),
                }
            elif e == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["t1"] = ev["Completion Time"]
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                sid = si["Stage ID"]
                if "Completion Time" not in si:
                    continue
                st = stages.setdefault(sid, {})
                st["name"] = si["Stage Name"].split("\n")[0][:70]
                st["n_tasks"] = si["Number of Tasks"]
                st["ms"] = si["Completion Time"] - si.get(
                    "Submission Time", si["Completion Time"]
                )
            elif e == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                st = stages.setdefault(sid, {})
                m = ev.get("Task Metrics") or {}
                st["task_ms"] = st.get("task_ms", 0) + m.get("Executor Run Time", 0)
                st["gc_ms"] = st.get("gc_ms", 0) + m.get("JVM GC Time", 0)
                st["deser_ms"] = st.get("deser_ms", 0) + m.get(
                    "Executor Deserialize Time", 0
                )
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                st["sh_read"] = st.get("sh_read", 0) + sr.get(
                    "Remote Bytes Read", 0
                ) + sr.get("Local Bytes Read", 0)
                st["sh_write"] = st.get("sh_write", 0) + sw.get(
                    "Shuffle Bytes Written", 0
                )
                st["fetch_wait"] = st.get("fetch_wait", 0) + sr.get(
                    "Fetch Wait Time", 0
                )
                py = (m.get("Updated Blocks") or [])
                _ = py

    n_jobs = len(jobs)
    job_ms = sum(j.get("t1", j["t0"]) - j["t0"] for j in jobs.values())
    n_stages = sum(1 for s in stages.values() if s.get("n_tasks"))
    print(
        f"    jobs={n_jobs} sum(job wall)={job_ms/1000:.3f}s"
        f" (gaps/driver={t0_wall - job_ms/1000:.3f}s)  stages={n_stages}"
    )
    big = sorted(
        ((sid, s) for sid, s in stages.items() if s.get("n_tasks")),
        key=lambda kv: -(kv[1].get("ms") or 0),
    )[:12]
    for sid, s in big:
        print(
            f"    stage {sid:4d} {s.get('ms', 0)/1000:6.3f}s wall"
            f" tasks={s.get('n_tasks', 0):3d}"
            f" taskT={s.get('task_ms', 0)/1000:6.2f}s"
            f" gc={s.get('gc_ms', 0)/1000:.2f}s"
            f" shR={s.get('sh_read', 0)>>10}K shW={s.get('sh_write', 0)>>10}K"
            f" fw={s.get('fetch_wait', 0)}ms  {s.get('name', '')}"
        )


if __name__ == "__main__":
    main()
