"""Per-query job/stage attribution via the Spark event log — the
optimization round's noise-robust instrument (guide §1: decide from task
metrics, not wall clock, when the host is jittery).

Runs ONE contract query (optionally repeated) in a fresh session with
``spark.eventLog.enabled=true``, then parses the event log and prints,
per job: description, wall ms, summed executor task time, shuffle
read/write bytes, input bytes, and task count — plus per-query totals.

Usage: python tools/profile_query.py [--repeat N] <query>
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
       SPARK_GRAFT_CPUS (default: the cores this process may run on)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from polars_sim_spark import cache as cache_registry
from polars_sim_spark import queries as q


def main() -> None:
    args = sys.argv[1:]
    repeat = 1
    if args and args[0] == "--repeat":
        repeat = int(args[1])
        args = args[2:]
    name = args[0]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    evdir = tempfile.mkdtemp(prefix="spark-ev-")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(f"profile-{name}")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", evdir)
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        spark.read.parquet(f"{sf_dir}/{t}.parquet").count()

    fn = q.QUERIES[name]
    walls = []
    for i in range(repeat):
        spark.sparkContext.setJobDescription(f"__q{i}__{name}")
        t0 = time.perf_counter()
        rows = fn(spark, sf_dir).count()
        walls.append(round(time.perf_counter() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        cache_registry.unpersist_all()
    app_id = spark.sparkContext.applicationId
    spark.stop()

    # parse event log
    path = os.path.join(evdir, app_id)
    jobs = {}  # id -> dict
    stage_to_job = {}
    stage_metrics = {}  # stage id -> aggregated
    with open(path) as fh:
        for line in fh:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                jid = ev["Job ID"]
                desc = ev.get("Properties", {}).get("spark.job.description", "")
                jobs[jid] = {
                    "desc": desc,
                    "t0": ev.get("Submission Time", 0),
                    "stages": [s["Stage ID"] for s in ev.get("Stage Infos", [])],
                    "names": [s.get("Stage Name", "") for s in ev.get("Stage Infos", [])],
                }
                for s in jobs[jid]["stages"]:
                    stage_to_job[s] = jid
            elif e == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in jobs:
                    jobs[jid]["t1"] = ev.get("Completion Time", 0)
            elif e == "SparkListenerStageSubmitted":
                si = ev.get("Stage Info", {})
                sid = si.get("Stage ID")
                agg = stage_metrics.setdefault(
                    sid,
                    {"run": 0, "shr": 0, "shw": 0, "inp": 0, "tasks": 0, "gc": 0,
                     "pyt": 0, "name": ""},
                )
                agg["name"] = (si.get("Stage Name") or "").split("\n")[0][:110]
            elif e == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                m = ev.get("Task Metrics") or {}
                agg = stage_metrics.setdefault(
                    sid,
                    {"run": 0, "shr": 0, "shw": 0, "inp": 0, "tasks": 0, "gc": 0,
                     "pyt": 0, "name": ""},
                )
                agg["run"] += m.get("Executor Run Time", 0)
                agg["gc"] += m.get("JVM GC Time", 0)
                srm = m.get("Shuffle Read Metrics") or {}
                agg["shr"] += srm.get("Remote Bytes Read", 0) + srm.get(
                    "Local Bytes Read", 0
                )
                swm = m.get("Shuffle Write Metrics") or {}
                agg["shw"] += swm.get("Shuffle Bytes Written", 0)
                im = m.get("Input Metrics") or {}
                agg["inp"] += im.get("Bytes Read", 0)
                agg["tasks"] += 1

    per_rep = {}
    for jid, j in sorted(jobs.items()):
        desc = j["desc"]
        if not desc.startswith("__q"):
            continue
        rep = desc.split("__")[1]
        agg = per_rep.setdefault(
            rep, {"jobs": 0, "wall": 0, "run": 0, "shr": 0, "shw": 0, "inp": 0,
                  "tasks": 0, "gc": 0, "job_walls": []},
        )
        agg["jobs"] += 1
        w = j.get("t1", j["t0"]) - j["t0"]
        agg["wall"] += w
        nm = j["names"][-1] if j["names"] else ""
        agg["job_walls"].append((w, nm.split("\n")[0][:90]))
        for s in j["stages"]:
            sm = stage_metrics.get(s)
            if not sm or stage_to_job.get(s) != jid:
                continue
            for k in ("run", "shr", "shw", "inp", "tasks", "gc"):
                agg[k] += sm[k]
            agg.setdefault("stage_rows", []).append(
                (sm["run"], sm["tasks"], sm["name"])
            )
    print(f"query={name} walls={walls}")
    for rep in sorted(per_rep):
        a = per_rep[rep]
        jw = sorted(a.pop("job_walls"), key=lambda x: -x[0])
        print(
            f"  rep {rep}: jobs={a['jobs']} sum_job_wall={a['wall']/1e3:.2f}s "
            f"task_time={a['run']/1e3:.2f}s gc={a['gc']/1e3:.2f}s "
            f"tasks={a['tasks']} input={a['inp']/1e6:.1f}MB "
            f"shuffleR={a['shr']/1e6:.1f}MB shuffleW={a['shw']/1e6:.1f}MB"
        )
        for w, nm in jw[:6]:
            print(f"    job {int(w):>7d}ms  {nm}")
        for run, nt, nm in sorted(a.pop("stage_rows", []), reverse=True)[:18]:
            print(f"    stage run={run:>7d}ms tasks={nt:>3d}  {nm}")
    shutil.rmtree(evdir, ignore_errors=True)


if __name__ == "__main__":
    main()
