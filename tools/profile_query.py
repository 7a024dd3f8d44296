"""Per-query stage/job profiler: run one catalog query (cold + warm reps)
with the Spark event log on, then attribute wall time to jobs and stages
(task time, shuffle bytes, task counts) from the log.

Usage:
  python tools/profile_query.py <query> [reps]

``reps`` is a bare int: warm evaluations after the cold one (default 1).

Prints, per evaluation: job count, per-job wall, and the top stages by
task time with their shuffle read/write volumes — the guide §1 "where is
the time actually going" view, without the UI.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from event_streaming_spark.plans import REGISTRY  # noqa: E402
from event_streaming_spark.session import get_spark  # noqa: E402


def parse_log(path: str) -> None:
    jobs = {}  # id -> dict
    stages = {}  # id -> dict
    with open(path) as fh:
        for line in fh:
            try:
                ev = json.loads(line)
            except ValueError:
                continue
            e = ev.get("Event", "")
            if e == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {
                    "t0": ev["Submission Time"],
                    "desc": (ev.get("Properties") or {}).get(
                        "spark.job.description", ""
                    )[:70],
                    "stages": [s["Stage ID"] for s in ev.get("Stage Infos", [])],
                }
            elif e == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["t1"] = ev["Completion Time"]
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                st = stages.setdefault(si["Stage ID"], {})
                st["name"] = si["Stage Name"].split("\n")[0][:60]
                st["tasks"] = si["Number of Tasks"]
                st["wall"] = (
                    si.get("Completion Time", 0) - si.get("Submission Time", 0)
                ) / 1000.0
            elif e == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                st = stages.setdefault(sid, {"name": "?", "tasks": 0, "wall": 0})
                m = ev.get("Task Metrics") or {}
                st["run_ms"] = st.get("run_ms", 0) + m.get("Executor Run Time", 0)
                st["cpu_ms"] = st.get("cpu_ms", 0) + m.get(
                    "Executor CPU Time", 0
                ) / 1e6
                srm = m.get("Shuffle Read Metrics") or {}
                st["sh_read"] = st.get("sh_read", 0) + srm.get(
                    "Remote Bytes Read", 0
                ) + srm.get("Local Bytes Read", 0)
                swm = m.get("Shuffle Write Metrics") or {}
                st["sh_write"] = st.get("sh_write", 0) + swm.get(
                    "Shuffle Bytes Written", 0
                )
                st["fetch_ms"] = st.get("fetch_ms", 0) + srm.get("Fetch Wait Time", 0)
                st["gc_ms"] = st.get("gc_ms", 0) + m.get("JVM GC Time", 0)
                st["n_done"] = st.get("n_done", 0) + 1

    njobs = len(jobs)
    total_job_wall = sum((j.get("t1", j["t0"]) - j["t0"]) / 1000.0 for j in jobs.values())
    print(f"  jobs: {njobs}  sum(job wall): {total_job_wall:.2f}s")
    for jid in sorted(jobs):
        j = jobs[jid]
        w = (j.get("t1", j["t0"]) - j["t0"]) / 1000.0
        if w >= 0.15:
            print(f"   job {jid:3d} {w:6.2f}s  {j['desc']}")
    ranked = sorted(
        ((s.get("run_ms", 0), sid, s) for sid, s in stages.items()), reverse=True
    )
    print("  top stages by executor run time:")
    for run_ms, sid, s in ranked[:12]:
        if run_ms < 100:
            break
        print(
            f"   stage {sid:4d} run {run_ms/1000:7.2f}s cpu {s.get('cpu_ms',0)/1000:7.2f}s "
            f"gc {s.get('gc_ms',0)/1000:6.2f}s "
            f"tasks {s.get('n_done',0):3d} shR {s.get('sh_read',0)/2**20:7.1f}M "
            f"shW {s.get('sh_write',0)/2**20:7.1f}M fetch {s.get('fetch_ms',0)/1000:5.2f}s "
            f"{s['name'][:48]}"
        )


def main() -> None:
    name = sys.argv[1]
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    logdir = tempfile.mkdtemp(prefix="est-prof-")
    spark = get_spark(
        app_name=f"est-profile-{name}",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": logdir,
            "spark.eventLog.compress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()
    q = REGISTRY[name]
    marks = []
    for i in range(1 + reps):
        t0 = time.monotonic()
        q.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        marks.append((time.monotonic() - t0, spark.sparkContext.statusTracker()))
        print(f"eval {i}: {marks[-1][0]:.3f}s", flush=True)
    app_id = spark.sparkContext.applicationId
    spark.stop()
    # one log file per app; parse it once, splitting evals is not needed —
    # run with reps=0 for a pure-cold attribution, reps>=1 mixes evals.
    for root, _dirs, files in os.walk(logdir):
        for f in files:
            if app_id in root + f and f.startswith("events"):
                parse_log(os.path.join(root, f))


if __name__ == "__main__":
    main()
