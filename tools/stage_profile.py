"""Profile one slot's cold + warm execution at stage granularity via the
Spark event log (spark.eventLog.codec=none so plain-text parsing works).

    python tools/stage_profile.py <slot> [--sf DIR] [--runs N] [--top K]

Prints per-run job wall time and the slowest stages with task counts —
the local stand-in for the Spark UI's stage table (guide §7.1) since
the UI is disabled in this sandbox.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

LOGDIR = "/tmp/stage_profile_logs"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("slot")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--top", type=int, default=18)
    ap.add_argument("--no-warmup", action="store_true")
    args = ap.parse_args()

    shutil.rmtree(LOGDIR, ignore_errors=True)
    os.makedirs(LOGDIR, exist_ok=True)

    from pyspark.sql import SparkSession

    from bench import _time_slot, _warm_up
    from spec_search_spark.session import tune

    spark = (
        SparkSession.builder.appName("stage_profile")
        # get_spark's parallelism, so the stages are the ones bench runs
        .master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", LOGDIR)
        .config("spark.eventLog.compress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    tune(spark)

    from spec_search_spark.operators import all_queries

    qs, _ = all_queries()
    if not args.no_warmup:
        _warm_up(qs, spark, args.sf)

    for i in range(args.runs):
        spark.sparkContext.setJobDescription(f"RUN{i}:{args.slot}")
        print(f"run {i}: {_time_slot(qs, spark, args.sf, args.slot):.2f}s")
    spark.sparkContext.setJobDescription(None)
    spark.stop()

    jobs, stages, jobdesc = {}, {}, {}
    for f in glob.glob(f"{LOGDIR}/*/events_*") + [
        p for p in glob.glob(f"{LOGDIR}/*") if os.path.isfile(p)
    ]:
        with open(f, errors="replace") as fh:
            for line in fh:
                try:
                    e = json.loads(line)
                except json.JSONDecodeError:
                    continue
                t = e.get("Event")
                if t == "SparkListenerJobStart":
                    jid = e["Job ID"]
                    jobdesc[jid] = e["Properties"].get("spark.job.description", "")
                    jobs[jid] = [e["Submission Time"], None]
                    for s in e["Stage Infos"]:
                        stages.setdefault(
                            s["Stage ID"], {"name": s["Stage Name"], "job": jid}
                        )
                elif t == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]][1] = e["Completion Time"]
                elif t == "SparkListenerStageCompleted":
                    s = e["Stage Info"]
                    st = stages.setdefault(s["Stage ID"], {"job": None})
                    st["name"] = s["Stage Name"]
                    st["wall"] = s.get("Completion Time", 0) - s.get("Submission Time", 0)
                    st["tasks"] = s["Number of Tasks"]
                    runtime = 0
                    for acc in s.get("Accumulables", []):
                        if acc.get("Name") == "internal.metrics.executorRunTime":
                            runtime = acc.get("Value", 0)
                    st["exec_ms"] = runtime

    for jid, (a, b) in sorted(jobs.items()):
        d = str(jobdesc.get(jid, ""))
        if args.slot in d and b:
            print(f"job {jid} [{d.split(':')[0]}]: {(b - a) / 1000:.2f}s")
    rows = [
        (
            v.get("wall", 0),
            k,
            v.get("tasks"),
            v.get("exec_ms", 0),
            str(jobdesc.get(v.get("job"), "")).split(":")[0],
            v.get("name", "")[:70],
        )
        for k, v in stages.items()
        if args.slot in str(jobdesc.get(v.get("job"), ""))
    ]
    rows.sort(reverse=True)
    for w, k, tk, ex, run, nm in rows[: args.top]:
        print(
            f"stage {k:4d} [{run}] wall={w / 1000:6.2f}s exec={ex / 1000:7.2f}s "
            f"tasks={tk:4d}  {nm}"
        )


if __name__ == "__main__":
    main()
