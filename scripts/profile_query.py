#!/usr/bin/env python
"""Per-stage profiler for one or more catalog queries: runs each query
through the noop sink with the Spark event log enabled, then summarizes
jobs -> stages -> (duration, task count, max/median task, shuffle bytes,
python eval time) from the event-log JSON. The output is the evidence the
optimization loop needs to decide WHERE a query's seconds go (guide §1/§7)
without the UI.

Usage:
  python scripts/profile_query.py sim_retrieval_ndcg_mrr
  python scripts/profile_query.py --runs 2 dedup_chunk_neardup graph_kcore_peel
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--runs", type=int, default=1)
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    args = ap.parse_args()

    evdir = f"/tmp/spark-events-{os.getpid()}"
    os.makedirs(evdir, exist_ok=True)

    from data_integration_and_processing_spark.queries import catalog  # noqa: PLC0415
    from data_integration_and_processing_spark.session import get_spark  # noqa: PLC0415

    spark = get_spark(
        app_name="profile_query",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    specs = catalog.all_specs()

    # warmups: one JVM query and one pandas UDF, so the timed run pays no first-use cost
    specs["q1_pricing_summary"].spark(spark, args.sf_dir).collect()
    from pyspark.sql.functions import pandas_udf  # noqa: PLC0415
    from pyspark.sql.types import DoubleType  # noqa: PLC0415

    @pandas_udf(DoubleType())
    def _warm(v: pd.Series) -> pd.Series:
        time.sleep(0.3)
        return v * 1.0

    n_cores = spark.sparkContext.defaultParallelism
    spark.range(n_cores, numPartitions=n_cores).select(_warm("id")).collect()
    spark.range(1).write.format("noop").mode("overwrite").save()

    import bench  # noqa: PLC0415

    raw_paths = bench._raw_headline_paths()
    marks: list[tuple[str, float, float]] = []
    for name in args.names:
        fn = raw_paths[name] if name in raw_paths else specs[name].spark
        for r in range(args.runs):
            spark.sparkContext.setJobDescription(f"PROFILE:{name}:run{r}")
            t0 = time.time()
            fn(spark, args.sf_dir).write.format("noop").mode("overwrite").save()
            t1 = time.time()
            spark.sparkContext.setJobDescription(None)
            marks.append((f"{name}:run{r}", t0, t1))
            print(f"# {name} run{r}: {t1 - t0:.3f}s wall", file=sys.stderr)

    app_id = spark.sparkContext.applicationId
    spark.stop()
    time.sleep(1.0)

    logs = glob.glob(f"{evdir}/{app_id}*") + glob.glob(
        f"{evdir}/eventlog_v2_{app_id}/events_*"
    )
    if not logs:
        print(f"no event log under {evdir}", file=sys.stderr)
        return 1
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    tasks: dict[int, list] = {}
    with open(max(logs, key=os.path.getmtime)) as fh:
        for line in fh:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            k = ev.get("Event")
            if k == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {
                    "desc": ev.get("Properties", {}).get("spark.job.description", ""),
                    "t0": ev["Submission Time"] / 1e3,
                    "stages": [s["Stage ID"] for s in ev.get("Stage Infos", [])],
                }
            elif k == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in jobs:
                    jobs[jid]["t1"] = ev["Completion Time"] / 1e3
            elif k == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                sid = si["Stage ID"]
                stages[sid] = {
                    "name": si["Stage Name"],
                    "n_tasks": si["Number of Tasks"],
                    "t0": si.get("Submission Time", 0) / 1e3,
                    "t1": si.get("Completion Time", 0) / 1e3,
                }
            elif k == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                ti = ev.get("Task Info", {})
                tm = ev.get("Task Metrics") or {}
                srm = tm.get("Shuffle Read Metrics") or {}
                swm = tm.get("Shuffle Write Metrics") or {}
                dur = (ti.get("Finish Time", 0) - ti.get("Launch Time", 0)) / 1e3
                tasks.setdefault(sid, []).append(
                    {
                        "dur": dur,
                        "cpu": (tm.get("Executor CPU Time") or 0) / 1e9,
                        "sr": (srm.get("Remote Bytes Read") or 0)
                        + (srm.get("Local Bytes Read") or 0),
                        "sw": swm.get("Shuffle Bytes Written") or 0,
                    }
                )

    for label, t0, t1 in marks:
        print(f"\n=== {label}: wall {t1 - t0:.3f}s ===")
        sel = [
            (jid, j)
            for jid, j in sorted(jobs.items())
            if j.get("t0", 0) >= t0 - 0.05 and j.get("t1", t1) <= t1 + 0.05
        ]
        for jid, j in sel:
            jdur = j.get("t1", 0) - j["t0"]
            print(f"job {jid}  {jdur:6.2f}s  {j['desc'][:60]}")
            ran = [(sid, stages[sid]) for sid in j["stages"] if sid in stages]
            ran.sort(key=lambda kv: kv[1]["t0"])
            for sid, s in ran:
                ts = sorted(t["dur"] for t in tasks.get(sid, [])) or [0.0]
                cpu = sum(t["cpu"] for t in tasks.get(sid, []))
                sr = sum(t["sr"] for t in tasks.get(sid, []))
                sw = sum(t["sw"] for t in tasks.get(sid, []))
                print(
                    f"  stage {sid:4d} {s['t1'] - s['t0']:6.2f}s"
                    f" tasks={s['n_tasks']:3d}"
                    f" max={ts[-1]:5.2f} med={ts[len(ts) // 2]:5.2f}"
                    f" cpu={cpu:6.2f}s srd={sr / 1e6:7.1f}MB swr={sw / 1e6:7.1f}MB"
                    f"  {s['name'][:48]}"
                )
        # driver gaps: time between consecutive jobs inside the mark
        prev_end = t0
        gaps = []
        for _, j in sel:
            if j["t0"] - prev_end > 0.15:
                gaps.append((prev_end - t0, j["t0"] - prev_end))
            prev_end = max(prev_end, j.get("t1", prev_end))
        if t1 - prev_end > 0.15:
            gaps.append((prev_end - t0, t1 - prev_end))
        for at, dur in gaps:
            print(f"  DRIVER GAP at +{at:5.2f}s lasting {dur:5.2f}s")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
