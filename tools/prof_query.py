"""Per-stage profile of declared queries (r14 optimization tooling).

Runs each named ``__spark_entry__.queries()`` entry with the noop sink
(guide §1.4) K times in one session with the Spark event log enabled,
then prints a stage-level breakdown per query and run parsed from the
event log: per-stage wall time, task time, callsite, shuffle
read/write bytes. This is the §1.1 empirical loop without a live UI
(spark.ui is disabled in the bench session): find WHERE the seconds go
before touching anything.

Usage: python tools/prof_query.py <query>[,<query>...] [k]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
"""

from __future__ import annotations

import gc
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    names = [q for q in sys.argv[1].split(",") if q]
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    evdir = tempfile.mkdtemp(prefix="spark_events_")

    from dw_etl_spark.session import get_spark

    spark = get_spark(
        app_name=f"prof_{'_'.join(names)}",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{evdir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    import __spark_entry__ as entrymod
    from pyspark.sql import functions as F

    # same warmup as bench.py so run 1 is comparable
    spark.range(1_000_000).groupBy((F.col("id") % 10).alias("k")).count().write.format(
        "noop"
    ).mode("overwrite").save()

    qs = entrymod.queries()
    unknown = sorted(set(names) - set(qs))
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    times = {}  # job group -> wall seconds
    for name in names:
        for i in range(k):
            spark.catalog.clearCache()
            gc.collect()
            for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
                rdd.unpersist(True)
            grp = f"{name}#run{i}"
            spark.sparkContext.setJobGroup(grp, f"{name} run {i}")
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            times[grp] = time.perf_counter() - t0
            print(f"[prof] {name} run{i} {times[grp]:.3f}s", file=sys.stderr)
    app_id = spark.sparkContext.applicationId
    spark.stop()

    # parse the event log: map job->group, stage->timing
    path = os.path.join(evdir, app_id)
    if not os.path.exists(path):
        # Spark 4 writes rolling event-log DIRS (eventlog_v2_<appid>/)
        # or appends .inprogress/compression suffixes — take whatever
        # the session left, newest first, and descend one level if dir.
        cands = sorted(
            (os.path.join(evdir, p) for p in os.listdir(evdir)),
            key=os.path.getmtime,
            reverse=True,
        )
        path = cands[0]
        if os.path.isdir(path):
            # a rolling event-log dir can hold several events_ files —
            # read ALL of them in order (r15, ADVICE r14): taking only
            # the first silently dropped later jobs/stages when rolling
            # occurred despite the disable conf
            inner = [
                os.path.join(path, p)
                for p in os.listdir(path)
                if p.startswith("events_")
            ]
            paths = sorted(inner)
        else:
            paths = [path]
    else:
        paths = [path]
    jobs = {}  # job id -> (group, submission t, [stage ids])
    stages = {}  # stage id -> dict
    for path in paths:
        _parse_event_file(path, jobs, stages)

    # per run-group: job wall times and top stages
    for grp, wall in times.items():
        gjobs = {jid: j for jid, j in jobs.items() if j.get("group") == grp}
        tot = sum((j.get("t1", j["t0"]) - j["t0"]) for j in gjobs.values())
        name, run = grp.split("#")
        print(f"\n== {name} {run}: wall {wall:.3f}s, "
              f"{len(gjobs)} jobs, sum job wall {tot/1000:.3f}s")
        rows = []
        for jid, j in sorted(gjobs.items()):
            for sid in j["stages"]:
                st = stages.get(sid)
                if st and st.get("wall_ms") is not None and "name" in st:
                    rows.append((jid, sid, st))
        seen = set()
        rows2 = []
        for jid, sid, st in rows:
            if sid in seen:
                continue
            seen.add(sid)
            rows2.append((jid, sid, st))
        rows2.sort(key=lambda r: -(r[2].get("wall_ms") or 0))
        print(f"{'job':>4} {'stage':>5} {'wall_s':>7} {'task_s':>7} "
              f"{'fetchw':>6} {'tasks':>5} {'shR_MB':>7} {'shW_MB':>7}  name")
        for jid, sid, st in rows2[:25]:
            print(
                f"{jid:>4} {sid:>5} {st.get('wall_ms',0)/1000:>7.2f} "
                f"{st.get('task_ms',0)/1000:>7.2f} "
                f"{st.get('fetch_wait_ms',0)/1000:>6.2f} "
                f"{st.get('tasks',0):>5} "
                f"{st.get('sh_read',0)/1e6:>7.1f} "
                f"{st.get('sh_write',0)/1e6:>7.1f}  "
                f"{st.get('name','')[:60]}"
            )
        # job-level gaps: time not covered by any stage (driver-side)
        jw = []
        for jid, j in sorted(gjobs.items()):
            w = (j.get("t1", j["t0"]) - j["t0"]) / 1000
            sw = sum(
                (stages.get(s, {}).get("wall_ms") or 0) / 1000
                for s in j["stages"] if s in seen
            )
            jw.append((jid, w, j.get("desc", "")))
        jw.sort(key=lambda r: -r[1])
        print("  top jobs by wall:")
        for jid, w, desc in jw[:8]:
            print(f"    job {jid}: {w:.2f}s  {desc[:70]}")
    print(f"\nevent logs: {paths}")


def _parse_event_file(path: str, jobs: dict, stages: dict) -> None:
    with open(path) as f:
        for line in f:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id", ""),
                    "desc": props.get("spark.job.description", ""),
                    "stages": [
                        s["Stage ID"] for s in ev.get("Stage Infos", [])
                    ],
                    "t0": ev.get("Submission Time", 0),
                }
            elif e == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["t1"] = ev.get("Completion Time", 0)
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                sid = si["Stage ID"]
                sub = si.get("Submission Time")
                comp = si.get("Completion Time")
                # merge, don't replace: TaskEnd events for this stage
                # have already accumulated task_ms/shuffle sums here
                st = stages.setdefault(sid, {})
                st.update(
                    {
                        "name": si.get("Stage Name", ""),
                        "details": (si.get("Details") or "").split("\n")[0],
                        "wall_ms": (comp - sub) if sub and comp else 0,
                        "tasks": si.get("Number of Tasks", 0),
                    }
                )
            elif e == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                st = stages.setdefault(sid, {})
                # Spark 4 event logs carry task metrics as
                # internal.metrics.* accumulables on Task Info, not a
                # "Task Metrics" object
                acc = {
                    a.get("Name"): a.get("Update", 0)
                    for a in (ev.get("Task Info") or {}).get(
                        "Accumulables", []
                    )
                    if str(a.get("Name", "")).startswith("internal.metrics")
                }

                def g(name: str) -> int:
                    try:
                        return int(acc.get(f"internal.metrics.{name}", 0))
                    except (TypeError, ValueError):
                        return 0

                st["task_ms"] = st.get("task_ms", 0) + g("executorRunTime")
                st["sh_read"] = (
                    st.get("sh_read", 0)
                    + g("shuffle.read.remoteBytesRead")
                    + g("shuffle.read.localBytesRead")
                )
                st["sh_write"] = st.get("sh_write", 0) + g(
                    "shuffle.write.bytesWritten"
                )
                st["fetch_wait_ms"] = st.get("fetch_wait_ms", 0) + g(
                    "shuffle.read.fetchWaitTime"
                )
                st["spill"] = st.get("spill", 0) + g("diskBytesSpilled")


if __name__ == "__main__":
    main()
