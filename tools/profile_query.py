"""Per-query optimization profiler (guide §1: measure first).

For each query named on argv:
- run it ``--reps`` times against $SPARK_GRAFT_SF_DIR through the noop
  sink (same timed action as bench.py), reporting cold/min/median,
- optionally dump ``.explain('formatted')`` to plans/<tag>/<name>_<suffix>.txt
  (``--plans TAG --suffix before|after``),
- with ``--stages``, enable the Spark event log and print a per-stage
  wall/task-time breakdown of the LAST rep, so the expensive stage is
  identified empirically instead of guessed (guide §7.1 without a UI).

Usage:
  python tools/profile_query.py [--reps N] [--stages] \
      [--plans r15 --suffix before] query [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
EVDIR = "/tmp/sparkevents"


def _parse_args(argv):
    reps, plans, suffix, stages = 3, None, "before", False
    names = []
    it = iter(argv)
    for a in it:
        if a == "--reps":
            reps = int(next(it))
        elif a == "--plans":
            plans = next(it)
        elif a == "--suffix":
            suffix = next(it)
        elif a == "--stages":
            stages = True
        else:
            names.append(a)
    return reps, plans, suffix, stages, names


def _stage_report(app_id: str, since_ms: float):
    """Summarize stages submitted after ``since_ms`` from the event log."""
    import glob
    cands = sorted(glob.glob(os.path.join(EVDIR, f"*{app_id}*")) +
                   glob.glob(os.path.join(EVDIR, f"*{app_id}*", "events_*")))
    files = [p for p in cands if os.path.isfile(p)]
    if not files:
        return []
    stages = {}
    lines = []
    for path in files:
        with open(path) as fh:
            lines.extend(fh)
    for line in lines:
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        if ev.get("Event") == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            sub = si.get("Submission Time")
            if sub is None or sub < since_ms:
                continue
            stages[si["Stage ID"]] = {
                "name": si["Stage Name"].split("\n")[0][:70],
                "tasks": si["Number of Tasks"],
                "wall_ms": si.get("Completion Time", sub) - sub,
            }
    return sorted(stages.items(), key=lambda kv: -kv[1]["wall_ms"])


def main():
    reps, plans, suffix, stages, names = _parse_args(sys.argv[1:])
    extra = {}
    if stages:
        os.makedirs(EVDIR, exist_ok=True)
        extra = {"spark.eventLog.enabled": "true",
                 "spark.eventLog.dir": EVDIR,
                 "spark.eventLog.compress": "false",
                 "spark.eventLog.rolling.enabled": "false"}
    from nosql_join_stream_spark.session import get_session
    from nosql_join_stream_spark.queries import REGISTRY

    spark = get_session("profile", extra_conf=extra)
    # warm the JVM + parquet footers once, as bench.py does
    REGISTRY["join_fk_inner"].fn(spark, SF_DIR).write.format("noop") \
        .mode("overwrite").save()

    for name in names:
        qd = REGISTRY[name]
        if plans:
            pdir = os.path.join(os.path.dirname(os.path.dirname(
                os.path.abspath(__file__))), "plans", plans)
            os.makedirs(pdir, exist_ok=True)
            df = qd.fn(spark, SF_DIR)
            txt = spark._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            with open(os.path.join(pdir, f"{name}_{suffix}.txt"), "w") as fh:
                fh.write(txt)
        times = []
        t_mark = time.time() * 1000
        for i in range(reps):
            spark.sparkContext.setJobDescription(f"profile:{name}:rep{i}")
            if i == reps - 1:
                t_mark = time.time() * 1000
            t0 = time.perf_counter()
            qd.fn(spark, SF_DIR).write.format("noop") \
              .mode("overwrite").save()
            times.append(round(time.perf_counter() - t0, 4))
        spark.sparkContext.setJobDescription(None)
        srt = sorted(times[1:]) or times
        print(f"{name}: cold={times[0]:.3f} min={srt[0]:.3f} "
              f"med={srt[len(srt) // 2]:.3f} all={times}")
        if stages:
            app_id = spark.sparkContext.applicationId
            # flush the event log
            spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
            for sid, s in _stage_report(app_id, t_mark)[:12]:
                print(f"    stage {sid:4d} {s['wall_ms']:7.0f} ms "
                      f"{s['tasks']:4d} tasks  {s['name']}")


if __name__ == "__main__":
    main()
