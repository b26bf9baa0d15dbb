"""The traced run: spans around calls into the package's layers, job and
task counts per layer, streaming batch progress, stage statistics from
the Spark event log, and the per-layer metrics computed from them.

Spans are recorded from the benchmark's side only: ``install`` wraps
the package's public functions by rebinding module attributes in this
process; no package file changes.  Spans stay in memory and are
written out once, after the run.
"""

from __future__ import annotations

import datetime
import functools
import json
import os
import statistics
import time
from contextlib import contextmanager

# (name, unit) of every per-layer metric, in report order.  A layer a
# workload does not exercise reports 0.
PER_LAYER = (
    ("session.start_s", "s"),
    ("catalog.load_ms", "ms"),
    ("catalog.cache_hit_share", "share"),
    ("mql.parse_ms", "ms"),
    ("engine.build_ms", "ms"),
    ("engine.build_self_ms", "ms"),
    ("plan.plan_ms", "ms"),
    ("exec.exec_ms", "ms"),
    ("exec.jobs_per_op", "count"),
    ("exec.tasks_per_op", "count"),
    ("exec.scan_rows_per_result", "rows/row"),
    ("exec.stage_count", "count"),
    ("exec.shuffle_write_mb", "MB"),
    ("exec.spill_mb", "MB"),
    ("exec.task_skew_max", "ratio"),
    ("log_stream.read_ms", "ms"),
    ("log_stream.drain_ms", "ms"),
    ("log_stream.batches_per_drain", "count"),
    ("log_stream.batch_ms", "ms"),
    ("log_stream.floor_ms", "ms"),
    ("log_stream.state_rows_max", "count"),
    ("log_stream.sink_tables_live", "count"),
    ("log_stream.ckpt_mb", "MB"),
    ("log_stream.flush_rerun_ms", "ms"),
    ("registry.build_ms", "ms"),
    ("registry.build_jobs", "count"),
    ("registry.exec_ms", "ms"),
    ("jvm.gc_ms_per_op", "ms"),
    ("op.wall_ms", "ms"),
    ("trace.accounted_share", "share"),
    ("trace.overhead_share", "share"),
)

_MB = 1024 * 1024


class Tracer:
    """In-memory span recorder for one client thread.

    ``enabled`` switches recording on and off between ops, so a traced
    run can interleave traced and untraced ops."""

    def __init__(self):
        self.spans: list[dict] = []
        self.enabled = False
        self.op: int | None = None
        self._stack: list[int] = []
        # perf_counter -> epoch seconds, for matching Spark's timestamps
        self._epoch_offset = time.time() - time.perf_counter()

    def epoch(self, t: float) -> float:
        return t + self._epoch_offset

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "op": self.op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str, on_return=None) -> None:
        """Rebind ``owner.attr`` to a wrapper recording a ``name`` span."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                if rec is not None and on_return is not None:
                    on_return(rec, out)
                return out

        setattr(owner, attr, wrapper)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def install(tracer: Tracer) -> None:
    """Wrap the package's public entry points of each layer."""
    from nosql_join_stream_spark import catalog, dsl, engine, mql
    from nosql_join_stream_spark.streaming import log_stream

    seen = []  # every DataFrame load_table returned; a repeat is a hit

    def mark_hit(rec, df):
        rec["hit"] = any(df is s for s in seen)
        if not rec["hit"]:
            seen.append(df)

    tracer.wrap(catalog, "load_table", "catalog.load", mark_hit)
    tracer.wrap(mql, "mql_to_column", "mql.parse")
    tracer.wrap(dsl.QuerySpec, "apply", "dsl.apply")
    # engine.py binds these operator functions by name at import
    tracer.wrap(engine, "inner_join", "operators.join")
    tracer.wrap(engine, "log_from", "operators.log")
    tracer.wrap(log_stream, "read_log_stream", "log_stream.read")
    tracer.wrap(log_stream, "run_available_now", "log_stream.drain")
    # a separate name: after set-up, its checkpoint makes every call a
    # re-read of the standing sink, not a drain
    tracer.wrap(log_stream, "interval_join_outer_flush_drain",
                "log_stream.flush")


def progress_listener(spark):
    """Attach a StreamingQueryListener that records every batch."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self):
            self.batches: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            self.batches.append({
                "ts": _iso_epoch(p.timestamp),
                "trigger_ms": p.durationMs.get("triggerExecution", 0),
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators)})

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = ProgressLog()
    spark.streams.addListener(listener)
    return listener


def _iso_epoch(ts: str) -> float:
    return datetime.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def gc_ms(spark) -> int:
    """Total JVM garbage-collection time so far, over JMX."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())


def group_counts(spark, groups: list[str]) -> dict[str, tuple[int, int]]:
    """(jobs, tasks) per job group, from the status tracker."""
    st = spark.sparkContext.statusTracker()
    out = {}
    for g in groups:
        jobs = st.getJobIdsForGroup(g)
        tasks = 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                stage = st.getStageInfo(sid)
                tasks += stage.numTasks if stage else 0
        out[g] = (len(jobs), tasks)
    return out


def read_event_log(log_dir: str) -> tuple[list[dict], dict[int, dict]]:
    """Jobs and completed-stage statistics from the Spark event log.

    Returns ``(jobs, stages)``: each job is ``{id, submit (epoch s),
    group, stages}``; ``stages`` maps stage id to ``{tasks, input_rows,
    shuffle_write, spill, durations}`` for stages that ran tasks."""
    jobs, stages = [], {}
    # Spark 4 writes rolling logs: <dir>/eventlog_v2_<app>/events_<n>_<app>
    paths = sorted(os.path.join(d, f) for d, _, fs in os.walk(log_dir)
                   for f in fs if f.startswith("events_"))
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs.append({
                        "id": ev["Job ID"],
                        "submit": ev["Submission Time"] / 1000.0,
                        "group": (ev.get("Properties") or {}).get(
                            "spark.jobGroup.id"),
                        "stages": ev["Stage IDs"]})
                elif kind == "SparkListenerTaskEnd":
                    s = stages.setdefault(ev["Stage ID"], {
                        "tasks": 0, "input_rows": 0, "shuffle_write": 0,
                        "spill": 0, "durations": []})
                    info = ev["Task Info"]
                    m = ev.get("Task Metrics") or {}
                    s["tasks"] += 1
                    s["durations"].append(info["Finish Time"] - info["Launch Time"])
                    s["input_rows"] += (m.get("Input Metrics") or {}).get(
                        "Records Read", 0)
                    s["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}
                                           ).get("Shuffle Bytes Written", 0)
                    s["spill"] += (m.get("Memory Bytes Spilled", 0)
                                   + m.get("Disk Bytes Spilled", 0))
    return jobs, stages


def dir_mb(path: str) -> float:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except FileNotFoundError:
                pass
    return total / _MB


def _median(xs, default=0.0):
    return float(statistics.median(xs)) if xs else default


def _mean(xs, default=0.0):
    return float(statistics.fmean(xs)) if xs else default


def _ms(span) -> float:
    return (span["end"] - span["start"]) * 1000.0


def layer_metrics(tracer: Tracer, ops: list[dict], *, session_s: float,
                  counts: dict[str, tuple[int, int]], jobs: list[dict],
                  stages: dict[int, dict], batches: list[dict],
                  sink_tables: int, ckpt_mb: float, gc_delta_ms: float
                  ) -> dict[str, float]:
    """Per-layer metrics over the traced ops of the timed window.

    ``ops`` are the window's op records; those with ``traced`` set have
    spans under their ``id``.  Per-op times are medians over the ops
    that reach the layer; per-op counts are means."""
    traced = [o for o in ops if o["traced"]]
    by_op: dict[int, list[dict]] = {}
    for s in tracer.spans:
        if s["op"] is not None and s["end"] is not None:
            by_op.setdefault(s["op"], []).append(s)

    def per_op(names):
        """Per traced op, the summed ms of its spans named in ``names``
        (ops without such a span are left out)."""
        vals = []
        for o in traced:
            xs = [_ms(s) for s in by_op.get(o["id"], []) if s["name"] in names]
            if xs:
                vals.append(sum(xs))
        return vals

    def self_ms(span, spans):
        kids = sum(_ms(c) for c in spans if c["parent"] == span["id"])
        return _ms(span) - kids

    build_self, accounted, walls = [], [], []
    for o in traced:
        spans = by_op.get(o["id"], [])
        for s in spans:
            if s["name"] == "engine.build":
                build_self.append(self_ms(s, spans))
            if s["name"] == "op":
                walls.append(_ms(s))
                accounted.append(1.0 - self_ms(s, spans) / max(_ms(s), 1e-9))

    loads = [s for s in tracer.spans if s["name"] == "catalog.load"
             and s["end"] is not None]
    hits = sum(1 for s in loads if s.get("hit"))
    # the loads of set-up (outside any op) that missed the cache
    cold_loads = [_ms(s) for s in loads
                  if s["op"] is None and not s.get("hit")]

    # jobs and stages attributed to ops by submission time (streaming
    # micro-batches run under their query's own job group)
    op_spans = {o["id"]: (tracer.epoch(o["start"]), tracer.epoch(o["end"]))
                for o in traced}
    build_spans = [(tracer.epoch(s["start"]), tracer.epoch(s["end"]))
                   for s in tracer.spans if s["name"] == "registry.build"
                   and s["end"] is not None]
    op_stages: dict[int, list[dict]] = {oid: [] for oid in op_spans}
    exec_input = 0
    build_jobs: dict[tuple, int] = {b: 0 for b in build_spans}
    for j in jobs:
        for oid, (a, b) in op_spans.items():
            if a <= j["submit"] <= b:
                op_stages[oid].extend(stages[s] for s in j["stages"]
                                      if s in stages)
                if (j["group"] or "").endswith(":exec"):
                    exec_input += sum(stages[s]["input_rows"]
                                      for s in j["stages"] if s in stages)
                break
        for span in build_spans:
            if span[0] <= j["submit"] <= span[1]:
                build_jobs[span] += 1

    def skew(st):
        d = sorted(st["durations"])
        return d[-1] / max(statistics.median(d), 1) if len(d) > 1 else 1.0

    drains = [s for s in tracer.spans if s["name"] == "log_stream.drain"
              and s["end"] is not None and s["op"] in op_spans]
    drain_batches = []
    for d in drains:
        a, b = tracer.epoch(d["start"]), tracer.epoch(d["end"])
        drain_batches.append([x for x in batches if a <= x["ts"] <= b])
    batch_ms = [sum(x["trigger_ms"] for x in bs) for bs in drain_batches]

    exec_groups = [counts[g] for g in (f"pb{o['id']}:exec" for o in traced)
                   if g in counts]
    result_rows = sum(o["rows"] for o in traced if o["rows"] is not None)
    registry_ops = [o for o in traced if o["registry"]]

    m = {
        "session.start_s": session_s,
        "catalog.load_ms": _median(cold_loads),
        "catalog.cache_hit_share": hits / len(loads) if loads else 0.0,
        "mql.parse_ms": _median(per_op({"mql.parse"})),
        "engine.build_ms": _median(per_op({"engine.build"})),
        "engine.build_self_ms": _median(build_self),
        "plan.plan_ms": _median(per_op({"plan"})),
        "exec.exec_ms": _median(per_op({"exec"})),
        "exec.jobs_per_op": _mean([c[0] for c in exec_groups]),
        "exec.tasks_per_op": _mean([c[1] for c in exec_groups]),
        "exec.scan_rows_per_result": exec_input / max(result_rows, 1),
        "exec.stage_count": _mean([len(v) for v in op_stages.values()]),
        "exec.shuffle_write_mb": _mean(
            [sum(s["shuffle_write"] for s in v) / _MB
             for v in op_stages.values()]),
        "exec.spill_mb": _mean([sum(s["spill"] for s in v) / _MB
                                for v in op_stages.values()]),
        "exec.task_skew_max": _median(
            [max(skew(s) for s in v) for v in op_stages.values() if v]),
        "log_stream.read_ms": _median([_ms(s) for s in tracer.spans
                                       if s["name"] == "log_stream.read"
                                       and s["op"] in op_spans]),
        "log_stream.drain_ms": _median([_ms(d) for d in drains]),
        "log_stream.batches_per_drain": _mean([len(b) for b in drain_batches]),
        "log_stream.batch_ms": _median(batch_ms),
        "log_stream.floor_ms": _median([_ms(d) - b
                                        for d, b in zip(drains, batch_ms)]),
        "log_stream.state_rows_max": float(max(
            (x["state_rows"] for x in batches), default=0)),
        "log_stream.sink_tables_live": float(sink_tables),
        "log_stream.ckpt_mb": ckpt_mb,
        "log_stream.flush_rerun_ms": _median(per_op({"log_stream.flush"})),
        "registry.build_ms": _median(per_op({"registry.build"})),
        "registry.build_jobs": _mean(list(build_jobs.values()))
        if registry_ops else 0.0,
        "registry.exec_ms": _median([_ms(s) for o in registry_ops
                                     for s in by_op.get(o["id"], [])
                                     if s["name"] == "exec"]),
        "jvm.gc_ms_per_op": gc_delta_ms / max(len(ops), 1),
        "op.wall_ms": _median(walls),
        "trace.accounted_share": _median(accounted),
    }
    m["trace.overhead_share"] = overhead_share(ops)
    return m


def overhead_share(ops: list[dict]) -> float:
    """Throughput of traced ops relative to untraced ops of the same
    window: summed mean latency per op kind, untraced over traced, over
    the kinds that ran both ways (so the kind mix cancels out)."""
    lat: dict[tuple[str, bool], list[float]] = {}
    for o in ops:
        if o["ok_run"]:
            lat.setdefault((o["kind"], o["traced"]), []).append(o["latency"])
    kinds = {k for k, t in lat if (k, not t) in lat}
    if not kinds:
        return 0.0
    untraced = sum(statistics.fmean(lat[k, False]) for k in kinds)
    return untraced / sum(statistics.fmean(lat[k, True]) for k in kinds)
