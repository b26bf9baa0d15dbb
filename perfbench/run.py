#!/usr/bin/env python3
"""Closed-loop benchmark of nosql_join_stream_spark.

    python3 perfbench/run.py --workload point_reads --seed 1 --seconds 10 --trace 0

One client thread drives ``get_session(cpus=<cores>)`` in this process
and waits for each op before issuing the next.  A run:

1. writes the seeded input tables into a private work directory under
   ``.perfbench_work/`` (the program sees only these generated inputs);
2. sets up: package import, session, catalog loads and one cold pass of
   the workload's ops (``setup_s``);
3. warms up untimed, then measures for ``--seconds`` (``point_reads``
   also runs until it holds at least 100 ops; ``log_drains`` measures
   the whole cycles started within the window, at least one);
4. checks every op of the window against its DuckDB oracle;
5. prints one JSON line: ``{"correct", "attempted", "failed",
   "metrics"}`` -- the end-to-end metrics with ``--trace 0``, the
   per-layer metrics of ``tracing.PER_LAYER`` with ``--trace 1``.

Everything a run writes stays inside the repository checkout; the
work directory is removed at exit, and traced runs leave their spans in
``.perfbench_out/``.  See README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import procmem  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

SCALE = {"point_reads": workloads.POINT_SF, "log_drains": workloads.DRAIN_SF}
MIN_POINT_OPS = 100       # so p90 has >= 10 samples beyond it
POINT_WARMUP_S = 5.0      # untimed, after the cold pass
OP_TIMEOUT_S = 60.0       # a slower op counts as failed
WINDOW_CAP_S = 100.0      # hard stop, keeps a run well under 180 s
JVM_HEAP = "2g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(SCALE))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=None,
                   help="override the workload's scale factor (smoke runs)")
    return p.parse_args(argv)


def load_check_correctness():
    """``tools/check_correctness.py``, whose canon/value_hash define
    result equality for the project's oracle gate."""
    path = os.path.join(ROOT, "tools", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    argv, sys.argv = sys.argv, sys.argv[:1]  # it reads argv at import
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.argv = argv
    return mod


class Runner:
    """Runs ops of one workload and records one dict per op."""

    def __init__(self, spark, workload, sf_dir, tracer, value_hash):
        from nosql_join_stream_spark.engine import Engine
        self.spark = spark
        self.sf_dir = sf_dir
        self.tracer = tracer
        self.value_hash = value_hash
        self.engine = Engine(spark, sf_dir)
        self.registry = workload != "point_reads"

    def load_catalog(self):
        from nosql_join_stream_spark import catalog
        names = (("events", "orders", "customer") if not self.registry
                 else ("events", "customer"))
        for name in names:
            catalog.load_table(self.spark, name, self.sf_dir)

    def _build(self, op):
        if self.registry:
            from nosql_join_stream_spark.queries import REGISTRY
            with self.tracer.span("registry.build"):
                return REGISTRY[op.kind].fn(self.spark, self.sf_dir)
        with self.tracer.span("engine.build"):
            return workloads.build_point_read(self.engine, op)

    def run(self, op, op_id, traced=False):
        tr, sc = self.tracer, self.spark.sparkContext
        tr.enabled, tr.op = traced, op_id
        rec = {"id": op_id, "kind": op.kind, "params": op.params,
               "traced": traced, "registry": self.registry, "rows": None,
               "digest": None, "cols": None, "error": None}
        rec["start"] = time.perf_counter()
        try:
            with tr.span("op"):
                if traced:
                    sc.setJobGroup(f"pb{op_id}:build", "build")
                df = self._build(op)
                if traced:
                    # force Catalyst planning outside the action
                    sc.setJobGroup(f"pb{op_id}:plan", "plan")
                    with tr.span("plan"):
                        df._jdf.queryExecution().executedPlan()
                    sc.setJobGroup(f"pb{op_id}:exec", "exec")
                with tr.span("exec"):
                    rows = df.collect()
            rec["end"] = time.perf_counter()
            cols = df.columns
            tuples = [tuple(r) for r in rows]
            rec["rows"] = len(tuples)
            rec["cols"] = sorted(cols)
            rec["digest"] = self.value_hash(cols, tuples)
        except Exception as ex:  # an op that fails counts; the run goes on
            rec["end"] = time.perf_counter()
            rec["error"] = f"{type(ex).__name__}: {ex}"[:400]
            traceback.print_exc(file=sys.stderr)
        finally:
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            tr.enabled, tr.op = False, None
        rec["latency"] = rec["end"] - rec["start"]
        if rec["error"] is None and rec["latency"] > OP_TIMEOUT_S:
            rec["error"] = f"timed out ({rec['latency']:.1f} s)"
        rec["ok_run"] = rec["error"] is None
        return rec


def cold_and_warm_ops(workload, seed, sf):
    """(cold pass, warm-up stream): ops from a stream seeded apart from
    the window's, so the window's first ops are not pre-run."""
    if workload == "point_reads":
        stream = workloads.point_read_ops(seed + 1_000_003, sf)
        cold, kinds = [], set()
        while len(kinds) < len(workloads.POINT_KINDS):
            op = next(stream)
            if op.kind not in kinds:
                kinds.add(op.kind)
                cold.append(op)
        return cold, stream
    return next(workloads.drain_cycles(seed + 1_000_003)), None


def measure(runner, workload, seed, sf, seconds, trace):
    """The timed window: closed loop, one op at a time."""
    recs = []
    start = time.perf_counter()

    # traced runs interleave traced and untraced ops, so the tracing
    # overhead is measured within one window: every other point read,
    # and each drain query traced in alternate cycles
    if workload == "point_reads":
        ops = workloads.point_read_ops(seed, sf)
        while True:
            elapsed = time.perf_counter() - start
            whole = len(recs) % len(workloads.POINT_KINDS) == 0
            if ((elapsed >= seconds and len(recs) >= MIN_POINT_OPS and whole)
                    or elapsed >= WINDOW_CAP_S):
                break
            i = len(recs)
            recs.append(runner.run(next(ops), i, trace and i % 2 == 0))
    else:
        # whole cycles only; a traced run needs two, one per tracing mode
        cycles = workloads.drain_cycles(seed)
        c = 0
        while c < (2 if trace else 1) or (
                time.perf_counter() - start < min(seconds, WINDOW_CAP_S)):
            for op in next(cycles):
                k = workloads.LOG_DRAINS.index(op.kind)
                recs.append(runner.run(op, len(recs),
                                       trace and (c + k) % 2 == 0))
                recs[-1]["cycle"] = c
            c += 1
    return recs, time.perf_counter() - start


def oracle_check(recs, workload, sf_dir, value_hash):
    """Set ``rec["ok"]``: the op returned and matched its oracle.  A
    point read has its own oracle query; a registry query's oracle runs
    once per run and checks every op of that query."""
    con = workloads.open_duckdb(sf_dir)
    oracle = (workloads.point_read_oracle if workload == "point_reads"
              else workloads.registry_oracle)
    expected = {}
    try:
        for rec in recs:
            rec["ok"] = False
            if rec["error"] is not None:
                continue
            op = workloads.Op(rec["kind"], rec["params"])
            if op not in expected:
                sql, params = oracle(op)
                res = con.execute(sql, params)
                cols = [d[0] for d in res.description]
                rows = res.fetchall()
                expected[op] = (sorted(cols), len(rows), value_hash(cols, rows))
            got = (rec["cols"], rec["rows"], rec["digest"])
            rec["ok"] = got == expected[op]
            if not rec["ok"]:
                rec["error"] = (f"oracle mismatch: {got[:2]} vs "
                                f"{expected[op][:2]}")
    finally:
        con.close()


def unit_latencies(recs):
    """Seconds per unit of work: per op on ``point_reads``, per whole
    cycle on ``log_drains`` (whose records carry their cycle).  A
    failed op counts as ``OP_TIMEOUT_S``."""
    units: dict = {}
    for r in recs:
        key = r.get("cycle", r["id"])
        units[key] = units.get(key, 0.0) + (
            r["latency"] if r["ok"] else OP_TIMEOUT_S)
    return list(units.values())


def end_to_end(recs, window_s, setup_s, mem):
    lat = unit_latencies(recs)
    return {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (sum(r["ok_run"] for r in recs) / window_s, "1/s"),
        "lat_p50_s": (float(np.quantile(lat, 0.5)), "s"),
        "lat_p90_s": (float(np.quantile(lat, 0.9)), "s"),
        "mem_p90_mb": (float(np.quantile(mem, 0.9)), "MB"),
        "ok_share": (sum(r["ok"] for r in recs) / len(recs), "share"),
    }


def shutdown(spark):
    """Stop the session and the JVM this process launched, and wait
    for it (its Python workers exit with it)."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is None:
        return
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def main(argv=None) -> int:
    args = parse_args(argv)
    # turn SIGTERM into SystemExit, so the session and work dir are
    # cleaned up on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "nosql_join_stream_spark")):
        print(f"perfbench: no nosql_join_stream_spark package in {ROOT}",
              file=sys.stderr)
        return 2
    os.chdir(ROOT)  # executors import the package from the cwd
    os.environ["TZ"] = "UTC"
    time.tzset()
    check = load_check_correctness()

    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    dirs = {k: os.path.join(work, k)
            for k in ("data", "tmp", "ckpt", "local", "events")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ.update(TMPDIR=dirs["tmp"], NSJS_STREAM_CKPT_DIR=dirs["ckpt"],
                      SPARK_LOCAL_DIRS=dirs["local"],
                      SPARK_GRAFT_DRIVER_MEM=JVM_HEAP)
    sf = args.sf if args.sf is not None else SCALE[args.workload]
    # in a child process, so the generator's memory is not counted as
    # the program's
    sf_dir = subprocess.run(
        [sys.executable, datagen.__file__, dirs["data"], str(args.seed),
         str(sf)], check=True, capture_output=True, text=True).stdout.strip()

    conf = {"spark.ui.showConsoleProgress": "false",
            # a fixed-size, pre-touched heap: its PSS is a constant the
            # memory metric swaps for the live heap, instead of growing
            # with every fresh heap region G1 touches during the window
            "spark.driver.extraJavaOptions":
                f"-Xms{JVM_HEAP} -XX:+AlwaysPreTouch "
                f"-Djava.io.tmpdir={dirs['tmp']}"}
    if args.trace:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": dirs["events"],
                     "spark.eventLog.compress": "false"})
    tracer = tracing.Tracer()
    spark = None
    try:
        # -- set-up: import, session, catalog, cold pass -------------------
        t0 = time.perf_counter()
        sys.path.insert(0, ROOT)
        from nosql_join_stream_spark.session import get_session
        if args.trace:
            tracing.install(tracer)
        spark = get_session("perfbench", cpus=len(os.sched_getaffinity(0)),
                            extra_conf=conf)
        session_s = time.perf_counter() - t0
        listener = tracing.progress_listener(spark) if args.trace else None
        runner = Runner(spark, args.workload, sf_dir, tracer, check.value_hash)
        tracer.enabled = bool(args.trace)  # cold loads count as cache misses
        runner.load_catalog()
        cold, warm = cold_and_warm_ops(args.workload, args.seed, sf)
        for op in cold:
            runner.run(op, None)
        setup_s = time.perf_counter() - t0
        if warm is not None:
            t_warm = time.perf_counter()
            while time.perf_counter() - t_warm < POINT_WARMUP_S:
                runner.run(next(warm), None)

        # -- timed window ---------------------------------------------------
        gc0 = tracing.gc_ms(spark) if args.trace else 0
        sampler = procmem.PssSampler()
        sampler.start()
        recs, window_s = measure(runner, args.workload, args.seed, sf,
                                 args.seconds, bool(args.trace))
        pss = sampler.stop()
        if args.trace:
            gc_delta = tracing.gc_ms(spark) - gc0
        else:
            # the heap is pre-touched, so PSS holds all of it: count its
            # live part instead (after a full GC, outside the window)
            live_mb, committed_mb = procmem.java_heap_mb(spark)
            mem = [p - committed_mb + live_mb for p in pss]
            print(f"perfbench: heap live={live_mb:.0f}MB "
                  f"committed={committed_mb:.0f}MB", file=sys.stderr)
        oracle_check(recs, args.workload, sf_dir, check.value_hash)
        attempted = len(recs)
        failed = sum(not r["ok"] for r in recs)
        for r in recs:
            if not r["ok"]:
                print(f"perfbench: op {r['id']} {r['kind']} failed: "
                      f"{r['error']}", file=sys.stderr)
        print(f"perfbench: {args.workload} seed={args.seed} ops={attempted} "
              f"window={window_s:.2f}s setup={setup_s:.2f}s "
              f"pss_samples={len(pss)}", file=sys.stderr)

        if args.trace:
            sink_tables = sum(1 for t in spark.catalog.listTables()
                              if t.isTemporary)
            ckpt_mb = tracing.dir_mb(dirs["ckpt"]) + tracing.dir_mb(dirs["tmp"])
            groups = [f"pb{r['id']}:exec" for r in recs if r["traced"]]
            counts = tracing.group_counts(spark, groups)
            time.sleep(1.0)  # let the listener bus deliver the last progress
            batches = list(listener.batches)
        shutdown(spark)
        spark = None

        if args.trace:
            jobs, stages = tracing.read_event_log(dirs["events"])
            layer = tracing.layer_metrics(
                tracer, recs, session_s=session_s, counts=counts, jobs=jobs,
                stages=stages, batches=batches, sink_tables=sink_tables,
                ckpt_mb=ckpt_mb, gc_delta_ms=gc_delta)
            metrics = {name: {"value": layer[name], "unit": unit}
                       for name, unit in tracing.PER_LAYER}
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            tracer.dump(os.path.join(
                out, f"spans_{args.workload}_seed{args.seed}.json"))
        else:
            metrics = {name: {"value": v, "unit": u} for name, (v, u) in
                       end_to_end(recs, window_s, setup_s, mem).items()}
    finally:
        if spark is not None:
            shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # unless another run uses it
        except OSError:
            pass

    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
