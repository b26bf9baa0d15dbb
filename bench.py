"""Benchmark harness — runs every registry query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

Each query is fully materialized JVM-side via the noop sink (no
driver-side collect, no Python row serde) so we time the real plan:
scan → filter/join/agg → project.

Three timed passes, explicitly labeled (r10 VERDICT lead #3 — cold
numbers leaking into the headline read as an 8× phantom regression):

- COLD   (``queries_cold``): first run of each query.  Includes plan/
  codegen compilation, Python-worker spin-up, and — for the standing-
  artifact queries — the ONE-TIME index/label/snapshot
  materialization that repeat invocations never pay.
- WARM:  second run, immediately after, same loop iteration.
- LOADED (``queries_loaded``): one more run of every query AFTER the
  whole registry has executed, when JIT/codegen warm-up is at its
  deepest (scale-probe r22 protocol).  Compare THESE numbers round
  over round.

The headline ``queries``/``value`` report steady state =
min(warm, loaded).  ``standing_build`` is its own line item: for the
queries whose cold run built a standing artifact — the ones that
appended to ``sinks.STANDING_BUILT`` through ``sinks.standing`` —
cold − warm is exactly that one-time materialization (plus that
query's share of codegen warm-up — labeled, not hidden in a
per-query number).  The set is measured, not hand-kept.

The driver keeps only a ~2000-char tail of stdout, so the full
207-query dicts can never ride the final line (BENCH_r{1,2,3}.json
all recorded parsed=null from an overflowing tail).  The FULL
artifact — cold/warm/loaded for ALL queries — is therefore written to
``BENCH_full.json`` at the repo root (committed per round; git
history keeps the round-over-round record), and the final stdout line
is a compact summary (``compact_summary``) carrying totals, group
subtotals, the 8 slowest queries (cold AND loaded), the standing-build
line item, the anchor's scalar ratios, and a ``full_artifact``
pointer; the per-query anchor rides the full first line and the
artifact.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# The committed BENCH_full.json is the round-over-round record for the
# CANONICAL config only (sf0.1, 32 cores).  Any other invocation — a
# smoke at sf0.001, the driver's 8-core scaling run — stamps its config
# into the filename instead of clobbering the committed closing
# artifact (r15: the driver's c8 run overwrote it in the working tree).
_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
_CANONICAL = (os.path.basename(os.path.normpath(SF_DIR)) == "sf0.1"
              and _CPUS.strip().isdigit() and int(_CPUS) == 32)
_SUFFIX = "" if _CANONICAL else \
    f"_{os.path.basename(os.path.normpath(SF_DIR))}_c{_CPUS}"
FULL_ARTIFACT = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             f"BENCH_full{_SUFFIX}.json")


def main():
    from nosql_join_stream_spark import sinks
    from nosql_join_stream_spark.session import get_session
    from nosql_join_stream_spark.queries import REGISTRY

    spark = get_session("bench")
    # warm the JVM + parquet footers once with the flagship query
    REGISTRY["join_fk_inner"].fn(spark, SF_DIR).write.format("noop") \
        .mode("overwrite").save()

    cold: dict[str, float] = {}
    warm: dict[str, float] = {}
    standing: set[str] = set()
    for name, qd in REGISTRY.items():
        n_built = len(sinks.STANDING_BUILT)
        t0 = time.perf_counter()
        qd.fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        cold[name] = round(time.perf_counter() - t0, 4)
        if len(sinks.STANDING_BUILT) > n_built:
            standing.add(name)
        t0 = time.perf_counter()
        qd.fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        warm[name] = round(time.perf_counter() - t0, 4)

    loaded: dict[str, float] = {}
    for name, qd in REGISTRY.items():
        t0 = time.perf_counter()
        qd.fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        loaded[name] = round(time.perf_counter() - t0, 4)

    # External perf anchor (r12 VERDICT lead #3): execution-only
    # Spark-vs-DuckDB medians on the headline TPC-H shapes, embedded so
    # every BENCH_r{N}.json machine-checks the BASELINE.md 2x target.
    from tools.bench_anchor import run_anchor
    anchor = run_anchor(spark, SF_DIR)

    timings = {n: round(min(warm[n], loaded[n]), 4) for n in cold}
    standing_build = {n: round(max(cold[n] - warm[n], 0.0), 4)
                      for n in sorted(standing)}

    m = re.search(r"sf([0-9.]+)", SF_DIR)
    sf = float(m.group(1).rstrip(".")) if m else None
    groups: dict[str, float] = {}
    for name, t in timings.items():
        fam = ("sketch" if name.startswith(("sketch_", "drift_")) else
               "stream" if name.startswith("stream_") else
               "dedup" if name.startswith(("dedup_", "pipeline_")) else
               "text" if name.startswith(("text_", "token_", "corpus_",
                                          "doc_", "quality_", "sample_",
                                          "decontaminate_", "retrieval_",
                                          "contamination_", "mine_",
                                          "web_")) else
               "embedding" if name.startswith(("ann_", "embedding_",
                                               "cluster_", "hybrid_")) else
               "multimodal" if name.startswith("multimodal_") else
               "relational")
        groups[fam] = round(groups.get(fam, 0.0) + t, 4)
    out = {
        "metric": "registry_total_wall",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "queries_cold": cold,
        "queries_warm": warm,
        "queries_loaded": loaded,
        "standing_build": standing_build,
        "standing_build_total": round(sum(standing_build.values()), 4),
        "sf": sf,
        "cold_total": round(sum(cold.values()), 4),
        "loaded_total": round(sum(loaded.values()), 4),
        "groups": groups,
        "n_queries": len(timings),
        "anchor": anchor,
    }
    with open(FULL_ARTIFACT, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    # Full per-query JSON first (local archaeology / diffing), then the
    # COMPACT summary as the FINAL stdout line (driver tail budget).
    print(json.dumps(out))
    print(json.dumps(compact_summary(out, os.path.basename(FULL_ARTIFACT))))


#: how many of the slowest queries the compact line names: with 10 of
#: the longest names at worst-case walls, the line reached ~1990 chars
SLOWEST_N = 8
#: the anchor's scalars; its per-query dicts stay in the full artifact
ANCHOR_SCALARS = ("median_ratio", "max_ratio", "ok", "reps", "target",
                  "pipeline_median_ratio", "pipeline_max_ratio")


def compact_summary(out: dict, full_artifact: str) -> dict:
    """The final stdout line: totals, group subtotals, the SLOWEST_N
    queries (cold AND loaded), the standing-build total, the anchor's
    scalars and a pointer to the full artifact — small enough for a
    ~2000-char stdout tail whatever the query names or anchor set."""
    timings = out["queries"]
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:SLOWEST_N])
    return {
        "metric": out["metric"],
        "value": out["value"],
        "unit": out["unit"],
        "queries": slowest,
        "queries_truncated_to_slowest": SLOWEST_N,
        "queries_cold": {n: out["queries_cold"][n] for n in slowest},
        "queries_loaded": {n: out["queries_loaded"][n] for n in slowest},
        "standing_build_total": out["standing_build_total"],
        "full_artifact": full_artifact,
        "sf": out["sf"],
        "cold_total": out["cold_total"],
        "loaded_total": out["loaded_total"],
        "groups": out["groups"],
        "n_queries": out["n_queries"],
        "anchor": {k: out["anchor"][k] for k in ANCHOR_SCALARS
                   if k in out["anchor"]},
    }


if __name__ == "__main__":
    main()
