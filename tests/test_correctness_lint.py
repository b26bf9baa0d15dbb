"""Negative fixtures for the correctness gate's type-class lint.

Round 3 shipped three oracles whose values stringified identically to
the Spark result but whose DuckDB output TYPE was HUGEINT/DECIMAL —
the driver widens those to float before hashing, so all three failed
the driver while the local gate passed them.  Round 4 closed that gap
with a DESCRIBE-based type lint in tools/check_correctness.py; these
fixtures feed the lint the same failure class (uncast ``SUM()``,
DECIMAL literals, float-vs-int class drift) and assert it REJECTS
them, so a regression in the lint itself gets caught instead of
resurfacing as a driver-only hash failure two rounds later.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.check_correctness import type_lint  # noqa: E402


def _describe(sql: str):
    return duckdb.connect().execute(f"DESCRIBE {sql}").fetchall()


def test_lint_rejects_uncast_sum():
    # SUM(INTEGER/BIGINT) is HUGEINT in DuckDB — the exact r3 failure
    # class: the driver widens it to float while Spark ships BIGINT
    desc = _describe("SELECT SUM(v) AS s FROM (VALUES (1), (2)) t(v)")
    problems = type_lint({"s": "bigint"}, desc)
    assert len(problems) == 1 and "HUGEINT" in problems[0]
    assert "CAST" in problems[0]  # the message tells the fix


def test_lint_rejects_decimal_output():
    # DECIMAL divides the driver and Spark the same way HUGEINT does
    desc = _describe("SELECT CAST(1.5 AS DECIMAL(10, 2)) AS d")
    problems = type_lint({"d": "double"}, desc)
    assert len(problems) == 1 and "DECIMAL" in problems[0]


def test_lint_rejects_float_vs_int_class_drift():
    # even without DECIMAL, an oracle emitting DOUBLE where Spark
    # emits BIGINT stringifies '1.0' vs '1' — a guaranteed driver
    # hash divergence the value comparator alone can normalize away
    desc = _describe("SELECT 1.0::DOUBLE AS n")
    problems = type_lint({"n": "bigint"}, desc)
    assert len(problems) == 1 and "type-class mismatch" in problems[0]


def test_lint_passes_cast_sum_and_matching_classes():
    # the post-fix r3 form: explicit CAST restores BIGINT, and aligned
    # classes (int/float/str/ts) pass clean
    desc = _describe(
        "SELECT CAST(SUM(v) AS BIGINT) AS s, AVG(v) AS a, 'x' AS l, "
        "TIMESTAMP '2020-01-01 00:00:00' AS t "
        "FROM (VALUES (1), (2)) t(v)")
    assert type_lint(
        {"s": "bigint", "a": "double", "l": "string",
         "t": "timestamp"}, desc) == []


def test_lint_ignores_column_name_mismatch():
    # a column the Spark result doesn't carry is the column-set
    # comparator's job, not the lint's — no duplicate reporting
    desc = _describe("SELECT 1::BIGINT AS only_in_oracle")
    assert type_lint({"other": "bigint"}, desc) == []


@pytest.mark.parametrize("sql,spark_t", [
    # r3's three failing oracle shapes, pre-fix (representative
    # reductions: the real ones aggregated over repo tables)
    ("SELECT SUM(n) AS total_tokens FROM (VALUES (10), (20)) t(n)",
     "bigint"),                                     # materialize_training
    ("SELECT SUM(LEN('abc')) AS n_chars FROM (VALUES (1)) t(v)",
     "bigint"),                                     # paragraph_dedup
    ("SELECT SUM(v) * 1 AS seq_len FROM (VALUES (7)) t(v)",
     "bigint"),                                     # pack_sequences
])
def test_lint_rejects_r3_failure_shapes(sql, spark_t):
    desc = _describe(sql)
    cols = {desc[0][0]: spark_t}
    assert type_lint(cols, desc), f"lint must reject: {sql}"


def test_bench_compact_line_fits_driver_tail():
    """The driver keeps only ~2000 chars of bench stdout; the compact
    final line must fit with margin even if the slowest queries are
    the LONGEST-named ones and the anchor carries every anchor
    and pipeline query (BENCH_r{1,2,3} were lost to an overflowing
    tail — this guard keeps the regression dead).  The line is built
    by bench.py's own ``compact_summary`` from a worst-case full dict."""
    import json

    from bench import SLOWEST_N, compact_summary
    from nosql_join_stream_spark.queries import REGISTRY
    from tools.bench_anchor import ANCHOR_QUERIES, PIPELINE_ANCHOR_QUERIES

    # longest names get the largest walls, so they are the slowest
    timings = {n: round(9999.9999 - i, 4) for i, n in
               enumerate(sorted(REGISTRY, key=len, reverse=True))}
    per = {n: {"spark_s": 9999.9999, "duck_s": 9999.9999,
               "ratio": 9999.999, "ok": False} for n in ANCHOR_QUERIES}
    pipe = {n: {"spark_s": 9999.9999, "duck_s": 9999.9999, "duck_reps": 3,
                "ratio": 9999.999, "ok": False, "note": note}
            for n, note in PIPELINE_ANCHOR_QUERIES.items()}
    out = {
        "metric": "registry_total_wall",
        "value": 99999.9999,
        "unit": "sec",
        "queries": timings,
        "queries_cold": dict(timings),
        "queries_warm": dict(timings),
        "queries_loaded": dict(timings),
        "standing_build": dict(timings),
        "standing_build_total": 9999.9999,
        "sf": 0.001,
        "cold_total": 99999.9999,
        "loaded_total": 99999.9999,
        "groups": {g: 9999.9999 for g in
                   ("sketch", "stream", "dedup", "text", "embedding",
                    "multimodal", "relational")},
        "n_queries": len(REGISTRY),
        "anchor": {"queries": per, "median_ratio": 9999.999,
                   "max_ratio": 9999.999, "ok": False, "reps": 7,
                   "target": 2.0, "pipeline": pipe,
                   "pipeline_median_ratio": 9999.999,
                   "pipeline_max_ratio": 9999.999},
    }
    compact = compact_summary(out, "BENCH_full_sf0.001_c32.json")
    assert compact["queries"] == {n: timings[n] for n in
                                  sorted(REGISTRY, key=len, reverse=True)[:SLOWEST_N]}
    assert compact["anchor"]["pipeline_max_ratio"] == 9999.999
    line = json.dumps(compact)
    assert len(line) < 1900, len(line)
