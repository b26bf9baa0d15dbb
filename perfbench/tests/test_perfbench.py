"""Self-tests of the benchmark (not part of the package's test suite).

    python3 -m pytest perfbench/tests -q

The smoke runs start a Spark session each (about a minute apiece).
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import datagen  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def first_ops(workload, seed, count):
    """The first ``count`` ops a run of ``workload`` issues."""
    if workload == "point_reads":
        stream = workloads.point_read_ops(seed)
    else:
        stream = itertools.chain.from_iterable(workloads.drain_cycles(seed))
    return list(itertools.islice(stream, count))


@pytest.mark.parametrize("workload", ["point_reads", "log_drains"])
def test_same_seed_same_ops(workload):
    a = first_ops(workload, 7, 60)
    assert a == first_ops(workload, 7, 60)
    assert a != first_ops(workload, 8, 60)


@pytest.mark.parametrize("workload, block", [
    ("point_reads", workloads.POINT_KINDS),
    ("log_drains", workloads.LOG_DRAINS)])
def test_every_block_holds_each_kind_once(workload, block):
    ops = first_ops(workload, 3, 4 * len(block))
    for i in range(0, len(ops), len(block)):
        assert sorted(op.kind for op in ops[i:i + len(block)]) == sorted(block)


def test_same_seed_same_tables():
    a, b = datagen.make_tables(5, 0.001), datagen.make_tables(5, 0.001)
    c = datagen.make_tables(6, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["events"].equals(c["events"])
    assert not a["documents"].equals(c["documents"])


def test_spec_names_the_workloads():
    assert [w["name"] for w in SPEC["workloads"]] == ["point_reads",
                                                      "log_drains"]


def _run(args, cwd=ROOT, timeout=300):
    return subprocess.run([sys.executable, "perfbench/run.py", *args],
                          cwd=cwd, capture_output=True, text=True,
                          timeout=timeout)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["point_reads", "log_drains"])
def test_smoke_prints_every_metric(workload, trace):
    p = _run(["--workload", workload, "--seed", "1", "--seconds", "1",
              "--trace", str(trace), "--sf", "0.001"])
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = SPEC["per_layer" if trace else "end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in want}
    for m in want:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)
        if not trace:
            assert got["value"] > 0, m["name"]


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(["--workload", "point_reads", "--seed", "1", "--seconds", "1",
              "--trace", "0"], cwd=tmp_path, timeout=60)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
