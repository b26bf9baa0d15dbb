"""``sinks.standing`` — the build-once gate every standing artifact
goes through.  Pure Python: ``build`` writes plain files, no Spark.
Reuse through the registry is covered by
test_drift_psi_standing_query_reuses_baseline and
test_late_data_quarantine_routes_and_replays."""

from __future__ import annotations

import os

import pytest

from nosql_join_stream_spark import sinks


def _writer(loc, calls):
    def build():
        calls.append(loc)
        os.makedirs(loc, exist_ok=True)
        open(os.path.join(loc, "part-0.parquet"), "w").close()
    return build


def test_standing_builds_once_and_marks(tmp_path):
    loc, calls = str(tmp_path / "idx"), []
    n_built = len(sinks.STANDING_BUILT)
    assert sinks.standing(loc, _writer(loc, calls)) is True
    assert os.path.exists(os.path.join(loc, "_STANDING"))
    assert sinks.standing(loc, _writer(loc, calls)) is False
    assert calls == [loc]
    assert sinks.STANDING_BUILT[n_built:] == [loc]


def test_standing_refuses_unmarked_files(tmp_path):
    loc, calls = tmp_path / "idx", []
    loc.mkdir()
    (loc / "part-0.parquet").write_text("")
    with pytest.raises(RuntimeError, match=str(loc)):
        sinks.standing(str(loc), _writer(str(loc), calls))
    assert calls == []


def test_standing_failed_build_is_never_served(tmp_path):
    loc, calls = str(tmp_path / "idx"), []

    def half_write():
        _writer(loc, calls)()
        raise OSError("disk full")

    with pytest.raises(OSError):
        sinks.standing(loc, half_write)
    assert not os.path.exists(os.path.join(loc, "_STANDING"))
    with pytest.raises(RuntimeError, match="half-written"):
        sinks.standing(loc, _writer(loc, calls))
    assert calls == [loc]


def test_default_locations_carry_the_run_token():
    """A default standing location is an ``artifact_dir``: keyed on the
    interpreter's run token (pids recycle) and removed at exit."""
    loc = sinks.artifact_dir("nsjs_index", "default")
    assert sinks._RUN_TOKEN in os.path.basename(loc)
    assert loc in sinks._ARTIFACT_DIRS
