"""The standing-store seam (``stores.py``): the only module that says where
a persisted intermediate lives, when it counts as built, and how an
in-query intermediate is materialized. A ``SimpleNamespace`` stands in for
the session, so only the ``materialize`` test starts Spark."""

import os
import re
import tempfile
from pathlib import Path
from types import SimpleNamespace

import pytest

from etl_entregas_pyspark_spark import stores

PACKAGE = Path(__file__).resolve().parent.parent / "etl_entregas_pyspark_spark"
SEAM_ONLY = ("gettempdir(", ".applicationId", '"_SUCCESS"', "localCheckpoint(")


@pytest.fixture
def session(tmp_path, monkeypatch):
    """A fake Spark session whose stores land under ``tmp_path``,
    registered in a set of their own so the exit handler under test
    touches no store another test built."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(stores, "_PATHS", set())
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId="local-1729"))


class Build:
    """A ``build`` callable that records its calls and can fail once."""

    def __init__(self, fail: bool = False):
        self.calls = 0
        self.fail = fail

    def __call__(self, path: str) -> None:
        self.calls += 1
        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, "part-0"), "w") as f:
            f.write(str(self.calls))
        if self.fail:
            self.fail = False
            raise RuntimeError("build interrupted")


def test_path_format_is_pinned(session):
    got = stores.path(session, "/data/sf0.1/", "ivf_index")
    assert got == os.path.join(
        tempfile.gettempdir(), "ivf_index_local_1729__data_sf0_1"
    )


def test_two_sf_dirs_give_two_paths(session):
    a = stores.path(session, "/data/sf0.01", "lsh_sig_store")
    b = stores.path(session, "/data/sf0.1", "lsh_sig_store")
    assert a != b


def test_repeat_ensure_does_not_build(session):
    build = Build()
    first = stores.ensure(session, "/data/sf0.1", "ivf_store", build)
    again = stores.ensure(session, "/data/sf0.1", "ivf_store", build)
    assert first == again
    assert build.calls == 1
    assert stores.BUILDS[first] == 1
    assert os.path.exists(os.path.join(first, stores.MARKER))


def test_failed_build_leaves_no_marker_and_next_call_builds(session):
    build = Build(fail=True)
    with pytest.raises(RuntimeError):
        stores.ensure(session, "/data/sf0.1", "replay_disorder7", build)
    root = stores.path(session, "/data/sf0.1", "replay_disorder7")
    assert not os.path.exists(os.path.join(root, stores.MARKER))
    assert stores.BUILDS[root] == 0
    assert stores.ensure(session, "/data/sf0.1", "replay_disorder7", build) == root
    assert build.calls == 2
    assert os.path.exists(os.path.join(root, stores.MARKER))
    assert stores.BUILDS[root] == 1


def test_force_drops_the_marker_first_and_builds_again(session):
    seen = []

    def build(path: str) -> None:
        seen.append(os.path.exists(os.path.join(path, stores.MARKER)))
        os.makedirs(path, exist_ok=True)

    root = stores.ensure(session, "/data/sf0.1", "ivf_index", build)
    before = stores.BUILDS[root]
    assert stores.ensure(session, "/data/sf0.1", "ivf_index", build, force=True) == root
    assert seen == [False, False]  # the forced build never sees the old marker
    assert stores.BUILDS[root] == before + 1
    assert os.path.exists(os.path.join(root, stores.MARKER))


def test_exit_handler_removes_every_store(session):
    root = stores.path(session, "/data/sf0.1", "q150_bucketed_docs")
    os.makedirs(os.path.join(root, "bucket=0"))
    built = stores.ensure(session, "/data/sf0.1", "replay_disorder5", Build())
    stores.remove_all()
    assert not os.path.exists(root)
    assert not os.path.exists(built)


def test_only_the_seam_places_and_gates_stores():
    offenders = [
        f"{path.relative_to(PACKAGE)}:{n}"
        for path in sorted(PACKAGE.rglob("*.py"))
        if path != PACKAGE / "stores.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if any(token in line for token in SEAM_ONLY)
        or re.match(r"\s*\w*_BUILDS\b\s*[:=]", line)
    ]
    assert offenders == []


def test_materialize_tags_its_job_and_restores_the_threads_tags(spark):
    sc = spark.sparkContext
    tracker = sc._jsc.sc().statusTracker()
    df = spark.range(10).selectExpr("id", "id * 2 AS v")
    sc.addJobTag("caller")
    try:
        out = stores.materialize(df, "test: two consumers")
        assert set(sc.getJobTags()) == {"caller"}
        with pytest.raises(Exception, match="boom"):
            stores.materialize(
                spark.range(1).selectExpr("raise_error('boom') AS x"), "test: raises"
            )
        assert set(sc.getJobTags()) == {"caller"}
    finally:
        sc.removeJobTag("caller")
    assert sorted(out.collect()) == sorted(df.collect())
    assert "Scan ExistingRDD" in out._jdf.queryExecution().executedPlan().toString()
    assert len(tracker.getJobIdsForTag("materialize:test: two consumers")) == 1
    assert len(tracker.getJobIdsForTag("materialize:test: raises")) == 1
