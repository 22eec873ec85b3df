"""The build-once contract of ``session.build_once`` and the users
that keep state (sinks, frames, artifacts): concurrent callers of one
key share a single build, and a build that fails leaves nothing
behind that a later call could mistake for built state."""

from __future__ import annotations

import os
import shutil
import threading
import time
import uuid

import pytest

from data_pipeline_2025_spark import registry, session
from data_pipeline_2025_spark.streaming import txn

from .oracle import compare

THREADS = 8


def _race(fn):
    """Run ``fn`` on THREADS threads released together; their results."""
    start = threading.Barrier(THREADS)
    results: list = [None] * THREADS
    errors: list[BaseException] = []

    def run(i: int) -> None:
        start.wait()
        try:
            results[i] = fn()
        except BaseException as exc:  # re-raised below
            errors.append(exc)

    threads = [threading.Thread(target=run, args=(i,)) for i in range(THREADS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    return results


def _slow_counted(calls: list, value=None):
    """A build that records each run and stays in flight long enough
    for every racing thread to arrive while it runs."""

    def build(*args):
        calls.append(args)
        time.sleep(0.3)
        return value

    return build


def test_session_sink_builds_once_under_concurrency(spark):
    calls: list = []
    tag = f"race_{uuid.uuid4().hex[:6]}"

    def build(path: str) -> int:
        calls.append(path)
        time.sleep(0.3)  # every racing thread arrives mid-build
        open(os.path.join(path, "part"), "w").close()
        return len(calls)

    results = _race(lambda: session.session_sink(spark, tag, "/sf", build))
    assert len(calls) == 1
    assert len(set(results)) == 1
    path, observed = results[0]
    assert observed == 1
    assert os.listdir(path) == ["part"]


def test_session_frame_builds_once_under_concurrency(spark):
    calls: list = []
    kind = f"race_{uuid.uuid4().hex[:6]}"
    frame = spark.range(10)
    build = _slow_counted(calls, frame)
    results = _race(lambda: session.session_frame(kind, spark, "/sf", build))
    assert len(calls) == 1
    assert all(df is results[0] for df in results)
    assert results[0].count() == 10
    results[0].unpersist()


def test_artifact_once_builds_once_under_concurrency(tmp_path):
    calls: list = []
    path = str(tmp_path / "artifact")
    results = _race(lambda: session.artifact_once(path, _slow_counted(calls)))
    assert len(calls) == 1
    assert results == [path] * THREADS


def test_failed_build_is_not_recorded(spark):
    tag = f"fail_{uuid.uuid4().hex[:6]}"
    seen: list[str] = []

    def broken(path: str) -> None:
        seen.append(path)
        open(os.path.join(path, "half"), "w").close()
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        session.session_sink(spark, tag, "/sf", broken)
    assert not os.path.exists(seen[0])
    path, _ = session.session_sink(spark, tag, "/sf", lambda p: None)
    assert path != seen[0] and os.listdir(path) == []


def test_sink_build_failing_after_a_commit_is_rebuilt(
    spark, sf_smoke, tmp_path, monkeypatch
):
    """q162's build commits one version and then fails. Nothing may be
    recorded and the half-built sink must be gone, so the next call
    rebuilds a full sink and answers like the oracle."""
    spec = registry.load_all()["q162_snapshot_time_travel"]
    sf_dir = str(tmp_path / "sf")  # a new sf_dir: a key no other test built
    shutil.copytree(sf_smoke, sf_dir)
    key = ("sink", spark.sparkContext.applicationId, "tt_q162", sf_dir)
    commit_append = txn.commit_append
    sinks: list[str] = []

    def commit_then_fail(sink, *args, **kwargs):
        sinks.append(sink)
        commit_append(sink, *args, **kwargs)
        raise OSError("disk full after the first commit")

    monkeypatch.setattr(txn, "commit_append", commit_then_fail)
    with pytest.raises(OSError):
        spec.spark_fn(spark, sf_dir)
    monkeypatch.undo()

    assert key not in session._BUILT
    assert len(sinks) == 1 and not os.path.exists(sinks[0])
    assert compare(spec, spark, sf_dir) == []
    sink, _ = session._BUILT[key]
    assert sink != sinks[0]
    assert len(txn.versions(sink)) == 2
