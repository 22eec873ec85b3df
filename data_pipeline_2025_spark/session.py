"""SparkSession factory tuned for both local testing and cluster scale.

Defaults are chosen for the driver's local[32] / 128 GiB test box but
every knob is the one you'd set on a 1000-executor cluster too:
AQE on (runtime re-planning, skew-join splitting, partition
coalescing), a generous broadcast threshold so the reference's tiny
dimensions (supermarkets ≈ supplier/nation/region) always broadcast,
and UTC session time so results are reproducible against any oracle.

Also the one home of state the engine builds once and reuses:
``build_once`` and its users ``session_sink``, ``scratch_dir``,
``session_frame`` and ``artifact_once``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# One flag per scale concern — see SURVEY.md §4 / §7.
DEFAULT_CONF: dict[str, str] = {
    # Determinism / oracle parity
    "spark.sql.session.timeZone": "UTC",
    # Shuffle sizing: 32 matches local core count; on a real cluster
    # AQE coalesces from a higher initial number anyway.
    "spark.sql.shuffle.partitions": "32",
    # Adaptive execution: runtime partition coalescing + skew-join
    # splitting + dynamic broadcast — the main 100 TB safety net.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Dimensions up to 64 MiB broadcast instead of shuffling the fact.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Scan granularity: 128 MiB splits keep 100 TB ≈ 800k tasks.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Arrow for any pandas-UDF path (vectors, multimodal stubs).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Quieter local runs; harmless on a cluster.
    "spark.ui.showConsoleProgress": "false",
    # The driver's events.parquet stores ts as TIMESTAMP(NANOS),
    # which Spark refuses by default; read it as long nanos and let
    # the catalog convert to a microsecond timestamp (truncation —
    # same as DuckDB's ns→µs behavior).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def get_spark(
    app_name: str = "data-pipeline-2025-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the singleton SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (``local[*]``
    when unset) so tests, bench.py and the driver all agree.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = builder.master(master)
    conf = dict(DEFAULT_CONF)
    # local[N] runs the whole "cluster" in the driver JVM; the 1g
    # default heap is too small for 32 concurrent tasks. 4g suffices
    # because persisted frames are kept once per kind with eviction
    # (session_frame below), not one copy per query call. Only
    # effective before JVM launch, harmless afterwards.
    conf.setdefault("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "4g"))
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


# ---------------------------------------------------------------
# Build-once state: session sinks, persisted frames, published
# artifacts. Every piece of state the engine builds once and then
# reuses goes through ``build_once``.

import atexit as _atexit
import hashlib as _hashlib
import shutil as _shutil
import tempfile as _tempfile
import threading as _threading
from typing import Any, Callable, Hashable

_BUILT: dict[Hashable, Any] = {}
_LOCKS: dict[Hashable, _threading.Lock] = {}
_LOCKS_GUARD = _threading.Lock()
_DIRS: list[str] = []


def _cleanup_dirs() -> None:
    for path in _DIRS:
        _shutil.rmtree(path, ignore_errors=True)
    _DIRS.clear()


_atexit.register(_cleanup_dirs)


def build_once(key: Hashable, build: Callable[[], Any]) -> Any:
    """Return the value ``build()`` produced for ``key``, running the
    build at most once per key for the life of the interpreter.

    Contract:
    - Lock: each key has its own lock. Concurrent callers of one key
      wait for the single build and all get its value; builds of
      different keys run in parallel (a build may ask for other keys,
      never for its own). Once a key is recorded, reads take no lock.
    - A key is recorded only after its build returns. A build that
      raises leaves the key unrecorded, so the next caller rebuilds;
      a session sink's partly filled directory is removed first
      (``session_sink``), so no reader ever sees a half-built state.
    - Lifetime: until interpreter exit (``session_frame`` drops a
      frame early when it evicts it). Session-scoped keys carry
      ``sparkContext.applicationId``, not ``id(spark)``: after a
      stopped session is garbage-collected CPython can hand its id to
      a new session, which would inherit the dead session's state."""
    try:
        return _BUILT[key]
    except KeyError:
        pass
    with _LOCKS_GUARD:
        lock = _LOCKS.setdefault(key, _threading.Lock())
    with lock:
        if key not in _BUILT:
            _BUILT[key] = build()
        return _BUILT[key]


def _new_dir(tag: str, sf_dir: str) -> str:
    digest = _hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = _tempfile.mkdtemp(prefix=f"spark_graft_{tag}_{digest}_")
    _DIRS.append(path)
    return path


def session_sink(
    spark: SparkSession, tag: str, sf_dir: str, build: Callable[[str], Any]
) -> tuple[str, Any]:
    """``(path, observed)`` for a session-scoped directory filled once
    per (session, tag, sf_dir) by ``build(path)``; ``observed`` is
    what that build returned, handed to every later caller too. The
    directory is deleted at interpreter exit, or at once if the build
    raises."""

    def fill() -> tuple[str, Any]:
        path = _new_dir(tag, sf_dir)
        try:
            return path, build(path)
        except BaseException:
            _shutil.rmtree(path, ignore_errors=True)
            raise

    key = ("sink", spark.sparkContext.applicationId, tag, sf_dir)
    return build_once(key, fill)


def scratch_dir(spark: SparkSession, tag: str, sf_dir: str) -> str:
    """An empty session-scoped directory, emptied again on every call
    — for queries whose build IS the query (a lifecycle replayed from
    nothing), so there is nothing to keep between calls."""
    key = ("scratch", spark.sparkContext.applicationId, tag, sf_dir)
    path = build_once(key, lambda: _new_dir(tag, sf_dir))
    _shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def session_frame(
    kind: str, spark: SparkSession, sf_dir: str, build: Callable[[], DataFrame]
) -> DataFrame:
    """``build()`` persisted once per (kind, session, sf_dir). One
    frame per kind is kept: building it for a new session or sf_dir
    unpersists and drops the old one, so a sweep over many sf_dirs
    holds one copy of each intermediate, not one per call."""
    key = ("frame", kind, spark.sparkContext.applicationId, sf_dir)

    def persist() -> DataFrame:
        for old in [k for k in list(_BUILT) if k[:2] == ("frame", kind) and k != key]:
            try:
                _BUILT.pop(old).unpersist()
            except Exception:
                pass  # evicted by another thread, or its session is gone
        return build().persist()

    return build_once(key, persist)


def artifact_once(path: str, build: Callable[[], Any]) -> str:
    """Run ``build()`` (which publishes the artifact at ``path``) once
    per process; always returns ``path``. Once per process, not per
    session: an artifact outlives the session that wrote it, and
    rebuilding it once per process keeps it fresh against its
    sources."""
    build_once(("artifact", path), build)
    return path
