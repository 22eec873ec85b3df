"""Spans around calls into the engine's layers, recorded from the
benchmark's own files.

Tracing wraps module attributes (``server.get_history``,
``txn.commit_append``, ...) and DataFrame materialization methods at
run time; nothing in the package changes. Spans carry epoch-second
start/end times so they line up with Spark's event log, the span
that was open on the same thread when they began (their parent), and
the request or query id they belong to (ingest rounds run in Spark's
streaming callback thread and are told apart by time and job group).
They are kept in memory and written out once, when the run ends.

The tracer also times its own bookkeeping (opening and closing spans,
tagging job groups), which is what tracing adds to the traced calls;
``own_s`` is that total, summed over threads. Spark's event-log
writer is not in it: it runs on the listener bus's own thread.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager
from typing import Any, Callable

# DataFrame methods whose calls force or pin a computation.
CHECKPOINT_METHODS = ("localCheckpoint", "checkpoint", "cache", "persist")
EAGER_METHODS = ("count", "collect", "toPandas")


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict[str, Any]] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[Any, str, Any]] = []
        self._next_id = 0
        # > 0 while a query function (not the caller's final collect)
        # runs; eager actions only count inside it.
        self.in_query = 0
        self.own_s = 0.0

    # -- spans -----------------------------------------------------
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @property
    def rid(self) -> str | None:
        return getattr(self._local, "rid", None)

    @rid.setter
    def rid(self, value: str | None) -> None:
        self._local.rid = value

    def _charge(self, since: float) -> None:
        spent = time.perf_counter() - since
        with self._lock:
            self.own_s += spent

    def job_group(self, sc: Any, group: str, description: str) -> None:
        """Tag the Spark jobs this thread submits next."""
        t0 = time.perf_counter()
        sc.setJobGroup(group, description)
        self._charge(t0)

    @contextmanager
    def span(self, name: str, **attrs: Any):
        t0 = time.perf_counter()
        stack = self._stack()
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        rec = {
            "id": sid,
            "name": name,
            "parent": stack[-1] if stack else None,
            "rid": self.rid,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        stack.append(sid)
        self._charge(t0)
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            stack.pop()
            rec["end"] = time.time()
            with self._lock:
                self.spans.append(rec)
            self._charge(t1)

    def named(self, prefix: str) -> list[dict[str, Any]]:
        return [s for s in self.spans if s["name"].startswith(prefix)]

    def total_s(self, prefix: str) -> float:
        return sum(s["end"] - s["start"] for s in self.named(prefix))

    # -- patching --------------------------------------------------
    def patch(self, owner: Any, attr: str, replacement: Callable) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def wrap(self, owner: Any, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a version that records a span."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        self.patch(owner, attr, traced)

    def wrap_materialization(self) -> None:
        """Count and time checkpoints/caches anywhere, and eager
        actions fired while a query function runs. Only the outermost
        such call on a thread counts (collect inside toPandas is one)."""
        from pyspark.sql.classic.dataframe import DataFrame

        def make(method: str, kind: str):
            fn = getattr(DataFrame, method)

            @functools.wraps(fn)
            def traced(df, *args, **kwargs):
                local = self._local
                if getattr(local, "materializing", False) or (
                    kind == "eager" and self.in_query <= 0
                ):
                    return fn(df, *args, **kwargs)
                local.materializing = True
                try:
                    with self.span(f"materialize.{kind}", method=method):
                        return fn(df, *args, **kwargs)
                finally:
                    local.materializing = False

            return traced

        for m in CHECKPOINT_METHODS:
            self.patch(DataFrame, m, make(m, "checkpoint"))
        for m in EAGER_METHODS:
            self.patch(DataFrame, m, make(m, "eager"))

    def restore(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s, default=str) + "\n")


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Length covered by the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
