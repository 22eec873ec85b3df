"""Fold Spark's (uncompressed, JSON-lines) event log into per-group
totals.

Every request, query or ingest round runs under its own job group, so
a job's ``spark.jobGroup.id`` property names the unit of work it
belongs to; stages and tasks are attributed through their job.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable

from .common import median
from .trace import union_length

PYTHON_TIME_METRIC = "time to run Python workers"


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_ms: float = 0.0
    gc_ms: float = 0.0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    python_worker_ms: float = 0.0
    job_spans: list[tuple[float, float]] = field(default_factory=list)
    task_skew: float = 1.0  # worst max/median task run time of a stage

    def job_time_s(self, start: float, end: float) -> float:
        """Seconds inside [start, end] (epoch s) covered by a job."""
        clipped = [(max(s, start), min(e, end)) for s, e in self.job_spans]
        return union_length(clipped)


def find_log(log_dir: str) -> list[str]:
    """The event files of the one application logged under ``log_dir``,
    in order. Spark 4 writes a directory ``eventlog_v2_<app>`` of
    rolled ``events_<n>_<app>`` files; older versions one plain file."""
    rolled = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    if rolled:
        return sorted(rolled, key=lambda p: int(os.path.basename(p).split("_")[1]))
    plain = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if not plain:
        raise FileNotFoundError(f"no event log under {log_dir}")
    return [max(plain, key=os.path.getmtime)]


def by_group(group: str | None, submitted_s: float) -> str | None:
    return group


@contextmanager
def _lines(paths: list[str]):
    files = [open(p, encoding="utf-8") for p in paths]
    try:
        yield itertools.chain.from_iterable(files)
    finally:
        for f in files:
            f.close()


def fold(paths: list[str], key: Callable = by_group) -> dict[str | None, GroupStats]:
    """Totals per bucket over the event files ``paths`` (in order),
    where ``key(job_group, submit_epoch_s)`` names a job's bucket (jobs
    outside any group have group None)."""
    job_group: dict[int, str | None] = {}
    stage_job: dict[int, int] = {}
    job_start: dict[int, float] = {}
    stage_task_ms: dict[int, list[float]] = {}
    out: dict[str | None, GroupStats] = {}

    def group_of_stage(stage_id: int) -> GroupStats:
        g = job_group.get(stage_job.get(stage_id, -1))
        return out.setdefault(g, GroupStats())

    with _lines(paths) as f:
        for line in f:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue  # a torn last line of an in-progress log
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                job_start[jid] = ev["Submission Time"] / 1000.0
                job_group[jid] = key(props.get("spark.jobGroup.id"), job_start[jid])
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
                out.setdefault(job_group[jid], GroupStats()).jobs += 1
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in job_start:
                    g = out.setdefault(job_group.get(jid), GroupStats())
                    g.job_spans.append((job_start[jid], ev["Completion Time"] / 1000.0))
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                g = group_of_stage(info["Stage ID"])
                g.stages += 1
                times = stage_task_ms.pop(info["Stage ID"], [])
                if len(times) >= 2 and median(times) > 0:
                    g.task_skew = max(g.task_skew, max(times) / median(times))
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                g = group_of_stage(sid)
                m = ev.get("Task Metrics") or {}
                g.tasks += 1
                run_ms = float(m.get("Executor Run Time", 0))
                g.executor_run_ms += run_ms
                g.gc_ms += float(m.get("JVM GC Time", 0))
                g.input_bytes += int((m.get("Input Metrics") or {}).get("Bytes Read", 0))
                g.shuffle_write_bytes += int(
                    (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                )
                g.spill_bytes += int(m.get("Disk Bytes Spilled", 0))
                stage_task_ms.setdefault(sid, []).append(run_ms)
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    if acc.get("Name") == PYTHON_TIME_METRIC:
                        g.python_worker_ms += float(acc.get("Update", 0))
    return out

