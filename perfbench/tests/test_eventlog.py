"""Event-log folding: exact on a synthetic log, and end to end on a
tiny (sf 0.001) traced Spark run."""

import json
import os

import pytest

from perfbench import eventlog


def _task(stage, run_ms, **extra):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Accumulables": extra.get("acc", [])},
        "Task Metrics": {
            "Executor Run Time": run_ms, "JVM GC Time": 1,
            "Input Metrics": {"Bytes Read": 100},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 10},
            "Disk Bytes Spilled": extra.get("spill", 0),
        },
    }


def _log(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1_000_000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "q:a"}},
        _task(0, 10), _task(0, 10), _task(0, 40, spill=5),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        _task(1, 7, acc=[{"Name": "time to run Python workers", "Update": 3}]),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1_000_500},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1_002_000,
         "Stage IDs": [2], "Properties": {}},
        _task(2, 5),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1_002_100},
    ]
    # Spark 4's layout: a directory of rolled event files
    roll = tmp_path / "eventlog_v2_app-1"
    roll.mkdir()
    lines = [json.dumps(e) for e in events]
    (roll / "events_1_app-1").write_text("\n".join(lines[:6]) + "\n")
    (roll / "events_2_app-1").write_text("\n".join(lines[6:]) + '\n{"Event": "torn')
    (roll / "appstatus_app-1").write_text("")
    paths = eventlog.find_log(str(tmp_path))
    assert [os.path.basename(p) for p in paths] == ["events_1_app-1", "events_2_app-1"]
    return paths


def test_fold_attributes_tasks_to_their_job_group(tmp_path):
    groups = eventlog.fold(_log(tmp_path))
    a, none = groups["q:a"], groups[None]
    assert (a.jobs, a.stages, a.tasks) == (1, 2, 4)
    assert a.executor_run_ms == 67 and a.gc_ms == 4
    assert a.input_bytes == 400 and a.shuffle_write_bytes == 40 and a.spill_bytes == 5
    assert a.python_worker_ms == 3
    assert a.task_skew == pytest.approx(4.0)  # 40 ms vs median 10 ms
    assert a.job_spans == [(1000.0, 1000.5)]
    assert a.job_time_s(1000.25, 1010.0) == pytest.approx(0.25)
    assert (none.jobs, none.tasks) == (1, 1)


def test_fold_buckets_by_submission_time(tmp_path):
    groups = eventlog.fold(
        _log(tmp_path), lambda g, t: "window" if 1001 <= t <= 1003 else None
    )
    assert groups["window"].jobs == 1 and groups["window"].executor_run_ms == 5


def test_traced_tiny_run_folds_its_query_group(tmp_path):
    """Spark with the event log on (uncompressed), one headline query
    under its job group at sf 0.001, then the folded row."""
    from perfbench import common, datagen

    run_dir = str(tmp_path / "run")
    common.isolate_temp(run_dir)
    tier = str(tmp_path / "tier")
    datagen.write_tier(tier, 0.001, 3)
    log_dir = os.path.join(run_dir, "eventlog")
    spark = common.start_spark(run_dir, log_dir)
    try:
        from data_pipeline_2025_spark import registry

        spark.sparkContext.setJobGroup("q:q01_pricing_summary", "q01")
        rows = registry.load_all()["q01_pricing_summary"].spark_fn(spark, tier).collect()
        spark.sparkContext.setJobGroup("idle", "idle")
    finally:
        spark.stop()
    assert rows
    g = eventlog.fold(eventlog.find_log(log_dir))["q:q01_pricing_summary"]
    assert g.jobs >= 1 and g.stages >= 1 and g.tasks >= 1
    assert g.input_bytes > 0 and g.executor_run_ms > 0
    assert all(s < e for s, e in g.job_spans)
