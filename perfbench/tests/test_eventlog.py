"""Event-log folding attributes a known two-query run exactly."""

from __future__ import annotations

import json

import pytest

from perfbench import eventlog
from perfbench.run import layer_metrics

MB = 1024 * 1024


def job(job_id, group, stages):
    props = {"spark.jobGroup.id": group} if group is not None else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job_id, "Stage IDs": stages,
            "Properties": props}


def stage_done(stage_id):
    return {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": stage_id}}


def task(stage_id, *, run_ms=100, cpu_ns=50_000_000, gc_ms=0, failed=False,
         write=0, remote=0, local=0, mem_spill=0, disk_spill=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage_id,
        "Task Info": {"Launch Time": 1000, "Finish Time": 1200, "Getting Result Time": 0,
                      "Failed": failed},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "Executor Deserialize Time": 20,
            "Result Serialization Time": 5,
            "JVM GC Time": gc_ms,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": write},
            "Shuffle Read Metrics": {"Remote Bytes Read": remote, "Local Bytes Read": local},
            "Memory Bytes Spilled": mem_spill,
            "Disk Bytes Spilled": disk_spill,
        },
    }


# Query qa builds with one eager job and sinks with two stages, one of
# them reused (skipped) by qb's sink job; qb builds nothing. Around them: a
# session job without a group, an output check and a first-pass job.
EVENTS = [
    {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
    job(0, "p1|qa|build", [0]),
    task(0, gc_ms=10, write=MB),
    task(0, write=MB),
    stage_done(0),
    job(1, "p1|qa|sink", [1, 2]),
    task(1), task(1), task(1),
    stage_done(1),
    task(2, failed=True),
    stage_done(2),
    job(2, "p1|qb|sink", [2, 3]),
    task(3, remote=MB // 2, local=MB // 2, mem_spill=2 * MB, disk_spill=MB),
    stage_done(3),
    job(3, None, [4]),
    task(4),
    stage_done(4),
    job(4, "check|qa", [5]),
    task(5),
    stage_done(5),
    job(5, "p0|qa|build", [6]),
    task(6),
    stage_done(6),
]


def test_fold_attributes_each_group_exactly():
    totals = eventlog.fold(json.dumps(e) for e in EVENTS)
    assert set(totals) == {"p1|qa|build", "p1|qa|sink", "p1|qb|sink", "", "check|qa",
                           "p0|qa|build"}
    qa_build = totals["p1|qa|build"]
    assert (qa_build["jobs"], qa_build["stages"], qa_build["tasks"]) == (1, 1, 2)
    assert qa_build["executor_run_s"] == pytest.approx(0.2)
    assert qa_build["executor_cpu_s"] == pytest.approx(0.1)
    assert qa_build["jvm_gc_s"] == pytest.approx(0.01)
    assert qa_build["shuffle_write_mb"] == pytest.approx(2.0)
    # 200 ms per task minus 100 run, 20 deserialize, 5 result serialization
    assert qa_build["scheduler_delay_s"] == pytest.approx(2 * 0.075)

    qa_sink = totals["p1|qa|sink"]
    assert (qa_sink["jobs"], qa_sink["stages"], qa_sink["tasks"]) == (1, 2, 4)
    assert qa_sink["failed_tasks"] == 1

    # stage 2 ran under qa's sink job; qb's job only reused it
    qb_sink = totals["p1|qb|sink"]
    assert (qb_sink["jobs"], qb_sink["stages"], qb_sink["tasks"]) == (1, 1, 1)
    assert qb_sink["shuffle_read_mb"] == pytest.approx(1.0)
    assert qb_sink["spill_mb"] == pytest.approx(3.0)

    for group in ("", "check|qa", "p0|qa|build"):
        assert (totals[group]["jobs"], totals[group]["tasks"]) == (1, 1)


def test_build_and_sink_split_counts_only_steady_passes():
    groups = eventlog.fold(json.dumps(e) for e in EVENTS)
    out = layer_metrics([], [1], groups, [])
    assert out["spark.build.jobs"] == out["queries.build_jobs"] == 1
    assert out["spark.build.tasks"] == 2
    assert out["spark.sink.jobs"] == out["sink.jobs"] == 2
    assert out["spark.sink.stages"] == 3
    assert out["spark.sink.tasks"] == 5
    assert out["spark.sink.failed_tasks"] == 1
    assert out["spark.build.shuffle_write_mb"] == pytest.approx(2.0)
    assert out["spark.sink.shuffle_read_mb"] == pytest.approx(1.0)


def test_fold_dir_reads_only_the_event_files(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    (app / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in EVENTS) + "\n")
    (app / "appstatus_local-1").write_text("")
    (app / ".events_1_local-1.crc").write_bytes(b"\x00\x01")
    assert eventlog.fold_dir(tmp_path) == eventlog.fold(json.dumps(e) for e in EVENTS)
