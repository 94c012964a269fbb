"""Attribution checks on a small synthetic event log and span list.

    python3 -m pytest perfbench/test_attribution.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess

import pytest

from attribution import (Span, Timeline, Tracer, assign_jobs, read_events,
                         self_times, table_out_mb, union_length, window_stats)

SQL = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"


def _job(jid, submit_s, stages, exec_id=None, desc=None):
    props = {}
    if exec_id is not None:
        props["spark.sql.execution.id"] = str(exec_id)
    if desc is not None:
        props["spark.job.description"] = desc
    return {"Event": "SparkListenerJobStart", "Job ID": jid,
            "Submission Time": int(submit_s * 1000), "Stage IDs": stages,
            "Properties": props}


def _task(stage, start_s, end_s, *, failed=False, gc_ms=0, out=0,
          shuffle=0, spill=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task End Reason": {"Reason": "ExceptionFailure" if failed
                                else "Success"},
            "Task Info": {"Launch Time": int(start_s * 1000),
                          "Finish Time": int(end_s * 1000),
                          "Failed": failed},
            "Task Metrics": {"JVM GC Time": gc_ms,
                             "Memory Bytes Spilled": spill,
                             "Disk Bytes Spilled": 0,
                             "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                                      "Local Bytes Read":
                                                      shuffle},
                             "Shuffle Write Metrics": {
                                 "Shuffle Bytes Written": shuffle},
                             "Output Metrics": {"Bytes Written": out}}}


def _stage_done(stage):
    return {"Event": "SparkListenerStageCompleted",
            "Stage Info": {"Stage ID": stage}}


# One round from t=100 s: "rank" is [100, 104), "write" is [104, 110).
# Job 0 (rank) runs stage 0 on [100.5, 102] and [101, 103]; job 1 (write)
# runs stage 1, which writes the pages table, on [105, 106] and [108, 109.5];
# stage 2 of job 1 was skipped (never completed). Job 2 falls outside.
EVENTS = [
    {"Event": "SparkListenerApplicationStart"},
    _job(0, 100.2, [0], desc="round 1"),
    _task(0, 100.5, 102.0, gc_ms=200, shuffle=1024 * 1024),
    _task(0, 101.0, 103.0),
    _stage_done(0),
    {"Event": SQL, "executionId": 7,
     "physicalPlanDescription": "Execute InsertIntoHadoopFsRelationCommand "
     "file:/x/state0/tables/pages/v000002, false, Parquet"},
    _job(1, 104.0, [1, 2], exec_id=7),
    _task(1, 105.0, 106.0, out=3 * 1024 * 1024),
    _task(1, 108.0, 109.5, failed=True, spill=2 * 1024 * 1024),
    _stage_done(1),
    _job(2, 111.0, [3]),
    _task(3, 111.0, 112.0),
]
WINDOWS = {"rank": (100.0, 104.0), "write": (104.0, 110.0)}


@pytest.fixture
def rolling_log(tmp_path):
    """The events written as a Spark 4 rolling log of two parts."""
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    for n, part in ((1, EVENTS[:6]), (2, EVENTS[6:])):
        with open(d / f"events_{n}_local-1", "w") as f:
            f.write("\n".join(json.dumps(e) for e in part) + "\n")
    (d / "appstatus_local-1").write_text("")
    return str(d)


def test_union_length_merges_and_clips():
    assert union_length([], 0, 10) == 0
    assert union_length([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert union_length([(-5, 2), (9, 20)], 0, 10) == 3
    assert union_length([(11, 12)], 0, 10) == 0


def test_rolling_log_parts_read_in_order(rolling_log):
    tl = Timeline.from_events(read_events(rolling_log))
    assert sorted(tl.jobs) == [0, 1, 2]
    assert tl.jobs[0].desc == "round 1"
    assert tl.jobs[1].table == "pages" and tl.jobs[0].table is None
    assert [t.job for t in tl.tasks] == [0, 0, 1, 1, 2]
    assert tl.stages_run == {0, 1}


@pytest.mark.skipif(shutil.which("zstd") is None, reason="no zstd CLI")
def test_zstd_part(rolling_log, tmp_path):
    part = os.path.join(rolling_log, "events_2_local-1")
    subprocess.run(["zstd", "-q", "--rm", part], check=True)
    os.rename(part + ".zst", part + ".zstd")
    tl = Timeline.from_events(read_events(rolling_log))
    assert sorted(tl.jobs) == [0, 1, 2]


def test_jobs_go_to_the_window_holding_their_submission(rolling_log):
    tl = Timeline.from_events(read_events(rolling_log))
    per = assign_jobs(tl.jobs.values(), WINDOWS)
    # job 1 is submitted exactly at the boundary: windows are [start, end)
    assert per == {"rank": [0], "write": [1]}


def test_window_stats_idle_is_time_with_no_task_running(rolling_log):
    tl = Timeline.from_events(read_events(rolling_log))
    per = assign_jobs(tl.jobs.values(), WINDOWS)
    rank = window_stats(tl, *WINDOWS["rank"], per["rank"], cores=2)
    # tasks cover [100.5, 103] of [100, 104]
    assert rank["idle_s"] == pytest.approx(1.5)
    assert rank["busy_s"] == pytest.approx(3.5)
    assert rank["core_util"] == pytest.approx(3.5 / (4 * 2))
    assert (rank["jobs"], rank["stages"], rank["tasks"]) == (1, 1, 2)
    assert rank["gc_s"] == pytest.approx(0.2)
    assert rank["shuffle_mb"] == pytest.approx(2.0)
    write = window_stats(tl, *WINDOWS["write"], per["write"], cores=2)
    assert write["idle_s"] == pytest.approx(6 - 2.5)
    # the skipped stage 2 did not run
    assert (write["stages"], write["tasks"], write["failed_tasks"]) == (1, 2, 1)
    assert write["out_mb"] == pytest.approx(3.0)
    assert write["spill_mb"] == pytest.approx(2.0)
    assert table_out_mb(tl, per["write"]) == {"pages": pytest.approx(3.0)}


def test_busy_counts_any_task_overlapping_the_window(rolling_log):
    tl = Timeline.from_events(read_events(rolling_log))
    # a window no job was submitted in still sees the tasks running in it
    st = window_stats(tl, 101.5, 102.5, [], cores=1)
    assert st["jobs"] == 0 and st["tasks"] == 0
    assert st["idle_s"] == pytest.approx(0.0)
    assert st["busy_s"] == pytest.approx(0.5 + 1.0)


def test_self_time_subtracts_the_union_of_children():
    spans = [Span("0", "round", 0, 10, None, "r"),
             Span("1", "rank", 1, 3, "0", "r"),
             Span("2", "sched", 2, 5, "0", "r"),
             Span("3", "write", 8, 12, "0", "r"),
             Span("4", "write.staged", 8, 9, "3", "r")]
    st = self_times(spans)
    assert st["0"] == pytest.approx(10 - 4 - 2)
    assert st["3"] == pytest.approx(4 - 1)
    assert st["4"] == pytest.approx(1)


def test_tracer_writes_parent_run_id_and_self_time(tmp_path):
    tr = Tracer("run-1")
    root = tr.add("run", 0.0, 10.0)
    tr.add("session", 0.0, 4.0, root)
    path = tmp_path / "t.json"
    tr.write(str(path))
    out = json.loads(path.read_text())
    assert out["run_id"] == "run-1"
    assert [(s["name"], s["parent"], s["run_id"], s["self_s"])
            for s in out["spans"]] == [("run", None, "run-1", 6.0),
                                       ("session", root, "run-1", 4.0)]


def test_benchmark_lists_exactly_the_measured_layers():
    from crawl import LAYER_METRICS as crawl_layers
    from queries import LAYER_METRICS as query_layers
    from run import COMMON_LAYER_METRICS, benchmark_spec

    spec = benchmark_spec()
    names = [m["name"] for m in spec["per_layer"]]
    assert len(names) == len(set(names))
    assert set(names) == (set(COMMON_LAYER_METRICS) | set(crawl_layers)
                          | set(query_layers))
    assert [w["name"] for w in spec["workloads"]] == ["crawl_trickle",
                                                      "queries"]
