"""Tests for the span recorder's self-time arithmetic and the Spark
event-log reader (a hand-written log and a tiny log recorded by Spark).

    python -m pytest perfbench/tests -q
"""
import json
import os
import sys

import pyarrow as pa
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)
sys.path.insert(0, os.path.dirname(BENCH))

import trace  # noqa: E402


def _span(i, parent, name, start, end):
    return {"id": i, "parent": parent, "name": name, "run": "r",
            "start": start, "end": end}


def test_self_time_subtracts_union_of_children():
    spans = [_span(0, None, "jobs.run_daily", 0.0, 10.0),
             _span(1, 0, "jobs.curate", 1.0, 3.0),
             _span(2, 0, "jobs.run_build", 2.0, 5.0),    # overlaps 1
             _span(3, 0, "store.merge_stores", 7.0, 8.0),
             _span(4, 2, "plans.checkpoint.run", 2.5, 4.0)]
    st = trace.self_times(spans)
    assert st[0] == pytest.approx(10.0 - (4.0 + 1.0))
    assert st[2] == pytest.approx(3.0 - 1.5)
    assert st[4] == pytest.approx(1.5)


def test_self_time_clips_children_to_parent():
    spans = [_span(0, None, "a", 0.0, 4.0), _span(1, 0, "b", 3.0, 9.0)]
    assert trace.self_times(spans)[0] == pytest.approx(3.0)


def test_layer_table_sums_self_time_per_layer():
    spans = [_span(0, None, "jobs.run_daily", 0.0, 10.0),
             _span(1, 0, "jobs.curate", 1.0, 3.0),
             _span(2, 0, "store.merge_stores", 7.0, 8.0)]
    table = trace.layer_table(spans)
    assert "| jobs | 9.000 |" in table
    assert "| store | 1.000 |" in table


def test_recorder_nests_and_wraps():
    class Mod:
        @staticmethod
        def work(x):
            return x + 1

    rec = trace.SpanRecorder("run-1")
    undo = rec.wrap(Mod, "work", "jobs.work")
    with rec.span("jobs.outer"):
        assert Mod.work(1) == 2
    undo()
    assert Mod.work(1) == 2 and len(rec.spans) == 2
    outer, inner = rec.spans
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert inner["run"] == "run-1"
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]


def _task(stage, launch, finish, run_ms, cpu_ns, gc_ms=0, shuffle=0,
          spill=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": launch, "Finish Time": finish},
            "Task Metrics": {"Executor Run Time": run_ms,
                             "Executor CPU Time": cpu_ns,
                             "JVM GC Time": gc_ms,
                             "Memory Bytes Spilled": spill,
                             "Disk Bytes Spilled": 0,
                             "Shuffle Write Metrics":
                                 {"Shuffle Bytes Written": shuffle}}}


def test_group_metrics_hand_written_zstd_log(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "operators.cms_build"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
         "Properties": {"spark.jobGroup.id": "operators.cms_build"}},
        _task(0, 0, 100, 90, 80_000_000, gc_ms=10, shuffle=500),
        _task(0, 0, 300, 280, 200_000_000, spill=64),
        _task(1, 400, 500, 100, 50_000_000),
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {}},
        _task(2, 600, 650, 40, 10_000_000),
    ]
    path = str(tmp_path / "local-1.zstd")
    with pa.CompressedOutputStream(path, "zstd") as fh:
        fh.write("\n".join(json.dumps(e) for e in events).encode())
    got = trace.group_metrics(trace.read_event_log(path))
    g = got["operators.cms_build"]
    assert g["tasks"] == 3
    assert g["executor_run_s"] == pytest.approx(0.47)
    assert g["executor_cpu_s"] == pytest.approx(0.33)
    assert g["gc_s"] == pytest.approx(0.01)
    assert g["shuffle_write_bytes"] == 500 and g["spill_bytes"] == 64
    assert g["task_skew"] == pytest.approx(300 / 200)   # stage 0: max/median
    assert got[""]["tasks"] == 1
    twice = trace.merge_group_metrics([got, got])
    assert twice["operators.cms_build"]["tasks"] == 6
    assert twice["operators.cms_build"]["task_skew"] == pytest.approx(1.5)


def test_group_metrics_on_a_recorded_spark_log(tmp_path):
    pytest.importorskip("pyspark")
    from gopie_spark.plans import get_spark
    log_dir = str(tmp_path / "eventlog")
    os.makedirs(log_dir)
    spark = get_spark("perfbench-trace-test", cores=2, shuffle_partitions=2,
                      extra={"spark.eventLog.enabled": "true",
                             "spark.eventLog.dir": log_dir,
                             "spark.ui.showConsoleProgress": "false",
                             "spark.driver.memory": "1g",
                             "spark.driver.extraJavaOptions": "-Xms1g"})
    try:
        rec = trace.SpanRecorder("t", spark)
        with rec.span("operators.test_agg"):
            spark.range(0, 1000, numPartitions=4) \
                .selectExpr("id % 3 as k").groupBy("k").count().collect()
        spark.range(10).count()
    finally:
        spark.stop()
    apps = trace.read_app_logs(log_dir)
    assert len(apps) == 1
    got = trace.group_metrics(apps[0])
    g = got["operators.test_agg"]
    assert g["tasks"] >= 4 and g["executor_run_s"] >= 0
    assert g["shuffle_write_bytes"] > 0
    assert "" in got   # the ungrouped count() after the span closed
