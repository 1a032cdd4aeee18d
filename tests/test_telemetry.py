"""telemetry.read_stages over a small hand-written event log: one plain
file and one zstd file in a rolling-log directory."""

from __future__ import annotations

import importlib.util
import json
import os

import pyarrow as pa
import pytest

from text_extract_api_spark.telemetry import read_stages


def _task(stage, run_ms, cpu_ns, gc_ms=0, written=0, local=0, remote=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": written},
            "Shuffle Read Metrics": {
                "Local Bytes Read": local, "Remote Bytes Read": remote,
            },
        },
    }


def _completed(stage, name, rdds=None):
    info = {"Stage ID": stage, "Stage Name": name}
    if rdds is not None:
        info["RDD Info"] = [
            {"RDD ID": i, "Name": n, "Callsite": "x"} for i, n in enumerate(rdds)
        ]
    return {"Event": "SparkListenerStageCompleted", "Stage Info": info}


@pytest.fixture
def evl_dir(tmp_path):
    plain = [
        json.dumps({"Event": "SparkListenerApplicationStart"}),
        json.dumps(_task(0, 1500, 1_200_000_000, gc_ms=100, written=2_000_000)),
        json.dumps(_task(0, 500, 300_000_000, written=1_000_000)),
        json.dumps(_completed(0, "count at NativeMethodAccessorImpl.java:0\nat x")),
        "not json {",
        json.dumps(_task(1, 4000, 3_200_000_000, gc_ms=250,
                         local=1_500_000, remote=500_000)),
    ]
    (tmp_path / "local-1").write_text("\n".join(plain) + "\n")
    rolled = tmp_path / "eventlog_v2_local-2"
    rolled.mkdir()
    zstd = [
        _task(2, 2000, 1_500_000_000, gc_ms=50, written=3_000_000,
              remote=4_000_000),
        _task(2, 1000, 500_000_000, gc_ms=50),
        _completed(2, "save at Job.java:1",
                   rdds=["ParallelCollectionRDD", "PythonRDD", "MapPartitionsRDD"]),
    ]
    with pa.CompressedOutputStream(
        str(rolled / "events_1_local-2.zstd"), "zstd"
    ) as f:
        f.write("".join(json.dumps(e) + "\n" for e in zstd).encode())
    return str(tmp_path)


def test_read_stages_sums_task_metrics_per_stage(evl_dir):
    stages = read_stages(evl_dir)
    assert [s["stage"] for s in stages] == [1, 2, 0]  # by run_s, largest first
    got = {s["stage"]: s for s in stages}
    assert got[0]["name"] == "count at NativeMethodAccessorImpl.java:0"
    assert got[1]["name"] == "?"
    assert got[2]["name"] == "save at Job.java:1"
    # RDD names come from the completion event: none without "RDD Info",
    # none without a completion event at all
    assert got[0]["rdds"] == []
    assert got[1]["rdds"] == []
    assert got[2]["rdds"] == ["ParallelCollectionRDD", "PythonRDD", "MapPartitionsRDD"]
    want = {
        0: (2.0, 1.5, 0.1, 0.0, 3.0, 2),
        1: (4.0, 3.2, 0.25, 2.0, 0.0, 1),
        2: (3.0, 2.0, 0.1, 4.0, 3.0, 2),
    }
    for sid, (run, cpu, gc, sh_r, sh_w, n) in want.items():
        s = got[sid]
        assert s["run_s"] == pytest.approx(run)
        assert s["cpu_s"] == pytest.approx(cpu)
        assert s["gc_s"] == pytest.approx(gc)
        assert s["sh_r_mb"] == pytest.approx(sh_r)
        assert s["sh_w_mb"] == pytest.approx(sh_w)
        assert s["n_tasks"] == n


def test_scaling_bench_totals_sum_the_stages(evl_dir):
    path = os.path.join(
        os.path.dirname(os.path.dirname(__file__)), "tools", "scaling_bench.py"
    )
    spec = importlib.util.spec_from_file_location("scaling_bench", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.eventlog_totals(evl_dir) == {
        "task_run_core_s": 9,
        "task_cpu_core_s": 7,
        "gc_s": 0,
        "shuffle_write_mb": 6.0,
        "shuffle_read_mb": 6.0,
        "n_tasks": 5,
    }

