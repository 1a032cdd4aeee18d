"""Resumability: completed buckets are skipped; resumed output == clean run."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F, types as T

from text_extract_api_spark.checkpoint import (
    bucket_col,
    completed_buckets,
    observe_extraction,
    write_progress,
)
from text_extract_api_spark.schema import SPANS_TYPE
from text_extract_api_spark.synth import synthesize_interleaved

N_BUCKETS = 8


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    d, _ = synthesize_interleaved(spark, sf_dir)
    d = d.withColumn("bucket", bucket_col(F.col("doc_id"), N_BUCKETS)).persist()
    yield d
    d.unpersist()


def test_bucket_assignment_stable(docs):
    a = {r["doc_id"]: r["bucket"] for r in docs.select("doc_id", "bucket").collect()}
    b = {
        r["doc_id"]: r["bucket"]
        for r in docs.repartition(13).select("doc_id", "bucket").collect()
    }
    assert a == b
    assert set(a.values()) <= set(range(N_BUCKETS))


def test_resume_skips_done_buckets(spark, docs, tmp_path):
    progress = str(tmp_path / "progress")
    run_id = "resume-test"

    # simulate a half-completed run: buckets {0,1,2} done
    half = docs.filter(F.col("bucket") < 3).select(
        "doc_id", "bucket", F.col("spans")
    )
    write_progress(half, progress, run_id, "2026-01-01 00:00:00")

    done = completed_buckets(spark, progress, run_id)
    assert {r["bucket"] for r in done.collect()} == {0, 1, 2}


def test_completed_buckets_empty_when_no_progress(spark, tmp_path):
    done = completed_buckets(spark, str(tmp_path / "nope"), "x")
    assert done.count() == 0


def test_corrupt_progress_raises_instead_of_reading_as_empty(spark, tmp_path):
    """Only a missing or empty progress directory means "no progress yet".
    A progress file that cannot be read must fail the resume loudly: read
    as empty, it would recompute and re-mark every finished wave."""
    from text_extract_api_spark.checkpoint import completed_stages

    progress = tmp_path / "progress"
    progress.mkdir()
    assert completed_buckets(spark, str(progress), "x").count() == 0
    assert completed_stages(spark, str(progress), "x") == set()

    (progress / "part-00000.parquet").write_bytes(b"not parquet " * 16)
    with pytest.raises(Exception, match="parquet"):
        completed_buckets(spark, str(progress), "x")
    with pytest.raises(Exception, match="parquet"):
        completed_stages(spark, str(progress), "x")


def test_observation_milestones_and_polling(spark, docs, tmp_path):
    """Observation metrics ride the consuming action (Celery update_state
    analog); milestone rows are pollable and never match the resume filter."""
    from text_extract_api_spark.checkpoint import poll_progress

    progress = str(tmp_path / "progress")
    run_id = "obs-test"

    observed, obs = observe_extraction(docs.select("doc_id", "spans", "bucket"), "m0")
    observed.write.format("noop").mode("overwrite").save()
    metrics = obs.get
    assert metrics["docs"] == docs.count()
    assert metrics["spans"] > 0 and metrics["bytes"] > 0

    write_progress(
        docs.select("doc_id", "spans", "bucket"), progress, run_id,
        "2026-01-01 00:00:00", milestone=("wave_0", metrics),
    )

    # milestone rows must not mark buckets done
    done = completed_buckets(spark, progress, run_id)
    assert -1 not in {r["bucket"] for r in done.collect()}

    polled = {r["status"]: r for r in poll_progress(spark, progress, run_id).collect()}
    assert polled["milestone:wave_0"]["docs_done"] == metrics["docs"]
    assert polled["done"]["docs_done"] == metrics["docs"]

    # unknown run → PENDING (empty)
    assert poll_progress(spark, progress, "other-run").count() == 0
    assert poll_progress(spark, str(tmp_path / "missing"), run_id).count() == 0


def test_observed_bytes_are_utf8_bytes(spark):
    """``bytes`` counts UTF-8 bytes, not characters: CJK text is 3 bytes a
    character and emoji 4, so a character count under-sizes a non-ASCII
    corpus."""
    text = "naïve 中文 😀"
    one = spark.createDataFrame(
        [(1, [("text", text, None, 0)])],
        T.StructType([
            T.StructField("doc_id", T.LongType()),
            T.StructField("spans", SPANS_TYPE),
        ]),
    )
    observed, obs = observe_extraction(one, "utf8")
    observed.write.format("noop").mode("overwrite").save()
    assert obs.get["bytes"] == len(text.encode()) != len(text)


def test_crash_between_results_write_and_marker_is_exactly_once(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The at-most-one-wave-recompute claim (checkpoint.py:10-13), crash
    window included: kill the job AFTER wave 1's results write but BEFORE its
    done markers, resume, and assert (a) only wave 1 recomputed, (b) the
    results table is exactly-once per doc despite the double write."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "spans_extract_job",
        os.path.join(os.path.dirname(os.path.dirname(__file__)), "jobs", "spans_extract.py"),
    )
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)

    out = str(tmp_path / "out")
    argv = [
        "--sf-dir", sf_dir, "--out", out,
        "--run-id", "crash1", "--waves", "2", "--n-buckets", str(N_BUCKETS),
    ]

    monkeypatch.setenv("SPARK_GRAFT_CRASH_AFTER", "results_wave_1")
    with pytest.raises(RuntimeError, match="injected crash"):
        job.main(argv, spark=spark)
    monkeypatch.delenv("SPARK_GRAFT_CRASH_AFTER")
    spark.catalog.clearCache()

    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    res_crashed = spark.read.parquet(f"{out}/results")
    # the crash window is real: wave-1 results landed, markers did not
    assert res_crashed.count() == n_docs
    # (materialize before the resume overwrites wave-1's partition files —
    # the old frame's file listing goes stale)
    wave1_docs = res_crashed.filter(F.col("bucket") % 2 == 1).count()
    done = {
        r["bucket"] for r in completed_buckets(spark, f"{out}/progress", "crash1").collect()
    }
    assert done and all(b % 2 == 0 for b in done), done

    summary = job.main(argv + ["--resume"], spark=spark)
    spark.catalog.clearCache()

    # (a) at most one wave recomputed: resume reprocessed only wave-1 docs
    assert 0 < summary["docs"] == wave1_docs < n_docs

    # (b) exactly-once results: one row per doc, full corpus covered
    res = spark.read.parquet(f"{out}/results").filter(F.col("run_id") == "crash1")
    assert res.count() == n_docs
    assert res.select("doc_id").distinct().count() == n_docs
    # and every bucket is now marked done exactly once
    prog = spark.read.parquet(f"{out}/progress")
    marks = prog.filter((F.col("run_id") == "crash1") & (F.col("status") == "done"))
    per_bucket = {r["bucket"]: r["cnt"] for r in
                  marks.groupBy("bucket").agg(F.count("*").alias("cnt")).collect()}
    assert set(per_bucket) == set(range(N_BUCKETS))
    assert all(c == 1 for c in per_bucket.values()), per_bucket


# The parquet schema of a progress file that holds a milestone or stage
# row: the seven bookkeeping columns optional (as a createDataFrame of
# _PROGRESS_DDL made them), the pinned timestamp required.
PROGRESS_PARQUET = [
    ("run_id", "string", True),
    ("partition_id", "int32", True),
    ("bucket", "int32", True),
    ("status", "string", True),
    ("docs_done", "int64", True),
    ("spans_done", "int64", True),
    ("bytes_done", "int64", True),
    ("updated_at", "timestamp[ns]", False),
]


def _parquet_files(spark, location):
    """Each parquet file's rows, sorted, after checking its schema."""
    import glob

    import pyarrow.parquet as pq

    files = []
    for path in glob.glob(f"{location}/*.parquet"):
        schema = pq.read_schema(path)
        assert [(f.name, str(f.type), f.nullable) for f in schema] == PROGRESS_PARQUET
        files.append(sorted(tuple(r) for r in spark.read.parquet(path).collect()))
    return files


def test_progress_rows_keep_their_parquet_schema(spark, docs, tmp_path):
    """A milestone row unioned into the bucket marks, and a standalone stage
    marker, write the same optional columns and the same values. A bare
    literal column is required, so unioned with the marks it would turn
    ``run_id`` into a required parquet column."""
    import datetime

    from text_extract_api_spark.checkpoint import write_stage_marker

    progress = str(tmp_path / "progress")
    ts = "2026-01-01 00:00:00"
    wave = docs.filter(F.col("bucket") < 2).select("doc_id", "spans", "bucket")
    write_progress(
        wave, progress, "rows", ts,
        milestone=("wave_0_results", {"docs": 7, "spans": 11, "bytes": 2**40}),
    )
    write_stage_marker(spark, progress, "rows", ts, "noncanon", {"docs": 3})
    write_stage_marker(spark, progress, "rows", ts, "rejects")

    at = datetime.datetime(2026, 1, 1)
    *stages, marks = sorted(_parquet_files(spark, progress), key=lambda f: (len(f), f))
    assert stages == [
        [("rows", -1, -1, "stage:noncanon", 3, 0, 0, at)],
        [("rows", -1, -1, "stage:rejects", 0, 0, 0, at)],
    ]
    assert marks[0] == ("rows", -1, -1, "milestone:wave_0_results", 7, 11, 2**40, at)
    assert [m[2] for m in marks[1:]] == [0, 1]
    want = {
        r["bucket"]: (r["n"], r["spans"]) for r in wave.groupBy("bucket").agg(
            F.count("*").alias("n"), F.sum(F.size("spans")).alias("spans")
        ).collect()
    }
    assert {m[2]: (m[4], m[5]) for m in marks[1:]} == want
    assert all(m[:2] == ("rows", 0) and m[3] == "done" for m in marks[1:])


# Runs in its own interpreter so the event log and the process count cover
# one fresh session: both spans_extract calls, then a run_stage marker.
_GUARD_SCRIPT = """
import json, os, sys
repo, tables, out = sys.argv[1:4]
sys.path[:0] = [repo, os.path.join(repo, "jobs")]
import spans_extract
from text_extract_api_spark import jobrun
from text_extract_api_spark.session import get_spark

spark = get_spark("guard", master="local[2]")
argv = ["--input-table", f"{tables}/docs", "--media-table", f"{tables}/media",
        "--office-table", f"{tables}/office", "--out", out, "--run-id", "g",
        "--waves", "2"]
runs = [spans_extract.main(argv, spark=spark),
        spans_extract.main(argv + ["--resume"], spark=spark)]
args = jobrun.arg_parser("g", waves=True).parse_args(["--out", out])
jobrun.Job("guard", args, spark).run_stage("probe", lambda: None)

# pyspark.daemon processes under this interpreter (the JVM is its child);
# a daemon's forked workers share its command line, so count the roots
ppid, daemons = {}, set()
for pid in filter(str.isdigit, os.listdir("/proc")):
    try:
        with open(f"/proc/{pid}/stat") as f:
            ppid[int(pid)] = int(f.read().rsplit(")", 1)[1].split()[1])
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            if b"pyspark.daemon" in f.read():
                daemons.add(int(pid))
    except OSError:
        pass

def mine(pid):
    while pid > 1:
        pid = ppid.get(pid, 0)
        if pid == os.getpid():
            return True
    return False

roots = [p for p in daemons if mine(p) and ppid[p] not in daemons]
spark.stop()
print(json.dumps({"runs": runs, "daemons": len(roots)}))
"""


def test_job_bookkeeping_builds_no_python_rdd(spark, sf_dir, tmp_path):
    """Progress rows, stage markers and the resume probes are built in the
    JVM. A ``createDataFrame`` of a Python list would show up as a
    ``PythonRDD`` stage and start a second ``pyspark.daemon`` next to the
    one the Arrow legs use."""
    import json
    import os
    import subprocess
    import sys

    from text_extract_api_spark.synth import synthesize_interleaved_office
    from text_extract_api_spark.telemetry import read_stages

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tables = str(tmp_path / "tables")
    for name, df in zip(
        ("docs", "media", "office"), synthesize_interleaved_office(spark, sf_dir)
    ):
        df.write.parquet(f"{tables}/{name}")
    evl = tmp_path / "evl"
    evl.mkdir()
    env = dict(os.environ, SPARK_GRAFT_EXTRA_CONF=json.dumps({
        "spark.eventLog.enabled": "true", "spark.eventLog.dir": str(evl),
    }))
    proc = subprocess.run(
        [sys.executable, "-c", _GUARD_SCRIPT, repo, tables, str(tmp_path / "out")],
        capture_output=True, text=True, timeout=600, cwd=repo, env=env,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert [r["docs"] for r in got["runs"]] == [500, 0]
    assert got["runs"][0]["quarantined"] == got["runs"][1]["quarantined"] == 25

    stages = read_stages(str(evl))
    assert stages and all(s["rdds"] for s in stages)
    python_rdd = [s for s in stages if "PythonRDD" in s["rdds"]]
    assert python_rdd == []
    assert got["daemons"] == 1
