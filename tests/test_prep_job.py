"""jobs/corpus_prep.py — resumable prep-job contract (VERDICT r3 #4).

Crash-injection coverage mirrors tests/test_checkpoint.py's extraction-job
test, but over the prep job's STAGED checkpoints: a kill inside the
write→marker window of each stage class (global stage, bucket wave) must
resume to a manifest byte-identical to an uninterrupted run, exactly-once.
"""

from __future__ import annotations

import importlib.util
import os

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"
N_BUCKETS = 16


def _job():
    spec = importlib.util.spec_from_file_location(
        "corpus_prep_job",
        os.path.join(
            os.path.dirname(os.path.dirname(__file__)), "jobs", "corpus_prep.py"
        ),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _argv(out: str, run_id: str) -> list[str]:
    return [
        "--sf-dir", SF, "--out", out, "--run-id", run_id,
        "--waves", "2", "--n-buckets", str(N_BUCKETS),
    ]


def _manifest_rows(spark, out: str):
    return sorted(
        (r["doc_id"], r["source"], r["shard"], r["pos"])
        for r in spark.read.parquet(f"{out}/manifest").collect()
    )


def test_prep_job_end_to_end_and_idempotent_resume(spark, tmp_path):
    job = _job()
    out = str(tmp_path / "prep")
    s1 = job.main(_argv(out, "p1"), spark=spark)
    assert s1["docs_in"] == 500
    assert s1["kept"] + s1["rejected"] == s1["docs_in"]
    assert s1["manifest_rows"] == s1["kept"] <= s1["docs_in"]

    # manifest is a valid loader manifest: unique (shard, pos), dense per shard
    man = spark.read.parquet(f"{out}/manifest")
    rows = man.collect()
    assert len({(r["shard"], r["pos"]) for r in rows}) == len(rows)
    per_shard = {}
    for r in rows:
        per_shard.setdefault(r["shard"], []).append(r["pos"])
    for poss in per_shard.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))

    # reject table carries reasons, disjoint from the manifest
    rej = spark.read.parquet(f"{out}/rejects")
    assert rej.count() == s1["rejected"]
    assert set(
        r["reason"] for r in rej.select("reason").distinct().collect()
    ) <= {"near_dup", "lang_und", "low_quality", "repetition"}
    assert man.join(rej, man["doc_id"] == rej["doc_id"], "inner").count() == 0

    # resume of a COMPLETE run: nothing recomputed, outputs unchanged
    before = _manifest_rows(spark, out)
    s2 = job.main(_argv(out, "p1") + ["--resume"], spark=spark)
    spark.catalog.clearCache()
    assert s2["verdicts_written"] == 0
    assert _manifest_rows(spark, out) == before


@pytest.fixture(scope="module")
def ref_manifest(spark, tmp_path_factory):
    """The uninterrupted run's manifest — computed once, compared against
    every crash-window resume."""
    out = str(tmp_path_factory.mktemp("prep_ref") / "ref")
    _job().main(_argv(out, "ref"), spark=spark)
    rows = _manifest_rows(spark, out)
    spark.catalog.clearCache()
    return rows


def test_prep_job_manifest_is_the_corpus_prep_e2e_query(spark, ref_manifest):
    """The job and the oracle-checked ``corpus_prep_e2e`` query compose the
    same operators with the same thresholds, quota and shard count: their
    manifests are equal row for row."""
    import __spark_entry__ as entrymod

    query = entrymod.queries()["corpus_prep_e2e"](spark, SF)
    want = sorted(
        (r["doc_id"], r["source"], r["shard"], r["pos"]) for r in query.collect()
    )
    assert want
    assert ref_manifest == want


@pytest.mark.parametrize(
    "crash_point", ["noncanon", "verdicts_wave_1", "rejects", "manifest"]
)
def test_prep_job_crash_window_resume_is_exactly_once(
    spark, tmp_path, monkeypatch, crash_point, ref_manifest
):
    """Kill inside every stage's write→marker window; the resumed run must
    produce the same manifest as an uninterrupted run, with no duplicate
    verdicts and each bucket marked done exactly once."""
    job = _job()
    want = ref_manifest

    out = str(tmp_path / "crash")
    monkeypatch.setenv("SPARK_GRAFT_CRASH_AFTER", crash_point)
    with pytest.raises(RuntimeError, match="injected crash"):
        job.main(_argv(out, "c1"), spark=spark)
    monkeypatch.delenv("SPARK_GRAFT_CRASH_AFTER")
    spark.catalog.clearCache()

    job.main(_argv(out, "c1") + ["--resume"], spark=spark)
    spark.catalog.clearCache()

    got = _manifest_rows(spark, out)
    assert got == want

    # exactly-once verdicts: one row per doc
    verd = spark.read.parquet(f"{out}/verdicts").filter(F.col("run_id") == "c1")
    assert verd.count() == 500
    assert verd.select("doc_id").distinct().count() == 500

    # each bucket marked done exactly once
    prog = spark.read.parquet(f"{out}/progress")
    marks = prog.filter((F.col("run_id") == "c1") & (F.col("status") == "done"))
    per_bucket = {
        r["bucket"]: r["cnt"]
        for r in marks.groupBy("bucket").agg(F.count("*").alias("cnt")).collect()
    }
    assert set(per_bucket) == set(range(N_BUCKETS))
    assert all(c == 1 for c in per_bucket.values()), per_bucket
