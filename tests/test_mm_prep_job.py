"""jobs/mm_prep.py — the multimodal prep job's resumable contract.

Mirrors tests/test_prep_job.py over the interleaved-corpus job: a kill
inside the write→marker window of each stage class (global hotspans /
bucket wave / rejects / manifest) must resume to a manifest byte-identical
to an uninterrupted run, exactly-once.
"""

from __future__ import annotations

import importlib.util
import os

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"
N_BUCKETS = 16


def _job(name: str = "mm_prep"):
    spec = importlib.util.spec_from_file_location(
        f"{name}_job",
        os.path.join(
            os.path.dirname(os.path.dirname(__file__)), "jobs", f"{name}.py"
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
        (r["doc_id"], r["shard"], r["pos"])
        for r in spark.read.parquet(f"{out}/manifest").collect()
    )


def test_mm_prep_end_to_end_and_idempotent_resume(spark, tmp_path):
    job = _job()
    out = str(tmp_path / "mmprep")
    s1 = job.main(_argv(out, "m1"), spark=spark)
    assert s1["docs_in"] == 500
    assert s1["kept"] + s1["rejected"] == s1["docs_in"]
    assert s1["manifest_rows"] == s1["kept"]
    # the synth corpus exercises both branches: 6-span docs pass every
    # gate, single-span and duplicate-pair docs fail one
    assert s1["kept"] > 0 and s1["rejected"] > 0

    # manifest is a valid loader manifest: unique (shard, pos), dense
    # 0-based per shard (epoch_shuffle contract)
    man = spark.read.parquet(f"{out}/manifest")
    rows = man.collect()
    assert len({(r["shard"], r["pos"]) for r in rows}) == len(rows)
    per_shard = {}
    for r in rows:
        per_shard.setdefault(r["shard"], []).append(r["pos"])
    for poss in per_shard.values():
        assert sorted(poss) == list(range(len(poss)))

    # reject table carries the funnel's reasons, disjoint from the manifest
    rej = spark.read.parquet(f"{out}/rejects")
    assert rej.count() == s1["rejected"]
    assert set(
        r["reason"] for r in rej.select("reason").distinct().collect()
    ) <= {"no_media", "not_interleaved", "unanchored", "boilerplate",
          "hot_media"}
    assert man.join(rej, man["doc_id"] == rej["doc_id"], "inner").count() == 0

    # cleaned snapshot: exactly the operator form's output restricted to
    # kept docs, shard-aligned with the manifest (the job's
    # hotspans-reuse path must be bit-identical to the inline-counts
    # operator)
    from text_extract_api_spark.functions.interleave import (
        strip_boilerplate_apply,
    )
    from text_extract_api_spark.synth import synth_flat_spans

    snap = spark.read.parquet(f"{out}/snapshot")
    assert snap.count() == s1["snapshot_spans"] > 0
    got_snap = sorted(
        (r["doc_id"], r["offset"], r["kind"], r["text"], r["media_ref"])
        for r in snap.collect()
    )
    flat = synth_flat_spans(spark, SF).select(
        "doc_id", "offset", "kind", "text", "media_ref"
    )
    want_snap = sorted(
        (r["doc_id"], r["offset"], r["kind"], r["text"], r["media_ref"])
        for r in strip_boilerplate_apply(flat)
        .join(man.select("doc_id"), "doc_id")
        .collect()
    )
    assert got_snap == want_snap
    # shard alignment: every snapshot row carries its doc's manifest shard
    mismatch = (
        snap.select("doc_id", "shard").distinct()
        .join(man.select("doc_id", F.col("shard").alias("mshard")), "doc_id")
        .filter(F.col("shard") != F.col("mshard"))
    )
    assert mismatch.count() == 0

    # resume of a COMPLETE run: nothing recomputed, outputs unchanged
    before = _manifest_rows(spark, out)
    s2 = job.main(_argv(out, "m1") + ["--resume"], spark=spark)
    spark.catalog.clearCache()
    assert s2["verdicts_written"] == 0
    assert _manifest_rows(spark, out) == before


# resumable job → (summary count of recomputed rows, per-doc output table)
_RESUMABLE = {
    "mm_prep": ("verdicts_written", "verdicts"),
    "corpus_prep": ("verdicts_written", "verdicts"),
    "spans_extract": ("docs", "results"),
}


@pytest.mark.parametrize("name", list(_RESUMABLE))
def test_mm_prep_waves1_complete_resume_is_noop(spark, tmp_path, name):
    """ADVICE r4: with --waves 1 the empty-wave skip was gated on
    waves > 1, so resuming a COMPLETED single-wave run re-entered the
    wave — duplicate per-bucket markers and a full recomputed count. A
    completed resume must be a true no-op at every wave count, in every
    job that resumes by wave."""
    job = _job(name)
    recomputed, table = _RESUMABLE[name]
    out = str(tmp_path / name)
    argv = [
        "--sf-dir", SF, "--out", out, "--run-id", "w1",
        "--waves", "1", "--n-buckets", str(N_BUCKETS),
    ]
    s1 = job.main(argv, spark=spark)
    assert s1[recomputed] == 500
    has_manifest = name != "spans_extract"
    before = _manifest_rows(spark, out) if has_manifest else None
    s2 = job.main(argv + ["--resume"], spark=spark)
    spark.catalog.clearCache()
    assert s2[recomputed] == 0
    if has_manifest:
        assert _manifest_rows(spark, out) == before
    # exactly-once markers survived the resume
    prog = spark.read.parquet(f"{out}/progress")
    marks = prog.filter((F.col("run_id") == "w1") & (F.col("status") == "done"))
    per_bucket = {
        r["bucket"]: r["cnt"]
        for r in marks.groupBy("bucket").agg(F.count("*").alias("cnt")).collect()
    }
    assert set(per_bucket) == set(range(N_BUCKETS))
    assert all(c == 1 for c in per_bucket.values()), per_bucket
    # and no output rows were duplicated
    rows = spark.read.parquet(f"{out}/{table}").filter(F.col("run_id") == "w1")
    assert rows.count() == 500
    assert rows.select("doc_id").distinct().count() == 500


def test_mm_prep_partial_bucket_marks_resume_keeps_marked_rows(
    spark, tmp_path
):
    """ADVICE r4: resume used to rely on a wave's bucket marks being
    all-or-nothing (single appended file) — with PARTIAL marks for a wave,
    the recomputed wave's dynamic partition overwrite dropped the marked
    buckets' verdict rows. Simulate partial marks by deleting half the
    done markers after a complete run, then resume: every doc must still
    have exactly one verdict row."""
    import glob as _glob

    job = _job()
    out = str(tmp_path / "mmprep_partial")
    argv = [
        "--sf-dir", SF, "--out", out, "--run-id", "p1",
        "--waves", "2", "--n-buckets", str(N_BUCKETS),
    ]
    job.main(argv, spark=spark)
    spark.catalog.clearCache()

    # rewrite progress with only HALF of wave 0's bucket marks (simulates
    # a mark write that persisted partially before a crash)
    prog = spark.read.parquet(f"{out}/progress")
    wave0_buckets = [b for b in range(N_BUCKETS) if b % 2 == 0]
    kept_marks = prog.filter(
        ~(
            (F.col("run_id") == "p1")
            & (F.col("status") == "done")
            & F.col("bucket").isin(wave0_buckets[len(wave0_buckets) // 2:])
        )
    ).localCheckpoint(eager=True)
    for f in _glob.glob(f"{out}/progress/*.parquet"):
        os.remove(f)
    kept_marks.write.mode("overwrite").parquet(f"{out}/progress")
    spark.catalog.clearCache()

    job.main(argv + ["--resume"], spark=spark)
    spark.catalog.clearCache()

    verd = spark.read.parquet(f"{out}/verdicts").filter(F.col("run_id") == "p1")
    assert verd.count() == 500, "marked buckets' rows were dropped"
    assert verd.select("doc_id").distinct().count() == 500
    # every bucket ends marked done at least once, none more than twice
    # (the re-run re-marks only the recomputed buckets exactly once)
    marks = spark.read.parquet(f"{out}/progress").filter(
        (F.col("run_id") == "p1") & (F.col("status") == "done")
    )
    per_bucket = {
        r["bucket"]: r["cnt"]
        for r in marks.groupBy("bucket").agg(F.count("*").alias("cnt")).collect()
    }
    assert set(per_bucket) == set(range(N_BUCKETS))
    assert all(c == 1 for c in per_bucket.values()), per_bucket


@pytest.fixture(scope="module")
def mm_ref_manifest(spark, tmp_path_factory):
    """The uninterrupted run's manifest — computed once, compared against
    every crash-window resume (the epoch seed is run-id-independent, so
    different run ids produce the identical permutation)."""
    out = str(tmp_path_factory.mktemp("mm_ref") / "ref")
    _job().main(_argv(out, "ref"), spark=spark)
    rows = _manifest_rows(spark, out)
    spark.catalog.clearCache()
    return rows


def test_mm_prep_keeps_only_mm_corpus_prep_docs(spark, mm_ref_manifest):
    """The job's structure and anchoring gates are the oracle-checked
    ``mm_corpus_prep`` funnel's; the boilerplate and hot-media gates only
    reject more. So every doc the job keeps passes that query."""
    import __spark_entry__ as entrymod

    passed = {
        r["doc_id"]
        for r in entrymod.queries()["mm_corpus_prep"](spark, SF)
        .select("doc_id").collect()
    }
    kept = {doc_id for doc_id, _, _ in mm_ref_manifest}
    assert kept and kept <= passed


@pytest.mark.parametrize(
    "crash_point",
    ["hotspans", "verdicts_wave_1", "rejects", "manifest", "snapshot"],
)
def test_mm_prep_crash_window_resume_is_exactly_once(
    spark, tmp_path, monkeypatch, crash_point, mm_ref_manifest
):
    """Kill inside every stage's write→marker window; the resumed run must
    produce the same manifest as an uninterrupted run, with no duplicate
    verdicts and each bucket marked done exactly once."""
    job = _job()
    want = mm_ref_manifest

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
