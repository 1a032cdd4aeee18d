"""``jobrun.Job.size_shuffles``: the one rule that sizes
``spark.sql.shuffle.partitions`` from an observed corpus size."""

from __future__ import annotations

import importlib.util
import os

import pytest
from pyspark.sql import functions as F

from text_extract_api_spark import jobrun
from text_extract_api_spark.partitioning import payload_size_col
from text_extract_api_spark.synth import (
    synthesize_interleaved,
    synthesize_interleaved_office,
)

KEY = "spark.sql.shuffle.partitions"
MB = 1024 * 1024


@pytest.fixture
def job(spark, tmp_path):
    args = jobrun.arg_parser("sizing").parse_args(["--out", str(tmp_path)])
    before = spark.conf.get(KEY)
    try:
        yield jobrun.Job("sizing", args, spark)
    finally:
        spark.conf.set(KEY, before)


def test_huge_corpus_raises_the_count_to_the_cap(spark, job):
    job.size_shuffles(10**15)
    assert jobrun.MAX_SHUFFLE_PARTITIONS == 2048
    assert spark.conf.get(KEY) == "2048"


def test_small_corpus_leaves_the_count_alone(spark, job):
    before = spark.conf.get(KEY)
    job.size_shuffles(0)
    job.size_shuffles(MB)
    assert spark.conf.get(KEY) == before


def test_count_pinned_above_the_need_is_never_lowered(spark, job):
    spark.conf.set(KEY, "100")
    job.size_shuffles(50 * jobrun.TARGET_PARTITION_MB * MB)
    assert spark.conf.get(KEY) == "100"
    spark.conf.set(KEY, "3000")
    job.size_shuffles(10**15)
    assert spark.conf.get(KEY) == "3000"


def _job_module(name: str):
    spec = importlib.util.spec_from_file_location(
        f"{name}_job",
        os.path.join(
            os.path.dirname(os.path.dirname(__file__)), "jobs", f"{name}.py"
        ),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _rows(spark, location: str) -> list[str]:
    df = spark.read.parquet(location)
    return sorted(
        r[0] for r in df.select(F.to_json(F.struct(*df.columns))).collect()
    )


def test_sized_spans_extract_writes_the_unsized_rows(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A target small enough to ask for 16 partitions changes the layout of
    every shuffle in the job, never a result row."""
    spans_extract = _job_module("spans_extract")
    docs, _, _ = synthesize_interleaved_office(spark, sf_dir)
    nbytes = docs.agg(F.sum(payload_size_col())).first()[0]

    def run(name: str) -> list[str]:
        out = str(tmp_path / name)
        spans_extract.main(
            ["--sf-dir", sf_dir, "--out", out, "--run-id", "sizing"], spark=spark
        )
        spark.catalog.clearCache()
        return _rows(spark, f"{out}/results")

    before = spark.conf.get(KEY)
    try:
        unsized = run("unsized")
        assert spark.conf.get(KEY) == before
        monkeypatch.setattr(jobrun, "TARGET_PARTITION_MB", nbytes / 15.5 / MB)
        sized = run("sized")
        assert spark.conf.get(KEY) == "16"
    finally:
        spark.conf.set(KEY, before)
    assert len(unsized) == 500
    assert sized == unsized


def test_sized_mm_prep_writes_the_unsized_outputs(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The same for mm_prep, which sizes after its first checkpoint: the
    manifest, rejects and snapshot do not depend on the partition count."""
    mm_prep = _job_module("mm_prep")
    docs, _ = synthesize_interleaved(spark, sf_dir)
    nbytes = docs.agg(F.sum(payload_size_col())).first()[0]

    def run(name: str) -> dict[str, list[str]]:
        out = str(tmp_path / name)
        mm_prep.main(
            ["--sf-dir", sf_dir, "--out", out, "--run-id", "sizing"], spark=spark
        )
        return {
            t: _rows(spark, f"{out}/{t}")
            for t in ("manifest", "rejects", "snapshot")
        }

    before = spark.conf.get(KEY)
    try:
        unsized = run("unsized")
        assert spark.conf.get(KEY) == before
        monkeypatch.setattr(jobrun, "TARGET_PARTITION_MB", nbytes / 15.5 / MB)
        sized = run("sized")
        assert spark.conf.get(KEY) == "16"
    finally:
        spark.conf.set(KEY, before)
    assert unsized["manifest"] and unsized["rejects"] and unsized["snapshot"]
    assert sized == unsized
