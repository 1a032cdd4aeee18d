"""Per-partition checkpoint / lineage — resumable runs.

The reference surfaces progress through Celery ``update_state`` milestones
(``extract/tasks.py:40-94``: PENDING → PROGRESS(10/30/50/75) → SUCCESS) and
resumes nothing — a crashed task recomputes from scratch (modulo the Redis
cache). At 10^12 documents a restartable job is mandatory (north rule), so
the engine checkpoints per bucket and resumes per wave:

- every document is assigned a stable bucket ``pmod(xxhash64(doc_id), B)``,
  and bucket ``b`` belongs to wave ``b % waves``;
- a run writes each wave's rows into its own ``(run_id, wave)`` partition
  (dynamic partition overwrite), then appends one ``done`` progress row per
  bucket of the wave. The write precedes the markers, so a crash between
  the two leaves the wave's buckets unmarked;
- resume skips a wave whose buckets are all marked and recomputes any other
  wave whole, overwriting its partition — so results stay exactly-once and
  each bucket is marked once (``jobrun.Job.run_waves``).

Global stages (their output depends on every input row) get one
``stage:<name>`` row instead (``write_stage_marker``).

Bucket count B is the bookkeeping granularity: B ≈ 4× executor count keeps
markers tiny at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from .io import read_table, table_exists, write_table
from .partitioning import payload_size_col

_PROGRESS_DDL = (
    "run_id string, partition_id int, bucket int, status string, "
    "docs_done long, spans_done long, bytes_done long"
)


def _jvm_frame(spark: SparkSession, ddl: str, row: tuple | None = None) -> DataFrame:
    """A frame of the ``ddl`` schema with one row of ``row``, or none when
    ``row`` is None, built in the JVM from literals.

    ``spark.createDataFrame`` of a Python list would do the same through a
    Python-backed RDD, which the JVM serves from a second ``pyspark.daemon``
    and worker rather than from the pool the Arrow legs already warmed
    (timings in ``write_progress``). Every column stays nullable as a
    ``createDataFrame`` column is: a bare literal is not, and unioned with
    the per-bucket marks it would make ``run_id`` a required parquet
    column. The ``id == 0`` condition is what keeps the optimizer from
    folding the values back into bare literals."""
    fields = StructType.fromDDL(ddl).fields
    keep = F.col("id") == 0
    return spark.range(0 if row is None else 1, numPartitions=1).select(*[
        F.when(keep, F.lit(v)).cast(f.dataType).alias(f.name)
        for f, v in zip(fields, row or [None] * len(fields))
    ])


def _milestone_row(
    spark: SparkSession, run_id: str, run_ts: str, status: str, metrics: dict
) -> DataFrame:
    """One bucket-less progress row (milestones and stage markers — the
    schema must stay identical to the per-bucket ``done`` rows)."""
    row = (
        run_id,
        -1,
        -1,
        status,
        int(metrics.get("docs") or 0),
        int(metrics.get("spans") or 0),
        int(metrics.get("bytes") or 0),
    )
    return _jvm_frame(spark, _PROGRESS_DDL, row).withColumn(
        "updated_at", F.lit(run_ts).cast("timestamp")
    )


def _run_progress(spark: SparkSession, progress_loc: str, run_id: str):
    """This run's progress rows, or None before the first marker."""
    if not table_exists(spark, progress_loc):
        return None
    return read_table(spark, progress_loc).filter(F.col("run_id") == run_id)


def bucket_col(doc_id: Column, n_buckets: int) -> Column:
    return F.pmod(F.xxhash64(doc_id), F.lit(n_buckets)).cast("int")


def completed_buckets(spark: SparkSession, progress_loc: str, run_id: str) -> DataFrame:
    """Buckets already marked done for this run (empty if no progress yet)."""
    prog = _run_progress(spark, progress_loc, run_id)
    if prog is None:
        return _jvm_frame(spark, "bucket int")
    return prog.filter(F.col("status") == "done").select("bucket").distinct()


def _spans_metrics(results: DataFrame) -> tuple[Column, Column]:
    """(spans, bytes) aggregates — zero for frames without a spans payload
    (e.g. the prep jobs' verdict rows)."""
    if "spans" not in results.columns:
        return F.lit(0), F.lit(0)
    # UTF-8 bytes of extracted text only — a to_json over the span array would
    # re-serialize the whole corpus just for a progress metric
    return F.sum(F.size("spans")), F.sum(payload_size_col())


def observe_extraction(results: DataFrame, name: str):
    """Attach an in-flight metrics observation to the results frame — the
    engine analog of Celery ``update_state`` milestones (tasks.py:40-94):
    metrics are collected DURING the write action (observation node in the
    plan), not by a separate pass afterwards.

    Returns (observed_df, observation); read ``observation.get`` after the
    consuming action completes.
    """
    from pyspark.sql import Observation

    spans, nbytes = _spans_metrics(results)
    obs = Observation(name)
    observed = results.observe(
        obs,
        F.count(F.lit(1)).alias("docs"),
        F.coalesce(spans, F.lit(0)).alias("spans"),
        F.coalesce(nbytes, F.lit(0)).alias("bytes"),
    )
    return observed, obs


def poll_progress(spark: SparkSession, progress_loc: str, run_id: str) -> DataFrame:
    """Result-polling view (the reference's GET /ocr/result state machine,
    main.py:171-188): per-status rollup for a run. Empty frame = PENDING."""
    prog = _run_progress(spark, progress_loc, run_id)
    if prog is None:
        return _jvm_frame(
            spark, "status string, n_marks long, docs_done long, spans_done long"
        )
    return prog.groupBy("status").agg(
        F.count("*").alias("n_marks"),
        F.sum("docs_done").alias("docs_done"),
        F.sum("spans_done").alias("spans_done"),
    )


def write_progress(
    results: DataFrame,
    progress_loc: str,
    run_id: str,
    run_ts: str,
    milestone: tuple[str, dict] | None = None,
) -> None:
    """Append one done-marker row per bucket with extraction metrics
    (spans/bytes are zero when ``results`` has no spans payload).

    ``run_ts`` is an injected timestamp (job argument) — never wall clock,
    per the determinism contract (the reference templates wall-clock
    ``datetime.now()`` into filenames, storage_strategy.py:26-31; the engine
    pins it).

    ``milestone``: optional ``(name, metrics)`` — unioned into the same
    append so the marker write and the milestone cost ONE action, not two
    (each extra action is fixed non-scaling driver time). The ~1.9 s once
    measured for a single milestone row at local[8] was mostly the start of
    a second ``pyspark.daemon`` for the row's Python-backed RDD. At
    local[4], after an Arrow leg had run, a stage-marker write built that
    way took 1.3–2.6 s the first time in a session and 0.5–0.75 s after;
    built from JVM literals (``_jvm_frame``) it takes 0.17–0.29 s.
    """
    spans, nbytes = _spans_metrics(results)
    marks = (
        results.groupBy("bucket")
        .agg(
            F.count("*").alias("docs_done"),
            spans.alias("spans_done"),
            nbytes.alias("bytes_done"),
        )
        .select(
            F.lit(run_id).alias("run_id"),
            F.spark_partition_id().alias("partition_id"),
            F.col("bucket"),
            F.lit("done").alias("status"),
            F.col("docs_done").cast("long"),
            F.col("spans_done").cast("long"),
            F.col("bytes_done").cast("long"),
            F.lit(run_ts).cast("timestamp").alias("updated_at"),
        )
    )
    if milestone is not None:
        name, metrics = milestone
        marks = marks.unionByName(
            _milestone_row(
                results.sparkSession, run_id, run_ts, f"milestone:{name}", metrics
            )
        )
    # one marker row per bucket — without the coalesce this writes B files of
    # one row each and pays B task-commits for a KB of data
    write_table(marks.coalesce(1), progress_loc, mode="append")


def write_stage_marker(
    spark: SparkSession,
    progress_loc: str,
    run_id: str,
    run_ts: str,
    stage: str,
    metrics: dict | None = None,
) -> None:
    """Append one ``stage:<name>`` completion row — the resume unit for
    GLOBAL pipeline stages (quota/shard/noncanon cannot be bucket-split the
    way per-doc extraction can: their output depends on every input row).
    The stage's output write precedes the marker, and stage outputs are
    deterministic overwrites, so a crash between the two re-does exactly
    one stage and lands on identical bytes — exactly-once."""
    write_table(
        _milestone_row(spark, run_id, run_ts, f"stage:{stage}", metrics or {}),
        progress_loc,
        mode="append",
    )


def completed_stages(spark: SparkSession, progress_loc: str, run_id: str) -> set[str]:
    """Names of stages already marked complete for this run (empty set when
    no progress exists yet). Stage rows never collide with the bucket-level
    ``done`` resume filter (distinct status prefix)."""
    prog = _run_progress(spark, progress_loc, run_id)
    if prog is None:
        return set()
    rows = (
        prog.filter(F.col("status").startswith("stage:"))
        .select("status")
        .distinct()
        .collect()
    )
    return {r["status"].removeprefix("stage:") for r in rows}
