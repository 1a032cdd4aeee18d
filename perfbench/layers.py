"""The traced run: each layer's public call in pipeline order, on a
persisted input, tagged and timed; then the per-layer metrics.

Layers are named after the program's modules:

    io            read_table, write_table
    partitioning  repartition_by_size
    media         extractors.media.validate_media_pages
    pipeline      with_content_hash, run_extract_pipeline
    extract       pipeline.extract_spans_flat, one leg per call
    warc          ingest.read_binary_files, extractors.warc.warc_ingest
    checkpoint    observe_extraction, write_progress, completed_buckets
    session       get_spark

A layer a workload does not run reports 0. The metric names and units are
those of BENCHMARK.json's ``per_layer``.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

from pyspark.sql import functions as F

from perfbench.eventlog import LayerTracer, layer_counters, materialize, read_event_log
from text_extract_api_spark.checkpoint import (
    bucket_col,
    completed_buckets,
    observe_extraction,
    write_progress,
)
from text_extract_api_spark.extractors.media import validate_media_pages
from text_extract_api_spark.extractors.warc import warc_ingest
from text_extract_api_spark.ingest import read_binary_files
from text_extract_api_spark.io import read_table, write_table
from text_extract_api_spark.partitioning import payload_size_col, repartition_by_size
from text_extract_api_spark.pipeline import (
    extract_spans_flat,
    run_extract_pipeline,
    with_content_hash,
)
from text_extract_api_spark.registry import StrategyRegistry, default_registry

RUN_ID = "traced-layers"
RUN_TS = "2026-01-01 00:00:00"

BENCHMARK = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                         "BENCHMARK.json")


def per_layer_units() -> dict[str, str]:
    """name → unit of every per-layer metric in BENCHMARK.json."""
    with open(BENCHMARK) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


_LEG_OF = {"html": "html", "html_md": "html", "pdf": "pdf", "docx": "office", "pptx": "office"}
# layer calls that do not overlap: their walls sum to the traced share of a job
_DISJOINT = (
    "io.input_scan", "media.validate", "partitioning.repartition", "pipeline.run",
    "io.results_write", "io.cache_append", "checkpoint.progress",
    "checkpoint.resume_probe", "warc.scan", "warc.parse",
)


def _leg_inputs(flat):
    """One (rows, registry) per extraction leg: each leg_fn strategy group
    gets its own kinds; the fused column leg gets every other kind."""
    groups: dict[str, list] = defaultdict(list)
    claimed: list[str] = []
    for strat in default_registry().strategies():
        if strat.leg_fn is None:
            groups["column"].append(strat)
        else:
            groups[_LEG_OF.get(strat.name, strat.name)].append(strat)
            claimed.extend(strat.kinds)
    out = {}
    for leg, strats in groups.items():
        reg = StrategyRegistry()
        for s in strats:
            reg.register(s)
        if leg == "column":
            rows = flat.filter(F.coalesce(~F.col("kind").isin(*claimed), F.lit(True)))
        else:
            rows = flat.filter(F.col("kind").isin(*[k for s in strats for k in s.kinds]))
        out[leg] = (rows, reg)
    return out


def _rep_flat(hashed):
    """The rows the pipeline's legs see on an empty cache: one
    representative per payload, exploded to spans (as in
    run_extract_pipeline)."""
    reps = hashed.select("doc_id", "content_hash").groupBy("content_hash").agg(F.min("doc_id").alias("doc_id")).join(
        hashed.select("doc_id", "spans"), "doc_id"
    )
    return reps.select(
        F.col("content_hash").alias("key"), F.explode("spans").alias("s")
    ).select("key", "s.kind", "s.text", "s.media_ref", "s.offset")


def _trace_legs(tr, hashed, media, office, leg_rows) -> None:
    flat = tr.run("prep.legs", lambda: materialize(_rep_flat(hashed)))
    for leg, (rows, reg) in _leg_inputs(flat).items():
        n = tr.run("prep.legs", rows.count)
        if n == 0:
            continue
        leg_rows[leg] += n
        tr.run(
            f"extract.{leg}",
            lambda rows=rows, reg=reg: materialize(
                extract_spans_flat(rows, media, office, registry=reg)
            ),
        )
    flat.unpersist()


def _dir_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(dirpath, f)) for f in files if not f.endswith(".crc")
        )
    return total / 1e6


def trace_spans(spark, tr: LayerTracer, wl, out: str) -> dict:
    """spans_extract's plan into an empty output dir, one layer call at a
    time."""
    docs, media, office = tr.run("io.input_scan", lambda: tuple(
        materialize(read_table(spark, loc)) for loc in (wl.docs_loc, wl.media_loc, wl.office_loc)
    ))
    validated = tr.run("media.validate", lambda: materialize(validate_media_pages(media)))
    n_pages = tr.run("prep.media", validated.count)
    n_bad = tr.run("prep.media", validated.filter(~F.col("valid")).count)
    media_ok = tr.run("prep.media", lambda: materialize(
        validated.filter(F.col("valid")).select("media_ref", "page_no", "page_text")
    ))
    cache_loc = f"{out}/cache"
    docs = docs.withColumn("bucket", bucket_col(F.col("doc_id"), wl.n_buckets))
    n_docs = tr.run("prep.docs", docs.count)
    n_distinct = tr.run(
        "prep.docs", with_content_hash(docs).select("content_hash").distinct().count
    )
    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    results_loc, progress_loc = f"{out}/results", f"{out}/progress"
    part_bytes: list[int] = []
    leg_rows: dict[str, int] = defaultdict(int)
    for wave in range(wl.waves):
        wave_docs = tr.run("prep.wave", lambda: materialize(
            docs.filter(F.pmod(F.col("bucket"), F.lit(wl.waves)) == wave)
        ))
        rep = tr.run("partitioning.repartition", lambda: materialize(
            repartition_by_size(wave_docs, shuffle_n)
        ))
        part_bytes += tr.run("prep.skew", lambda: [
            r[1] for r in rep.groupBy(F.spark_partition_id())
            .agg(F.sum(payload_size_col())).collect()
        ])
        slim = rep.select("doc_id", "spans", "bucket")
        hashed = tr.run("pipeline.hash", lambda: materialize(with_content_hash(slim)))
        _trace_legs(tr, hashed, media_ok, office, leg_rows)
        results = tr.run("pipeline.run", lambda: materialize(run_extract_pipeline(
            spark, slim, media_ok, None, RUN_ID, office_blobs=office
        )[0]))
        # the observation rides the results write, as in the job
        observed, obs = observe_extraction(results.withColumn(
            "bucket", bucket_col(F.col("doc_id"), wl.n_buckets)
        ).withColumn("wave", F.lit(wave)), f"wave_{wave}")
        tr.run("io.results_write", lambda: write_table(
            observed, results_loc, mode="overwrite", partition_by=["run_id", "wave"]
        ))
        written = read_table(spark, results_loc).filter(
            (F.col("run_id") == RUN_ID) & (F.col("wave") == wave)
        )
        new_cache = (
            written.filter(~F.col("from_cache")).dropDuplicates(["content_hash"])
            .select("content_hash", "spans", F.lit(RUN_ID).alias("run_id"))
        )
        tr.run("io.cache_append", lambda: write_table(
            new_cache.coalesce(8), cache_loc, mode="append"
        ))
        tr.run("checkpoint.progress", lambda: write_progress(
            written, progress_loc, RUN_ID, RUN_TS,
            milestone=(f"wave_{wave}_extracted", obs.get),
        ))
        for df in (wave_docs, rep, hashed, results):
            df.unpersist()
    tr.run("checkpoint.resume_probe", completed_buckets(spark, progress_loc, RUN_ID).count)
    spark.catalog.clearCache()
    return {
        "docs": n_docs, "distinct": n_distinct,
        "pages": n_pages, "quarantined": n_bad, "partition_bytes": part_bytes,
        "leg_rows": dict(leg_rows), "results_mb": _dir_mb(results_loc),
    }


def trace_warc(spark, tr: LayerTracer, wl, out: str) -> dict:
    """warc_extract's plan, one layer call at a time. The job's own
    record → document projection is replaced by the reference documents
    built at set-up (the same rows)."""
    segments = tr.run("warc.scan", lambda: materialize(
        read_binary_files(spark, wl.seg_dir).select(
            F.col("path").alias("segment"), F.col("content").alias("payload")
        )
    ))
    recs = tr.run("warc.parse", lambda: materialize(warc_ingest(segments)))
    n_records = tr.run("prep.warc", recs.count)
    inflated = tr.run("prep.warc", lambda: recs.agg(F.sum(F.length("body"))).first()[0])
    docs = tr.run("prep.docs", lambda: materialize(read_table(spark, wl.ref_docs_loc)))
    n_docs = docs.count()
    n_distinct = tr.run(
        "prep.docs", with_content_hash(docs).select("content_hash").distinct().count
    )
    hashed = tr.run("pipeline.hash", lambda: materialize(with_content_hash(docs)))
    leg_rows: dict[str, int] = defaultdict(int)
    _trace_legs(tr, hashed, None, None, leg_rows)
    results = tr.run("pipeline.run", lambda: materialize(
        run_extract_pipeline(spark, docs, None, None, RUN_ID)[0]
    ))
    results_loc = f"{out}/results"
    tr.run("io.results_write", lambda: write_table(results, results_loc, mode="overwrite"))
    spark.catalog.clearCache()
    return {
        "docs": n_docs, "distinct": n_distinct, "records": n_records,
        "inflated_mb": (inflated or 0) / 1e6, "leg_rows": dict(leg_rows),
        "results_mb": _dir_mb(results_loc),
    }


def layer_metrics(raw: dict, evl_dir: str, session_s: float, untraced_wall: float) -> dict:
    """Per-layer metrics ({name: {"value", "unit"}}) from a traced run."""
    per = read_event_log(evl_dir)

    def counter(desc: str, name: str) -> float:
        return per.get(desc, {}).get(name, 0.0)

    w = defaultdict(float, raw["walls"])
    leg_rows = raw["leg_rows"]
    legs_s = sum(w[f"extract.{leg}"] for leg in leg_rows)
    python_rows = sum(
        n for leg, n in leg_rows.items()
        if counter(f"extract.{leg}", "python_sent_mb") > 0
    )
    parts = sorted(b for b in raw.get("partition_bytes", []) if b)
    m = {
        "session.start_s": session_s,
        "io.input_scan_s": w["io.input_scan"],
        "io.results_write_s": w["io.results_write"],
        "io.results_write_mb": raw["results_mb"],
        "io.cache_append_s": w["io.cache_append"],
        "partitioning.repartition_s": w["partitioning.repartition"],
        "partitioning.shuffle_mb": counter("partitioning.repartition", "shuffle_write_mb"),
        "partitioning.skew_ratio": parts[-1] / statistics.median(parts) if parts else 0.0,
        "media.validate_s": w["media.validate"],
        "media.arrow_mb": counter("media.validate", "python_sent_mb"),
        "media.quarantine_ratio": raw["quarantined"] / raw["pages"] if raw.get("pages") else 0.0,
        "pipeline.hash_s": w["pipeline.hash"],
        "pipeline.distinct_ratio": raw["distinct"] / raw["docs"],
        "pipeline.self_s": w["pipeline.run"] - w["pipeline.hash"] - legs_s,
        "pipeline.shuffle_mb": counter("pipeline.run", "shuffle_write_mb"),
        "extract.html_s": w["extract.html"],
        "extract.html.arrow_mb": counter("extract.html", "python_sent_mb"),
        "extract.office_s": w["extract.office"],
        "extract.office.arrow_mb": counter("extract.office", "python_sent_mb"),
        "extract.pdf_s": w["extract.pdf"],
        "extract.column_s": w["extract.column"],
        "extract.python_rows_ratio": python_rows / max(1, sum(leg_rows.values())),
        "warc.scan_s": w["warc.scan"],
        "warc.parse_s": w["warc.parse"],
        "warc.records": raw.get("records", 0),
        "warc.inflated_mb": raw.get("inflated_mb", 0.0),
        "checkpoint.progress_s": w["checkpoint.progress"],
        "checkpoint.resume_probe_s": w["checkpoint.resume_probe"],
        **layer_counters(per),
        "trace.job_s": w["job"],
        "trace.overhead_ratio": w["job"] / untraced_wall - 1,
        "trace.coverage": sum(w[name] for name in _DISJOINT) / untraced_wall,
    }
    units = per_layer_units()
    if set(m) != set(units):
        raise KeyError(f"per-layer metrics differ from BENCHMARK.json: {set(m) ^ set(units)}")
    return {name: {"value": m[name], "unit": unit} for name, unit in units.items()}
