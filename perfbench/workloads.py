"""The workloads: seeded set-up, the timed job call, the output check and
the traced run."""

from __future__ import annotations

import contextlib
import importlib.util
import os
import shutil
import sys
import time
import traceback

from pyspark.sql import functions as F

from perfbench import corpus, layers
from perfbench.check import check_results, corrupt_one, reference_digests
from perfbench.eventlog import LayerTracer
from perfbench.procstat import (
    cpu_seconds,
    descendants,
    loadavg,
    peak_rss_mb,
    reset_peak_rss,
    steal_seconds,
)
from text_extract_api_spark.extractors.media import validate_media_pages
from text_extract_api_spark.ingest import read_binary_files
from text_extract_api_spark.io import read_table, write_table
from text_extract_api_spark.synth import synthesize_interleaved_office

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# extract_cold: the first ``docs`` documents of the corpus profile through
# synth with ``multiplier``/``inflate``; warc_crawl: ``warc_multiplier``
# records per document of the first ``warc_docs``, text repeated
# ``warc_inflate`` times
SIZES = {
    "full": {"docs": 5000, "multiplier": 3, "inflate": 8,
             "warc_docs": 5000, "warc_multiplier": 2, "warc_inflate": 16,
             "warc_segments": 16},
    "smoke": {"docs": 150, "multiplier": 1, "inflate": 1,
              "warc_docs": 100, "warc_multiplier": 1, "warc_inflate": 1,
              "warc_segments": 5},
}
N_BUCKETS = 64
# the conf jobs/spans_extract.py sets on a session it creates itself
SPANS_JOB_CONF = {
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
}


def load_job(name: str):
    spec = importlib.util.spec_from_file_location(
        f"perfbench_job_{name}", os.path.join(ROOT, "jobs", f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Workload:
    session_conf: dict[str, str] = {}

    def __init__(self, name: str, run_dir: str, seed: int, size: dict):
        self.name = name
        self.dir = run_dir
        self.seed = seed
        self.size = size
        self.reference: dict[str, str] = {}
        self.setup_phases: dict[str, float] = {}
        self._n_out = 0
        self._t_phase = time.perf_counter()

    def phase(self, name: str) -> None:
        """Close the current set-up phase and record its duration."""
        now = time.perf_counter()
        self.setup_phases[name] = now - self._t_phase
        self._t_phase = now

    def fresh_out(self) -> str:
        """A new, empty output dir; a reused one would carry a cache."""
        self._n_out += 1
        out = os.path.join(self.dir, f"out{self._n_out}")
        shutil.rmtree(out, ignore_errors=True)
        return out

    def run_job(self, spark, out: str, run_id: str) -> None:
        raise NotImplementedError

    def read_results(self, spark, out: str, run_id: str):
        return read_table(spark, f"{out}/results").filter(F.col("run_id") == run_id)

    def n_calls(self, seconds: float) -> int:
        """Job calls per run: ``seconds`` ÷ the workload's nominal call time.
        A fixed count, not a deadline, so every run samples the same calls
        of the JVM's warm-up (the first call is slower and per-call CPU
        still falls after it); a deadline would compare 2 calls in one run
        with 3 in the next."""
        return max(1, round(seconds / self.nominal_call_s))

    def timed_loop(self, spark, n_calls: int, corrupt: bool = False) -> list[dict]:
        """Closed loop, one client: ``n_calls`` job calls back to back. Only
        the job call is timed; the output check and clean-up run between
        calls."""
        calls = []
        for _ in range(n_calls):
            run_id = f"bench-{len(calls)}"
            out = self.fresh_out()
            pids = descendants()
            reset_peak_rss(pids)
            load_before = loadavg()
            cpu0 = cpu_seconds(pids)
            steal0 = steal_seconds()
            t0 = time.perf_counter()
            raised = None
            try:
                with contextlib.redirect_stdout(sys.stderr):
                    self.run_job(spark, out, run_id)
            except Exception:  # a job that raises fails every doc; keep measuring
                raised = traceback.format_exc()
                print(raised, file=sys.stderr)
            wall = time.perf_counter() - t0
            pids = descendants()
            cpu = cpu_seconds(pids) - cpu0
            steal = steal_seconds() - steal0
            rss = peak_rss_mb(pids)
            load_after = loadavg()
            if raised is None:
                results = self.read_results(spark, out, run_id)
                if corrupt:
                    results = corrupt_one(results, min(self.reference))
                attempted, failed, reasons = check_results(results, self.reference)
            else:
                attempted = failed = len(self.reference)
                reasons = {"job_raised": failed}
            spark.catalog.clearCache()
            shutil.rmtree(out, ignore_errors=True)
            calls.append({
                "wall_s": wall, "cpu_s": cpu, "peak_rss_mb": sum(rss.values()),
                "peak_rss_split_mb": rss,
                "attempted": attempted, "failed": failed, "reasons": reasons,
                "loadavg_before": load_before, "loadavg_after": load_after,
                "host_steal_s": steal,
            })
        return calls

    def traced_job_call(self, spark, tracer) -> None:
        """The job call with the event log on. Made after the layer calls,
        which warm the event-logged context (its Python workers start anew),
        so it compares with the warm untraced calls."""
        out = self.fresh_out()
        tracer.run("job", lambda: self.run_job(spark, out, "traced-job"))
        spark.catalog.clearCache()
        shutil.rmtree(out, ignore_errors=True)


class SpansWorkload(Workload):
    """``jobs/spans_extract.py`` over the synth office corpus."""

    session_conf = SPANS_JOB_CONF
    nominal_call_s = 20.0
    waves = 1
    n_buckets = N_BUCKETS

    def __init__(self, name, run_dir, seed, size):
        super().__init__(name, run_dir, seed, size)
        self.job = load_job("spans_extract")
        inp = os.path.join(run_dir, "input")
        self.docs_loc = f"{inp}/docs"
        self.media_loc = f"{inp}/media"
        self.office_loc = f"{inp}/office"

    def setup(self, spark) -> None:
        self.phase("session")
        sf = os.path.join(self.dir, "sf")
        corpus.write_documents(
            f"{sf}/documents.parquet", corpus.documents(self.size["docs"], self.seed)
        )
        docs, media, office = synthesize_interleaved_office(
            spark, sf, self.size["multiplier"], self.size["inflate"]
        )
        write_table(docs, self.docs_loc, mode="overwrite")
        write_table(media, self.media_loc, mode="overwrite")
        write_table(office, self.office_loc, mode="overwrite")
        self.phase("corpus")
        validated = validate_media_pages(read_table(spark, self.media_loc))
        media_ok = validated.filter(F.col("valid")).select("media_ref", "page_no", "page_text")
        self.reference = reference_digests(
            spark, read_table(spark, self.docs_loc), media_ok, read_table(spark, self.office_loc)
        )
        self.phase("reference")
        spark.catalog.clearCache()

    def run_job(self, spark, out: str, run_id: str) -> None:
        self.job.main([
            "--input-table", self.docs_loc,
            "--media-table", self.media_loc,
            "--office-table", self.office_loc,
            "--out", out, "--run-id", run_id,
            "--waves", str(self.waves), "--n-buckets", str(self.n_buckets),
        ], spark=spark)

    def traced_run(self, spark) -> dict:
        tracer = LayerTracer(spark)
        raw = layers.trace_spans(spark, tracer, self, self.fresh_out())
        self.traced_job_call(spark, tracer)
        return {"walls": dict(tracer.walls), **raw}


class WarcWorkload(Workload):
    """``jobs/warc_extract.py`` over gzip-per-record WARC segments."""

    nominal_call_s = 20.0

    def __init__(self, name, run_dir, seed, size):
        super().__init__(name, run_dir, seed, size)
        self.job = load_job("warc_extract")
        self.seg_dir = os.path.join(run_dir, "segments")
        self.ref_docs_loc = os.path.join(run_dir, "input", "ref_docs")

    def setup(self, spark) -> None:
        self.phase("session")
        records = corpus.warc_records(
            corpus.documents(self.size["warc_docs"], self.seed),
            self.size["warc_multiplier"], self.size["warc_inflate"], self.seed,
        )
        segments = corpus.write_warc_segments(
            self.seg_dir, records, self.size["warc_segments"], self.seed
        )
        uris = {
            os.path.basename(r["path"]): r["path"]
            for r in read_binary_files(spark, self.seg_dir).select("path").collect()
        }
        # the documents the job should derive, built here from the records
        # themselves: one doc per response, html/text decoded, others as
        # refs; written with pyarrow, which is much faster than shipping the
        # rows through createDataFrame
        parts = []
        for s, recs in enumerate(segments):
            uri = uris[f"seg-{s:03d}.warc.gz"]
            doc_ids, spans = [], []
            for rec_no, (url, body, ctype) in enumerate(recs, 1):
                if ctype.startswith("text/"):
                    kind = "html" if ctype.startswith("text/html") else "text"
                    span = {"kind": kind, "text": body.decode("utf-8"), "media_ref": "",
                            "offset": 0}
                else:
                    span = {"kind": "image", "text": "", "media_ref": url, "offset": 0}
                doc_ids.append(f"{uri}#{rec_no}")
                spans.append([span])
            parts.append((doc_ids, spans))
        corpus.write_ref_docs(self.ref_docs_loc, parts)
        self.phase("corpus")
        self.reference = reference_digests(spark, read_table(spark, self.ref_docs_loc))
        self.phase("reference")
        spark.catalog.clearCache()

    def run_job(self, spark, out: str, run_id: str) -> None:
        self.job.main(["--input", self.seg_dir, "--out", out, "--run-id", run_id], spark=spark)

    def traced_run(self, spark) -> dict:
        tracer = LayerTracer(spark)
        raw = layers.trace_warc(spark, tracer, self, self.fresh_out())
        self.traced_job_call(spark, tracer)
        return {"walls": dict(tracer.walls), **raw}


def make_workload(name: str, run_dir: str, seed: int, size: dict) -> Workload:
    cls = WarcWorkload if name == "warc_crawl" else SpansWorkload
    return cls(name, run_dir, seed, size)
