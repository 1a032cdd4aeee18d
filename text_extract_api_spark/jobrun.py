"""The scaffolding every job under ``jobs/`` shares.

The reference runs one Celery task per upload (``extract/tasks.py:18-96``);
the engine runs resumable batch jobs instead. Each job is a ``main(argv,
spark=None)`` that builds its own arguments on ``arg_parser``, opens a
``Job`` and then runs two kinds of resumable unit:

- ``Job.run_stage`` — a GLOBAL stage (its output depends on every input
  row): skip if its ``stage:<name>`` marker exists, else write, crash point,
  marker;
- ``Job.run_waves`` — per-document work split into wave groups of buckets
  (``checkpoint.py``): a wave is written whole into its ``(run_id, wave)``
  partition, then its buckets are marked done.

Both put the output write before the marker, and every output is a
deterministic overwrite, so a crash between the two re-does one stage or
one wave onto identical rows. ``SPARK_GRAFT_CRASH_AFTER=<point>`` raises
inside exactly that window (``crash_point``) for the crash-window tests.
"""

from __future__ import annotations

import argparse
import json
import os
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from .checkpoint import (
    completed_buckets,
    completed_stages,
    observe_extraction,
    write_progress,
    write_stage_marker,
)
from .io import read_table, write_table
from .session import get_spark

_JOB_CONF = {
    # per-wave re-writes replace only their own (run_id, wave) partition
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    # v2 commit: tasks move their own files at task-commit instead of the
    # driver serially renaming every file at job end — the serial rename is
    # pure non-scaling overhead on multi-file writes
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
}

# Shuffle sizing (``Job.size_shuffles``): the per-task byte budget, equal to
# AQE's advisory partition size, and the most partitions the rule asks for.
TARGET_PARTITION_MB = 64
MAX_SHUFFLE_PARTITIONS = 2048


def arg_parser(
    run_id: str, *, waves: bool = False, run_ts: bool = True
) -> argparse.ArgumentParser:
    """The flags the jobs share: ``--out``, ``--run-id`` (default
    ``run_id``), ``--master`` and ``--run-ts``; with ``waves`` also the
    resumable jobs' ``--sf-dir``, ``--waves``, ``--n-buckets`` and
    ``--resume``."""
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--run-id", default=run_id)
    ap.add_argument("--master", default=None)
    if run_ts:
        ap.add_argument("--run-ts", default="2026-01-01 00:00:00")
    if waves:
        ap.add_argument(
            "--sf-dir",
            default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
        )
        ap.add_argument("--waves", type=int, default=1)
        ap.add_argument("--n-buckets", type=int, default=64)
        ap.add_argument("--resume", action="store_true")
    return ap


def crash_point(point: str) -> None:
    """Test hook: raise when ``SPARK_GRAFT_CRASH_AFTER`` names ``point`` —
    called right after an output write, before its marker."""
    if os.environ.get("SPARK_GRAFT_CRASH_AFTER") == point:
        raise RuntimeError(f"injected crash: {point} written, marker not")


class Job:
    """One job run: its session, arguments, progress table and clock.

    ``spark=None`` creates a session that ``finish`` stops. An injected
    session (tests, benches) is left running with two settings changed and
    never reset: it is switched to dynamic partition overwrite, which
    idempotent wave re-writes need, and ``size_shuffles`` may raise its
    ``spark.sql.shuffle.partitions``."""

    def __init__(self, app: str, args, spark: SparkSession | None = None):
        self.args = args
        self.own_session = spark is None
        if self.own_session:
            spark = get_spark(app, master=args.master, extra_conf=_JOB_CONF)
        else:
            key = "spark.sql.sources.partitionOverwriteMode"
            spark.conf.set(key, _JOB_CONF[key])
        self.spark = spark
        self.progress_loc = f"{args.out}/progress"
        self._stages: set[str] | None = None
        self.start_clock()

    def start_clock(self) -> None:
        """Start the summary's ``sec`` window (set-up before it is excluded)."""
        self.t0 = time.time()

    def size_shuffles(self, nbytes: int) -> None:
        """Raise ``spark.sql.shuffle.partitions`` to ``nbytes /
        TARGET_PARTITION_MB + 1``, capped at ``MAX_SHUFFLE_PARTITIONS``;
        never lower it.

        ``nbytes`` is the measured corpus size, read from an ``Observation``
        riding an action the job runs anyway. The ×256 scale-up probe caught
        the failure this prevents: at a fixed 32 partitions every reassembly
        task took ~400 MB of a 12.8 GB span corpus, and 32 such concurrent
        object-agg buffers blew the heap. Per-task bytes stay bounded only
        if the count grows with the data. AQE cannot do it alone, as it
        never splits beyond the initial count, and AQE coalesces partitions
        that come out small, so oversizing costs little.

        The count from the master (``get_spark``), or one pinned through
        ``SPARK_GRAFT_EXTRA_CONF``, is the floor."""
        key = "spark.sql.shuffle.partitions"
        cur = int(self.spark.conf.get(key))
        need = min(
            MAX_SHUFFLE_PARTITIONS,
            int(nbytes / (TARGET_PARTITION_MB * 1024 * 1024)) + 1,
        )
        if need > cur:
            self.spark.conf.set(key, str(need))

    def run_stage(
        self, name: str, write: Callable[[], dict | None]
    ) -> None:
        """Run a global stage unless resume finds its marker. ``write``
        writes the stage output and may return metrics for the marker."""
        if self._stages is None:
            self._stages = (
                completed_stages(self.spark, self.progress_loc, self.args.run_id)
                if self.args.resume else set()
            )
        if name in self._stages:
            return
        metrics = write()
        crash_point(name)
        write_stage_marker(
            self.spark, self.progress_loc, self.args.run_id, self.args.run_ts,
            name, metrics,
        )

    def run_waves(
        self,
        docs: DataFrame,
        location: str,
        compute: Callable[[DataFrame], DataFrame],
        after_write: Callable[[DataFrame], None] | None = None,
    ) -> dict[str, int]:
        """Per-document work in ``--waves`` groups; returns summed
        docs/spans/bytes of the waves it computed.

        ``docs`` carries a ``bucket`` column; ``compute(wave_docs)``
        returns the wave's rows, also with ``bucket``. They are written to
        ``location`` partitioned by ``(run_id, wave)``; the written rows are
        re-read (a cheap columnar scan, not the compute lineage) for
        ``after_write`` and the ``done`` markers.

        Resume is wave-granular: the run's done buckets (at most
        ``n_buckets`` rows) come to the driver once; a wave whose buckets
        are all marked is skipped with no Spark action; any other wave is
        recomputed whole — its partition overwrite would drop rows of
        buckets left out — and only its unmarked buckets get markers. A
        bucket without documents never gets a marker, so its wave is
        recomputed (idempotently) on every resume.
        """
        args = self.args
        done: set[int] = set()
        if args.resume:
            done = {
                r["bucket"] for r in completed_buckets(
                    self.spark, self.progress_loc, args.run_id
                ).collect()
            }
        name = os.path.basename(location)
        totals = {"docs": 0, "spans": 0, "bytes": 0}
        for wave in range(args.waves):
            if done.issuperset(range(wave, args.n_buckets, args.waves)):
                continue
            wave_docs = docs.filter(
                F.pmod(F.col("bucket"), F.lit(args.waves)) == wave
            )
            rows = compute(wave_docs).withColumn(
                "run_id", F.lit(args.run_id)
            ).withColumn("wave", F.lit(wave))
            # metrics ride the write action — no separate counting pass
            rows, obs = observe_extraction(rows, f"wave_{wave}")
            write_table(
                rows, location, mode="overwrite", partition_by=["run_id", "wave"]
            )
            crash_point(f"{name}_wave_{wave}")
            written = read_table(self.spark, location).filter(
                (F.col("run_id") == args.run_id) & (F.col("wave") == wave)
            )
            if after_write is not None:
                after_write(written)
            if done:
                written = written.filter(~F.col("bucket").isin(*done))
            metrics = obs.get
            # the milestone row rides the marker append (one action)
            write_progress(
                written, self.progress_loc, args.run_id, args.run_ts,
                milestone=(f"wave_{wave}_{name}", metrics),
            )
            for k in totals:
                totals[k] += int(metrics.get(k) or 0)
        return totals

    def finish(self, rate_docs: int | None = None, **summary) -> dict:
        """Print the one-line JSON summary (``run_id``, the given fields,
        ``sec`` and, given ``rate_docs``, ``docs_per_sec``) and stop an
        owned session."""
        wall = time.time() - self.t0
        summary = {"run_id": self.args.run_id, **summary, "sec": round(wall, 3)}
        if rate_docs is not None:
            summary["docs_per_sec"] = round(rate_docs / wall, 2) if wall > 0 else None
        print(json.dumps(summary))
        if self.own_session:
            self.spark.stop()
        return summary
