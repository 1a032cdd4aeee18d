"""SparkSession factory with scale-oriented defaults.

Local mode stands in for the cluster in this sandbox; every setting here is
chosen to survive a 1000-executor / 100 TB deployment:

- ``spark.sql.shuffle.partitions`` is the master's task slots: N for
  ``local[N]``, executors × cores for ``local-cluster[executors,cores,mem]``
  and ``SPARK_GRAFT_CPUS`` for ``local[*]`` or a master without a count. A
  job that knows its corpus size raises it from there
  (``jobrun.Job.size_shuffles``).
- AQE on (runtime coalesce + skew-join splitting) — the engine's media-size
  skew handling is this runtime splitting, not a static salted layout.
- Arrow batch size bounded so one oversized media document cannot blow up a
  Python worker (the reference bounds the same risk with Celery
  ``worker_max_memory_per_child``, celery_app.py:20-22).
- UTC session timezone so results compare bit-for-bit against the DuckDB
  oracle and across clusters.
- A fixed young generation, a sixth of the heap, for a driver JVM this
  factory launches. Left to G1's adaptive sizing, eden grows toward 60% of
  the heap, and a job touches fresh heap pages until it has filled one
  full-size eden. Whether a call did so depended on when the collection
  before it happened: the same ``warc_extract`` call peaked at 2.4 or
  2.8 GB of JVM RSS from one run to the next under a 3g heap. A fixed eden
  is cycled within the first seconds, so the footprint stays put and no
  call pays for zeroing fresh pages.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

from .pyfiles import PACKAGE, build_zip


def get_spark(
    app_name: str = "text_extract_api_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    n = master[master.find("[") + 1 : master.find("]")] if "[" in master else str(cpus)
    if master.startswith("local-cluster"):
        execs, cores = (int(x) for x in n.split(",")[:2])
        slots = execs * cores
    else:
        slots = cpus if n == "*" else int(n)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(slots))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE coalesce defaults (parallelismFirst=true, 64 MB advisory) kept
        # deliberately. They do NOT size the extraction stage: its legs read
        # one explicit-count exchange (pipeline.run_extract_pipeline), which
        # AQE never coalesces, so each leg runs shuffle.partitions tasks. A
        # measured experiment with 16 MB + parallelismFirst=false ran 25-35%
        # SLOWER at local[8] — per-task Python-worker handoff and
        # exchange-read overhead outweigh tail smoothing at this batch size.
        # ZSTD shuffle/broadcast/spill compression (r4, measured): cuts the
        # flagship job's shuffled bytes 579→244 MB (2.37×) with task CPU
        # flat and wall never worse in an interleaved lz4/zstd A/B
        # (BENCH/BASELINE.md, r4). Shuffled bytes are the
        # scaling currency — DRAM-bus sharing is the N→4N residual on
        # multi-tenant hosts, and at 100 TB they are real network/disk.
        .config("spark.io.compression.codec", "zstd")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Bound Arrow batch size: one batch of oversized media spans must fit
        # in a Python worker (analog of the reference's worker memory cap).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # prepended to spark.driver.extraJavaOptions, so a caller's own JVM
        # options still apply (and a later -Xmn or NewRatio there wins)
        .config("spark.driver.defaultJavaOptions", "-XX:NewRatio=5")
    )
    env_conf = os.environ.get("SPARK_GRAFT_EXTRA_CONF")
    if env_conf:
        import json

        for k, v in json.loads(env_conf).items():
            builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if not master.startswith("local[") and master != "local":
        _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Ship the engine package to executors as a py-files zip.

    Plain ``local[N]`` runs Python workers in the driver's environment, so
    the checkout on ``sys.path`` suffices — but any master with SEPARATE
    executor JVMs (``local-cluster``, standalone, YARN, k8s) spawns
    workers that cannot see it, and every Arrow stage dies with
    ``ModuleNotFoundError`` (r5: caught by the first real
    ``local-cluster[2,4,…]`` smoke run). Explicit ``spark-submit
    --py-files dist/text_extract_api_spark.zip`` (tools/package_pyfiles.py)
    remains the deployment path; this makes the jobs correct by default
    on any master. Skips when a py-files copy of the package is already
    shipped (idempotent under getOrCreate reuse)."""
    includes = getattr(spark.sparkContext, "_python_includes", None) or []
    if any(PACKAGE in inc for inc in includes):
        return
    zip_path = build_zip(os.path.join(
        tempfile.mkdtemp(prefix="spark_graft_pyfiles_"), f"{PACKAGE}.zip"
    ))
    spark.sparkContext.addPyFile(zip_path)
