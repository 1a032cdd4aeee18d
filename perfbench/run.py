"""Extraction benchmark: one batch job call per iteration, closed loop, one
client, on all of the host's cores (``local[nproc]``, one Spark application).

    python3 perfbench/run.py --workload extract_cold --seed 1 --seconds 20 --trace 0

Workloads (see perfbench/README.md for why each was chosen):

- ``extract_cold``  — ``jobs/spans_extract.py`` over the synth office corpus
  into a fresh, empty output dir (``--waves 1``).
- ``warc_crawl``    — ``jobs/warc_extract.py`` over gzip-per-record WARC
  segments (more segments than cores).

Every job output is checked per document against a digest of the
cache-free extraction path. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics (see
perfbench/layers.py). A full record of each run (environment, Spark conf,
load average, per-call figures) is written under ``.perfbench_work/records``.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

WORKLOADS = ("extract_cold", "warc_crawl")
DRIVER_MEM = "3g"


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def pin_env(work: str) -> int:
    """Pin the run environment before pyspark is imported."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher too: temp files in the checkout,
    # no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Python workers import the package from the checkout, whatever the cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    for var in ("SPARK_GRAFT_EXTRA_CONF", "SPARK_GRAFT_SHUFFLE_PARTITIONS",
                "SPARK_GRAFT_CRASH_AFTER_RESULTS", "SPARK_GRAFT_STRATEGY_CONFIG",
                "SPARK_GRAFT_SF_DIR"):
        os.environ.pop(var, None)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return cpus


def session_conf(work: str, extra: dict[str, str]) -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed heap: left to G1's sizing it varies by run, and job speed with it
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM}",
        **extra,
    }


def start_session(conf: dict[str, str]):
    from text_extract_api_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def source_id() -> dict[str, str | None]:
    """git commit when the checkout is a repository, and always a digest of
    the program sources the benchmark runs."""
    try:
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10, check=True,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        commit = None
    h = hashlib.sha256()
    for top in ("text_extract_api_spark", "jobs", "conf"):
        for dirpath, dirnames, filenames in sorted(os.walk(os.path.join(ROOT, top))):
            dirnames.sort()
            for fn in sorted(filenames):
                if fn.endswith((".py", ".yaml")):
                    path = os.path.join(dirpath, fn)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as f:
                        h.update(f.read())
    return {"git_commit": commit, "source_sha256": h.hexdigest()}


def shutdown_spark(spark) -> None:
    """Stop the session and the JVM, and wait until every process this run
    started (JVM, Python daemon and workers) has ended."""
    from pyspark import SparkContext

    from perfbench.procstat import descendants

    started = descendants()
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while True:
        alive = [p for p in started if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                with contextlib.suppress(OSError):
                    os.kill(p, signal.SIGKILL)
            deadline = time.monotonic() + 30
        time.sleep(0.1)


def quartiles(values: list[float]) -> list[float]:
    if len(values) < 2:
        return [values[0]] * 3
    return statistics.quantiles(values, n=4)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, for the benchmark's own self-test")
    ap.add_argument("--corrupt-one", action="store_true",
                    help="self-test: corrupt one output span before the check")
    args = ap.parse_args(argv)

    if not (os.path.isdir(os.path.join(ROOT, "text_extract_api_spark"))
            and os.path.isfile(os.path.join(ROOT, "jobs", "spans_extract.py"))):
        _fail(f"no program sources under {ROOT}; run from a full checkout")

    t_process = time.perf_counter()
    run_dir = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cpus = pin_env(run_dir)

    from perfbench.workloads import SIZES, make_workload

    size = SIZES["smoke" if args.smoke else "full"]
    wl = make_workload(args.workload, run_dir, args.seed, size)
    spark, session_s = start_session(session_conf(run_dir, wl.session_conf))
    try:
        with contextlib.redirect_stdout(sys.stderr):
            wl.setup(spark)
        setup_s = time.perf_counter() - t_process
        conf = dict(spark.sparkContext.getConf().getAll())
        # a traced run needs one untraced call, the base of coverage and
        # overhead; one call keeps it inside the run time limit
        n_calls = 1 if args.trace else wl.n_calls(args.seconds)
        calls = wl.timed_loop(spark, n_calls, corrupt=args.corrupt_one)
        traced = None
        if args.trace:
            spark.stop()
            evl = os.path.join(run_dir, "eventlog")
            os.makedirs(evl)
            spark, _ = start_session(session_conf(run_dir, {
                **wl.session_conf,
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": evl,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }))
            with contextlib.redirect_stdout(sys.stderr):
                traced = wl.traced_run(spark)
            spark.stop()
            from perfbench.layers import layer_metrics

            traced = layer_metrics(traced, evl, session_s, calls[0]["wall_s"])
    finally:
        shutdown_spark(spark)

    attempted = sum(c["attempted"] for c in calls)
    failed = sum(c["failed"] for c in calls)
    walls = [c["wall_s"] for c in calls]
    # best call for the rates, in practice the warm one: the first call of a
    # process carries the JIT warm-up, and contention on a shared host only
    # ever slows a call (the run record keeps every call)
    e2e = {
        "docs_per_sec": {"value": max(
            (c["attempted"] - c["failed"]) / c["wall_s"] for c in calls), "unit": "docs/s"},
        "cpu_s_per_kdoc": {"value": min(
            c["cpu_s"] * 1000 / c["attempted"] for c in calls), "unit": "s"},
        "peak_rss_mb": {"value": statistics.median(c["peak_rss_mb"] for c in calls),
                        "unit": "MB"},
        "setup_s": {"value": setup_s, "unit": "s"},
    }
    metrics = traced if args.trace else e2e
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "smoke": args.smoke, "cpus": cpus,
        "master": f"local[{cpus}]", **source_id(),
        "size": size, "session_start_s": session_s, "setup_s": setup_s,
        "setup_phases": wl.setup_phases,
        "failed_frac": failed / attempted,
        "wall_s": {"median": statistics.median(walls), "quartiles": quartiles(walls),
                   "n": len(walls)},
        "calls": calls, "end_to_end": e2e, "per_layer": traced,
        "spark_conf": conf,
    }
    rec_dir = os.path.join(WORK, "records")
    os.makedirs(rec_dir, exist_ok=True)
    rec_name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json"
    with open(os.path.join(rec_dir, rec_name), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(
        f"perfbench: {args.workload} seed={args.seed} calls={len(walls)} "
        f"wall_median={statistics.median(walls):.3f}s q={quartiles(walls)} "
        f"failed_frac={failed / attempted:.6f} record={rec_name}",
        file=sys.stderr,
    )
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    # import perfbench as a package from the checkout root, and keep this
    # directory off sys.path so its module names shadow nothing
    sys.path[0] = ROOT
    sys.exit(main())
