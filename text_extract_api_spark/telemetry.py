"""Spark event-log reader: per-stage task counters.

A run started with ``spark.eventLog.enabled=true`` writes one JSON event
per line under ``spark.eventLog.dir``: a plain file, a ``.zstd`` file
(``spark.eventLog.compress`` with Spark's default zstd codec), or a
rolling ``eventlog_v2_*`` directory of ``events_*`` files.
:func:`read_stages` walks all of them and sums the
``SparkListenerTaskEnd`` metrics per stage, so a scale probe can attribute
its wall time and shuffle bytes to the stage that spent them, and lists
the RDDs each stage ran (a ``PythonRDD`` among them means the stage fed a
Python worker through the RDD path). Stage ids are per application: give
each run its own log directory.
"""

from __future__ import annotations

import glob
import json
import os

COUNTERS = ("run_s", "cpu_s", "gc_s", "sh_r_mb", "sh_w_mb", "n_tasks")


def _lines(path: str):
    if path.endswith(".zstd"):
        import pyarrow as pa

        with pa.CompressedInputStream(pa.OSFile(path), "zstd") as f:
            data = f.read()
    else:
        with open(path, "rb") as f:
            data = f.read()
    return data.decode("utf-8", "replace").splitlines()


def read_stages(evl_dir: str) -> list[dict]:
    """Per-stage ``{stage, name, rdds, run_s, cpu_s, gc_s, sh_r_mb,
    sh_w_mb, n_tasks}`` over every event log under ``evl_dir``: task run,
    CPU and GC seconds, shuffle MB read (local + remote) and written, and
    the task count. ``name`` is the first line of the stage's callsite name
    and ``rdds`` the names of the RDDs in its lineage, in event-log order
    (both from the stage's completion event; ``"?"`` and ``[]`` without
    one). Sorted by ``run_s``, largest first."""
    stages: dict[int, dict] = {}
    names: dict[int, str] = {}
    rdds: dict[int, list[str]] = {}
    for path in sorted(glob.glob(os.path.join(evl_dir, "**", "*"), recursive=True)):
        if os.path.isdir(path) or path.endswith(".crc"):
            continue
        for line in _lines(path):
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            if ev.get("Event") == "SparkListenerStageCompleted":
                si = ev.get("Stage Info") or {}
                sid = si.get("Stage ID", -1)
                names[sid] = si.get("Stage Name") or "?"
                rdds[sid] = [r.get("Name", "?") for r in si.get("RDD Info") or []]
            elif ev.get("Event") == "SparkListenerTaskEnd":
                s = stages.setdefault(
                    ev.get("Stage ID", -1), dict.fromkeys(COUNTERS, 0)
                )
                m = ev.get("Task Metrics") or {}
                s["run_s"] += m.get("Executor Run Time", 0) / 1000
                s["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                s["gc_s"] += m.get("JVM GC Time", 0) / 1000
                sr = m.get("Shuffle Read Metrics") or {}
                s["sh_r_mb"] += (
                    sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0)
                ) / 1e6
                sw = m.get("Shuffle Write Metrics") or {}
                s["sh_w_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
                s["n_tasks"] += 1
    out = [
        {
            "stage": sid,
            "name": names.get(sid, "?").split("\n")[0][:60],
            "rdds": rdds.get(sid, []),
            **s,
        }
        for sid, s in stages.items()
    ]
    return sorted(out, key=lambda s: -s["run_s"])
