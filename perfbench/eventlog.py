"""Per-layer trace: time each layer's public call, tag its Spark jobs with
the layer name, and read the layer's task counters back from the Spark
event log.

Every call made through :class:`LayerTracer` runs under
``setJobDescription(<name>)``; the event-log jobs carry that description,
so task CPU, shuffle, spill, failed tasks and bytes sent to Python workers
group by layer (``<layer>`` is the part of the name before the first dot).
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict

TAGGED_LAYERS = ("io", "partitioning", "media", "pipeline", "extract", "warc", "checkpoint")
COUNTERS = ("task_cpu_s", "shuffle_write_mb", "spill_mb", "failed_tasks")
_PY_SENT = "data sent to Python workers"


class LayerTracer:
    def __init__(self, spark):
        self.spark = spark
        self.walls: dict[str, float] = defaultdict(float)

    def run(self, name: str, fn):
        sc = self.spark.sparkContext
        sc.setJobDescription(name)
        try:
            t0 = time.perf_counter()
            out = fn()
            self.walls[name] += time.perf_counter() - t0
        finally:
            sc.setJobDescription(None)
        return out


def materialize(df):
    """Persist and count, so the next layer reads only this one's output."""
    df = df.persist()
    df.count()
    return df


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def read_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Job description → summed task counters over the stages of its jobs."""
    stage_desc: dict[int, str] = {}
    per_desc: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(path) or path.endswith(".crc"):
            continue
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description")
                    for sid in ev.get("Stage IDs", []):
                        stage_desc.setdefault(sid, desc or "")
                elif kind == "SparkListenerTaskEnd":
                    agg = per_desc[stage_desc.get(ev.get("Stage ID"), "")]
                    m = ev.get("Task Metrics") or {}
                    agg["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    sw = m.get("Shuffle Write Metrics") or {}
                    agg["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
                    agg["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
                    reason = (ev.get("Task End Reason") or {}).get("Reason")
                    agg["failed_tasks"] += reason != "Success"
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        if acc.get("Name") == _PY_SENT:
                            agg["python_sent_mb"] += _num(acc.get("Update")) / 1e6
    return per_desc


def layer_counters(per_desc: dict[str, dict[str, float]]) -> dict[str, float]:
    """``<layer>.<counter>`` for every tagged layer (0 when not exercised)."""
    out = {f"{layer}.{c}": 0.0 for layer in TAGGED_LAYERS for c in COUNTERS}
    for desc, agg in per_desc.items():
        layer = desc.split(".")[0]
        if layer in TAGGED_LAYERS:
            for c in COUNTERS:
                out[f"{layer}.{c}"] += agg.get(c, 0.0)
    return out
