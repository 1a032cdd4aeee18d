"""Corpus scale-up probe with per-stage attribution → BENCH/QUIET_R5.md.

The 100×-question series (r3: ×16→×64 at 2.0× wall; r4: 1.37× after the
zstd codec cut): one more octave. Runs the flagship spans_extract job at
fixed local[32] over deterministically inflated corpora (multiplier ×
inflate, synth.py) and parses each run's event log into PER-STAGE task
time + shuffle bytes, so any super-linear term shows up attributed to its
stage instead of hiding in the wall number.

Usage: python tools/corpus_scaleup.py [sf_dir] [mults...]
  default sf_dir /root/testdata/sf0.1, mults 16 64 256
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from text_extract_api_spark.telemetry import read_stages  # noqa: E402

INFLATE = int(os.environ.get("SPARK_GRAFT_SCALE_INFLATE", "32"))
CORES = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def run_once(sf_dir: str, mult: int) -> dict:
    out = tempfile.mkdtemp(prefix=f"scaleup_{mult}_")
    evl = tempfile.mkdtemp(prefix=f"scaleup_evl_{mult}_")
    env = dict(os.environ)
    env["SPARK_GRAFT_EXTRA_CONF"] = json.dumps(
        {"spark.eventLog.enabled": "true", "spark.eventLog.dir": evl}
    )
    # The single local JVM stands in for CORES executors; a real cluster
    # scales total heap with the fleet, so the probe's heap grows with the
    # corpus (×256 ≈ 12.8 GB of spans needs headroom for cache + 32
    # concurrent task buffers; 16 g measured OOM before shuffles were sized
    # from the corpus (jobrun.Job.size_shuffles), and cache-vs-execution
    # pressure remains real above it).
    env["SPARK_GRAFT_DRIVER_MEM"] = (
        "48g" if mult >= 128 else "24g" if mult >= 64 else "16g"
    )
    try:
        proc = subprocess.run(
            [
                sys.executable,
                os.path.join(REPO, "jobs", "spans_extract.py"),
                "--sf-dir", sf_dir,
                "--out", out,
                "--run-id", f"scaleup-{mult}",
                "--master", f"local[{CORES}]",
                "--multiplier", str(mult),
                "--inflate", str(INFLATE),
                "--warmup",
            ],
            capture_output=True, text=True, timeout=3600, cwd=REPO, env=env,
        )
        lines = [l for l in proc.stdout.strip().splitlines() if l.startswith("{")]
        if not lines:
            return {"mult": mult, "error": proc.stderr[-2000:]}
        r = json.loads(lines[-1])
        stages = read_stages(evl)
        return {
            "mult": mult,
            "docs": r["docs"],
            "sec": r["sec"],
            "docs_per_sec": r["docs_per_sec"],
            "per_doc_ms": round(1000.0 * r["sec"] / max(1, r["docs"]), 4),
            "ambient_load": round(os.getloadavg()[0], 2),
            "total_task_run_s": round(sum(s["run_s"] for s in stages)),
            "total_shuffle_w_mb": round(sum(s["sh_w_mb"] for s in stages), 1),
            "top_stages": [
                {
                    k: round(v, 1) if isinstance(v, float) else v
                    for k, v in s.items() if k != "rdds"
                }
                for s in stages[:8]
            ],
        }
    finally:
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(evl, ignore_errors=True)


def main() -> None:
    args = sys.argv[1:]
    sf_dir = args[0] if args and not args[0].isdigit() else "/root/testdata/sf0.1"
    mults = [int(a) for a in args if a.isdigit()] or [16, 64, 256]
    results = []
    for m in mults:
        r = run_once(sf_dir, m)
        print(json.dumps(r), flush=True)
        results.append(r)
    ok = [r for r in results if "error" not in r]
    if len(ok) >= 2:
        for a, b in zip(ok, ok[1:]):
            ratio = b["sec"] / a["sec"]
            data = b["docs"] / a["docs"]
            print(
                f"# x{a['mult']}->x{b['mult']}: {data:.0f}x data -> "
                f"{ratio:.2f}x wall; per-doc {a['per_doc_ms']} -> "
                f"{b['per_doc_ms']} ms",
                flush=True,
            )


if __name__ == "__main__":
    main()
