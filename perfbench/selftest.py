"""Self-test of the benchmark on smoke-size inputs.

    python3 perfbench/selftest.py

Checks, for every workload:

- ``--trace 0`` prints every end-to-end metric of BENCHMARK.json with its
  unit, and the output check passes;
- ``--trace 1`` prints every per-layer metric with its unit, and the
  layers the workload runs report non-zero times;
- count metrics repeat exactly across two seeds;

and that one corrupted output span makes the check fail
(``failed_frac > 0``), and that a directory holding only the benchmark
exits non-zero without a result. Takes about ten minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("extract_cold", "warc_crawl")
# layer times each workload must report as non-zero in its traced run
EXERCISED = {
    "extract_cold": ("io.input_scan_s", "media.validate_s", "partitioning.repartition_s",
                     "pipeline.hash_s", "extract.html_s", "extract.office_s",
                     "extract.pdf_s", "extract.column_s", "io.results_write_s",
                     "io.cache_append_s", "checkpoint.progress_s",
                     "checkpoint.resume_probe_s"),
    "warc_crawl": ("warc.scan_s", "warc.parse_s", "extract.html_s", "io.results_write_s"),
}
# counts that must not depend on the seed (equal corpus size)
SEED_FREE = ("pipeline.distinct_ratio", "warc.records")


def run(args: list[str], cwd: str = ROOT) -> tuple[int, dict | None]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=900,
    )
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
    return p.returncode, result


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    errors: list[str] = []

    def expect(cond: bool, msg: str) -> None:
        print(("ok   " if cond else "FAIL ") + msg, flush=True)
        if not cond:
            errors.append(msg)

    def smoke(workload: str, seed: int, trace: int, *extra: str) -> dict | None:
        code, res = run(["--workload", workload, "--seed", str(seed), "--seconds", "1",
                         "--trace", str(trace), "--smoke", *extra])
        expect(code == 0 and res is not None, f"{workload} trace={trace} {extra} exits 0 with a result")
        if res is not None:
            expect(set(res) == {"correct", "attempted", "failed", "metrics"},
                   f"{workload} result keys")
        return res

    for wl in WORKLOADS:
        res = smoke(wl, 3, 0)
        if res:
            expect(res["correct"] and res["failed"] == 0 and res["attempted"] > 0,
                   f"{wl} output check passes")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            expect(got == e2e, f"{wl} prints every end-to-end metric with its unit")
        traced = {}
        for seed in (3, 4):
            res = smoke(wl, seed, 1)
            if res:
                traced[seed] = {k: v["value"] for k, v in res["metrics"].items()}
                got = {k: v["unit"] for k, v in res["metrics"].items()}
                expect(got == per_layer, f"{wl} seed={seed} prints every per-layer metric with its unit")
        if len(traced) == 2:
            for name in EXERCISED[wl]:
                expect(traced[3][name] > 0, f"{wl} reports {name} > 0")
            for name in SEED_FREE:
                expect(traced[3][name] == traced[4][name],
                       f"{wl} {name} repeats across seeds ({traced[3][name]})")

    res = smoke("extract_cold", 3, 0, "--corrupt-one")
    if res:
        expect(not res["correct"] and res["failed"] >= 1,
               f"one corrupted span fails the check (failed={res['failed']})")

    bare = os.path.join(ROOT, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    code, res = run(["--workload", "extract_cold", "--seed", "1", "--seconds", "1",
                     "--trace", "0"], cwd=bare)
    expect(code != 0 and res is None, "benchmark-only directory exits non-zero without a result")
    shutil.rmtree(bare, ignore_errors=True)

    print(f"{len(errors)} failure(s)")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
