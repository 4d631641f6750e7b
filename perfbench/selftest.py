"""Self-test of the benchmark.

    python3 perfbench/selftest.py

* a tiny run of every workload, untraced and traced, must pass every check
  and report every metric declared in ``BENCHMARK.json`` with its unit;
* a run whose first exact-top-5 reference is corrupted must count exactly
  one failed op and report ``correct: false``;
* the command, run in a directory holding only ``BENCHMARK.json`` and this
  benchmark (no package), must exit non-zero without printing a result.
"""

from __future__ import annotations

import math
import shutil
import subprocess
import sys

import run
import system


def check_tiny_runs() -> None:
    for workload in system.WORKLOADS:
        for trace in (False, True):
            _, result = run.run(workload, seed=7, seconds=0, trace=trace, sized=system.tiny)
            label = f"{workload} trace={int(trace)}"
            assert result["correct"] and result["failed"] == 0, f"{label}: {result}"
            assert result["attempted"] >= 1, label
            units = {k: v["unit"] for k, v in result["metrics"].items()}
            assert units == run.declared_metrics(run.ROOT, trace), f"{label}: {units}"
            bad = [k for k, v in result["metrics"].items() if not math.isfinite(v["value"])]
            assert not bad, f"{label}: non-finite {bad}"
            print(f"ok   {label}: {result['attempted']} ops", flush=True)


def check_corrupted_answer_counts() -> None:
    real, calls = system.reference_pool, []

    def corrupted(snapshot, q, k=5):
        pool = real(snapshot, q, k)
        calls.append(1)
        if len(calls) == 1:  # the first reference built: the first query's
            pool = [(pool[0][0], "corrupted-id")] + pool[1:]
        return pool

    system.reference_pool = corrupted
    try:
        _, result = run.run("ingest_bulk", seed=7, seconds=0, trace=False, sized=system.tiny)
    finally:
        system.reference_pool = real
    assert result["failed"] == 1 and not result["correct"], result
    print("ok   a corrupted expected answer counts as one failed op", flush=True)


def check_fails_without_package() -> None:
    alone = run.ROOT / ".perfbench_selftest"
    shutil.rmtree(alone, ignore_errors=True)
    alone.mkdir()
    try:
        shutil.copy(run.ROOT / "BENCHMARK.json", alone)
        shutil.copytree(run.ROOT / "perfbench", alone / "perfbench",
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "ingest_bulk",
                            "--seed", "1", "--seconds", "1", "--trace", "0"],
                           cwd=alone, capture_output=True, text=True, timeout=180)
    finally:
        shutil.rmtree(alone)
    assert p.returncode != 0 and '"metrics"' not in p.stdout, (p.returncode, p.stdout)
    print("ok   without the package the command exits non-zero and prints no result", flush=True)


if __name__ == "__main__":
    check_fails_without_package()
    check_tiny_runs()
    check_corrupted_answer_counts()
