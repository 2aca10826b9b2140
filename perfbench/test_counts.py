#!/usr/bin/env python3
"""The benchmark's own test: deterministic counts repeat exactly.

Runs the traced form of `store_sync` and `batch_curate` twice each with one
seed and asserts that the counts the benchmark reports as counts (Spark
jobs, tasks and files written per store version, jobs per search, Spark
jobs per curation pass) are identical across the two runs. A count that drifts between runs of one commit cannot be used as
evidence for a change.

Usage (from the repository root): python3 perfbench/test_counts.py
"""
import json
import pathlib
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
COUNTS = {
    "store_sync": ["store.jobs_per_version", "store.tasks_per_version",
                   "store.files_written_per_version", "index.search_jobs_p50"],
    "batch_curate": ["curate.jobs_per_pass", "dedup.lsh_candidates"],
}


def traced(workload: str, seed: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "5", "--trace", "1"],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True).stdout
    return json.loads(out.strip().split("\n")[-1])["metrics"]


def main() -> int:
    failures = []
    for workload, names in COUNTS.items():
        a, b = traced(workload, 3), traced(workload, 3)
        for n in names:
            va, vb = a[n]["value"], b[n]["value"]
            status = "ok" if va == vb else "DIFFERS"
            print(f"{workload:<13} {n:<36} {va} {vb} {status}")
            if va != vb:
                failures.append(n)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
