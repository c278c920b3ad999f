#!/usr/bin/env python3
"""Smoke test of the benchmark itself.

    python3 perfbench/smoke.py

Runs one op per workload at a tiny input, untraced and traced, and
asserts that the run passes its own output checks, that every metric
named in BENCHMARK.json is reported with its unit, and that the traced
op's span job groups cover every job the op launched.  Then checks that
the benchmark refuses to run, without printing a result, from a directory
that holds only BENCHMARK.json and the benchmark's own files.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SCALE = "0.02"


def bench(cwd: Path, *args: str) -> subprocess.CompletedProcess:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return subprocess.run(spec["command"] + list(args), cwd=cwd, capture_output=True,
                          text=True, timeout=600)


def run_one(workload: str, trace: int, spec: dict) -> None:
    proc = bench(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
                 "--trace", str(trace), "--scale", SCALE)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    assert result["correct"] and result["failed"] == 0, proc.stderr[-3000:]
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want, f"metrics differ: missing {want.keys() - got.keys()}, " \
                        f"extra {got.keys() - want.keys()}, units {set(want.items()) ^ set(got.items())}"
    m = {k: v["value"] for k, v in result["metrics"].items()}
    if trace:
        assert m["session.unattributed_jobs"] == 0, m
        assert m["session.jobs_per_op"] > 0, m
        span_jobs = sum(v for k, v in m.items() if k.endswith(".jobs"))
        assert span_jobs == m["session.jobs_per_op"], (span_jobs, m["session.jobs_per_op"])
    else:
        assert all(v > 0 for v in m.values()), m
    print(f"ok {workload} trace={trace} attempted={result['attempted']}")


def refuses_bare_directory() -> None:
    bare = ROOT / ".bench_build" / "perfbench-bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    shutil.copytree(ROOT / "perfbench", bare / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    try:
        proc = bench(bare, "--workload", "cut_job_docs", "--seed", "1", "--seconds", "1",
                     "--trace", "0")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert proc.returncode != 0, proc.stdout
    assert '"metrics"' not in proc.stdout, proc.stdout
    print("ok bare directory refused")


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    for w in spec["workloads"]:
        for trace in (0, 1):
            run_one(w["name"], trace, spec)
    refuses_bare_directory()
    return 0


if __name__ == "__main__":
    sys.exit(main())
