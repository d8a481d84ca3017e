"""Smoke test of the benchmark harness: one timed pass per workload on the
small ("smoke") inputs, untraced and traced.

Run: python3 -m pytest perfbench/test_smoke.py -q   (a few minutes)

Checks that every metric BENCHMARK.json declares is emitted with its unit,
that the oracle gate passes, that records carry the comparison keys, and
that tracing does not change what Spark runs: traced and untraced passes
report the same job and stage counts.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    DECLARED = json.load(_f)


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    before = set(glob.glob(os.path.join(HERE, "records", "*.json")))
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "0", "--trace", str(trace),
         "--scale", "smoke"],
        capture_output=True, text=True, timeout=600, cwd=HERE)
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = json.loads(proc.stdout.strip().splitlines()[-1])
    (path,) = set(glob.glob(os.path.join(HERE, "records", "*.json"))) - before
    with open(path) as f:
        return line, json.load(f)


@pytest.mark.parametrize("workload", [w["name"] for w in DECLARED["workloads"]])
def test_workload_smoke(workload):
    plain, plain_rec = _run(workload, 0)
    traced, traced_rec = _run(workload, 1)

    for line, group in ((plain, "end_to_end"), (traced, "per_layer")):
        assert line["correct"] and line["failed"] == 0
        assert line["attempted"] >= 1
        want = {m["name"]: m["unit"] for m in DECLARED[group]}
        got = {k: v["unit"] for k, v in line["metrics"].items()}
        assert got == want
        assert all(isinstance(v["value"], (int, float))
                   for v in line["metrics"].values())

    for rec in (plain_rec, traced_rec):
        for key in ("cpus", "spark_cores", "host", "versions", "seed",
                    "dataset_checksum", "git_commit", "source_digest"):
            assert key in rec
    counts = {(p["jobs"], p["stages"])
              for p in plain_rec["passes"] + traced_rec["passes"]}
    assert len(counts) == 1, counts
    (jobs, stages), = counts
    assert traced["metrics"]["exec.jobs"]["value"] == jobs
    assert traced["metrics"]["exec.stages"]["value"] == stages
