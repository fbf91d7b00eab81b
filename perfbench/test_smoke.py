"""Smoke test of the benchmark itself (not part of the engine's suite).

    python3 -m pytest perfbench/test_smoke.py -q

Every workload runs once at smoke scale (star schema at sf0.001, a
tenth-size ingest source, one timed pass or ingest round) and must
report a correct result with every metric of its mode; a run whose
query result is deliberately corrupted must report a failure.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench(*args: str) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--seed", "5", "--seconds", "0.1",
         "--small", *args],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def declared(kind: str) -> set[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"] for m in json.load(fh)[kind]}


@pytest.mark.parametrize(
    "workload,trace",
    [("sql_dashboard", "0"), ("corpus_curation", "1"), ("ingest_merge", "1")],
)
def test_workload_runs_clean(workload, trace):
    out = bench("--workload", workload, "--trace", trace)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0
    kind = "per_layer" if trace == "1" else "end_to_end"
    assert set(out["metrics"]) == declared(kind)
    if trace == "0":
        assert all(m["value"] > 0 for m in out["metrics"].values())


def test_corrupted_result_is_counted():
    out = bench("--workload", "sql_dashboard", "--trace", "0",
                "--corrupt", "q12_distinct_counts")
    assert not out["correct"] and out["failed"] >= 1
