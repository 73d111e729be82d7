"""bench.py's one-line JSON contract, run as its own process.

``run_bench`` stops its session, which would stop the suite's shared one,
so the bench runs as a subprocess pinned to two cores with
``SPARK_GRAFT_CPUS`` unset: its parallelism must then come from the
cores the process may run on.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import bench
import pytest
from conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = sorted(os.sched_getaffinity(0))[:2]


@pytest.mark.skipif(len(CORES) < 2, reason="needs two cores to pin")
def test_bench_prints_contract_json(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    env.update(
        PYTHONPATH=REPO,
        SPARK_GRAFT_SF_DIR=SF_DIR,
        SLOG_BENCH_EXPLODE="1",
        SLOG_BENCH_REPEATS="1",
        SLOG_BENCH_CORPUS_REPEATS="1",
        SLOG_DRIVER_MEM="1g",
    )
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=900,
        preexec_fn=lambda: os.sched_setaffinity(0, CORES),
        check=True,
    ).stdout
    res = json.loads(out.strip().splitlines()[-1])

    assert res["cpus"] == 2
    assert set(res["queries"]) == {
        "parse_only", "pipeline_null_sink", "route_aggregate",
        "fanout_metrics_and_sinks",
    }
    assert tuple(res["corpus_secs"]) == bench.CORPUS_QUERIES
    assert res["turns"] == 1000
    assert res["turns_per_sec"] > 0
