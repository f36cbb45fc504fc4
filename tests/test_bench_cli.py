"""bench.py's artifact naming: a scaling run (SPARK_GRAFT_CPUS other than the
machine's core count) writes its own full-result file."""

from __future__ import annotations

import bench


def test_default_run_writes_bench_full():
    for cpus in ("", "*", "4"):
        assert bench.full_artifact_name(cpus, 4) == "BENCH_full.json"


def test_scaling_run_writes_a_core_count_suffixed_file():
    assert bench.full_artifact_name("8", 4) == "BENCH_full_c8.json"
    assert bench.full_artifact_name("2", 4) == "BENCH_full_c2.json"
