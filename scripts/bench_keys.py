#!/usr/bin/env python
"""Per-key bench probe: bench.py's exact measurement protocol (warmup +
min-of-3 reps via count-star, stage-delta work metrics, vm_probe regime
stamp) for a named subset of keys. Used during optimization rounds to A/B
individual queries without paying for the full 135-key session. Also
counts each key's build-time Spark jobs: the jobs that building its
DataFrame runs, after ``clearCache()``, before any action.

Usage: python scripts/bench_keys.py <key> [key ...]
Prints one JSON line:
{"vm_probe_s": ..., "queries": {...}, "build_jobs": {...}, "work": {...}}.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from etl_data_processor_spark.session import get_spark  # noqa: E402
import __spark_entry__ as entry_mod  # noqa: E402


def main() -> None:
    names = sys.argv[1:]
    spark = get_spark(
        app_name="bench-keys", extra_conf={"spark.ui.enabled": "true"}
    )
    queries = entry_mod.queries()
    metrics = bench.StageMetrics(spark)
    probe = bench.vm_probe()
    dag = spark._jsc.sc().dagScheduler()
    timings, spreads, build_jobs, work = {}, {}, {}, {}
    for name in names:
        spark.sparkContext.setJobDescription(f"bench-key: {name}")
        reps, w, _rows = bench.measure_query(
            spark, queries[name], bench.SF_DIR, metrics
        )
        timings[name] = round(reps[0], 3)
        spreads[name] = [round(t, 3) for t in reps]
        if w:
            work[name] = bench.work_row(w)
        spark.catalog.clearCache()
        jobs0 = dag.nextJobId()
        queries[name](spark, bench.SF_DIR)
        build_jobs[name] = dag.nextJobId() - jobs0
    out = {
        "vm_probe_s": probe,
        "vm_probe_end_s": bench.vm_probe(),
        "queries": timings,
        "spreads": spreads,
        "build_jobs": build_jobs,
        "work": work,
    }
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
