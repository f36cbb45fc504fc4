"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[N]`` but every setting is chosen to also be the
right default on a 1000-executor cluster:

- AQE on (runtime join demotion, skew-join splitting, partition coalescing).
- Arrow on for every pandas_udf / mapInPandas boundary (vectorized transfer).
- Broadcast threshold generous enough that TPC-H-style dims always broadcast.
- Shuffle partitions sized for the test scale; at cluster scale AQE coalesces
  and the caller can override via ``extra_conf``.
- Python workers run under ``worker_daemon``, which imports pyspark from
  site-packages instead of Spark's archives (see its docstring).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.session.timeZone": "UTC",
    # Parquet scan behavior: vectorized reader + pushdown are Spark defaults,
    # set explicitly so a misconfigured environment can't silently disable them.
    # Read tz-naive parquet timestamps as TIMESTAMP_LTZ (session tz = UTC),
    # not TIMESTAMP_NTZ: the fixture timestamps are µs-naive, epoch functions
    # (unix_micros) only accept LTZ, and keeping the scan column LTZ keeps
    # timestamp predicates pushable into parquet (a cast-on-top would not be).
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Write timestamps as INT64 micros, not Spark's legacy INT96 default:
    # INT96 row groups carry NO min/max statistics, so every timestamp
    # column the engine writes would be un-skippable on later range scans
    # (caught by tests/test_io.py::test_write_clustered_tightens_rowgroup_stats).
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.enableVectorizedReader": "true",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
    # Split parquet scans finer than the 128m default: test-scale tables are
    # single small files that would otherwise scan on ONE core (measured 1.5x
    # on the flagship at sf0.1; 2m over-splits below row-group granularity
    # and regresses). On a real cluster with TB-scale inputs, override back
    # to 128m via SPARK_GRAFT_MAX_PARTITION_BYTES — splits are already
    # plentiful there and smaller ones only add scheduling overhead.
    "spark.sql.files.maxPartitionBytes": os.environ.get(
        "SPARK_GRAFT_MAX_PARTITION_BYTES", str(8 * 1024 * 1024)
    ),
}


PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def worker_conf(root: str, cwd: str, pythonpath: str) -> dict[str, str]:
    """The worker-daemon conf, set only where workers can import the package
    at ``root``: through the JVM's working directory (``cwd``, inherited from
    this process) or ``PYTHONPATH``, as they import ``ops.*``."""
    places = [cwd, *filter(None, pythonpath.split(os.pathsep))]
    if os.path.realpath(root) in map(os.path.realpath, places):
        return {"spark.python.daemon.module": "etl_data_processor_spark.worker_daemon"}
    return {}


def get_spark(
    app_name: str = "etl-data-processor-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``)
    when no active session exists; on a cluster, submit normally and the
    configured master wins.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = builder.master(master)
    conf = dict(DEFAULT_CONF)
    conf.update(worker_conf(PACKAGE_ROOT, os.getcwd(), os.environ.get("PYTHONPATH", "")))
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
