from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_data_processor_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest", extra_conf={"spark.sql.shuffle.partitions": "8"})
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


@pytest.fixture
def cli_main(spark):
    """The CLI's ``main``, run in-process. Its ``get_spark`` hands back the
    shared session but re-applies every ``DEFAULT_CONF`` entry to it (32
    shuffle partitions instead of this suite's 8), so each call restores
    the session's runtime SQL conf on the way out."""
    from etl_data_processor_spark.__main__ import main

    def run(argv: list[str]) -> int:
        before = spark.conf.getAll
        try:
            return main(argv)
        finally:
            after = spark.conf.getAll
            for k in before.keys() | after.keys():
                if before.get(k) != after.get(k) and spark.conf.isModifiable(k):
                    if k in before:
                        spark.conf.set(k, before[k])
                    else:
                        spark.conf.unset(k)

    return run


@pytest.fixture(scope="session")
def source_files(sf_dir, tmp_path_factory) -> str:
    """The fixture's documents as one parquet file per source, src0 first:
    a file stream with ``maxFilesPerTrigger=1`` makes each source one
    micro-batch."""
    import time

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/documents.parquet")
    d = tmp_path_factory.mktemp("docs_by_source")
    now = time.time()
    for i, s in enumerate(sorted(set(t.column("source").to_pylist()))):
        path = d / f"part-{i:03d}.parquet"
        pq.write_table(t.filter(pc.equal(t["source"], s)), path)
        os.utime(path, (now + i, now + i))  # the file source reads by mtime
    return str(d)


@pytest.fixture
def stream_sources(spark, source_files, tmp_path):
    """Run a ``foreachBatch`` sink over ``source_files``, one source per
    micro-batch, until every file is consumed."""

    def run(sink) -> None:
        q = (
            spark.readStream.schema(DOC_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(source_files)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ckpt-by-source"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    return run
