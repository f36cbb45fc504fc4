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
