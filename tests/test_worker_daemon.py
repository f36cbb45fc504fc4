"""Python workers import pyspark from site-packages, not from Spark's archives.

``session.get_spark`` starts workers under ``worker_daemon``. The first test
asks workers of the shared session where pyspark came from; the rest check
the daemon's fallback and ``get_spark``'s guard without starting Spark.
"""

from __future__ import annotations

import os
import sys
import zipfile

import pytest

from etl_data_processor_spark import worker_daemon
from etl_data_processor_spark.session import worker_conf

DAEMON_CONF = "spark.python.daemon.module"


def test_workers_import_pyspark_outside_spark_archives(spark):
    # defined here so it is pickled by value: workers cannot import tests/
    def _worker_origin(batches):
        import json
        import zipimport

        import pyarrow as pa
        import pyspark

        for _ in batches:
            pass
        archives = [p for p in sys.path if p.endswith((".zip", ".jar")) and os.path.isfile(p)]
        zipimporters = [
            k for k, v in sys.path_importer_cache.items() if isinstance(v, zipimport.zipimporter)
        ]
        yield pa.RecordBatch.from_pylist(
            [
                {
                    "pyspark_file": pyspark.__file__,
                    "archives": json.dumps(archives),
                    "zipimporters": json.dumps(zipimporters),
                }
            ]
        )

    assert spark.sparkContext.getConf().get(DAEMON_CONF) == "etl_data_processor_spark.worker_daemon"
    rows = (
        spark.range(0, 64, 1, numPartitions=4)
        .mapInArrow(
            _worker_origin, "pyspark_file string, archives string, zipimporters string"
        )
        .collect()
    )
    assert len(rows) == 4
    for r in rows:
        assert not any(
            f"{ext}{os.sep}" in r.pyspark_file for ext in (".zip", ".jar")
        ), r.pyspark_file
        assert r.archives == "[]", r.archives
        assert r.zipimporters == "[]", r.zipimporters


# -- the daemon's choice, without Spark ----------------------------------------


def test_site_packages_only_at_the_archive_version():
    assert worker_daemon.use_site_packages("4.1.2", "4.1.2")
    assert not worker_daemon.use_site_packages("4.1.2", "4.1.1")
    assert not worker_daemon.use_site_packages("4.1.2", None)
    assert not worker_daemon.use_site_packages(None, None)


def _fake_spark_lib(tmp_path, version):
    lib = tmp_path / "spark" / "python" / "lib"
    lib.mkdir(parents=True)
    with zipfile.ZipFile(lib / "pyspark.zip", "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", f'__version__: str = "{version}"\n')
    with zipfile.ZipFile(lib / "py4j-0.10.9.9-src.zip", "w") as z:
        z.writestr("py4j/__init__.py", "")
    return [str(lib / "pyspark.zip"), str(lib / "py4j-0.10.9.9-src.zip")]


def _site_packages(tmp_path, version):
    site = tmp_path / "site"
    (site / "pyspark").mkdir(parents=True)
    (site / "pyspark" / "__init__.py").write_text("")
    (site / "pyspark" / "version.py").write_text(f"__version__: str = '{version}'\n")
    (site / "py4j").mkdir()
    (site / "py4j" / "__init__.py").write_text("")
    return str(site)


def _run_daemon(monkeypatch, path, cache):
    """Run ``worker_daemon.main`` on ``path``/``cache``; return the sys.path
    and importer-cache keys the stock daemon would have started with."""
    seen = {}

    def run_module(name, run_name):
        seen.update(name=name, run_name=run_name, path=list(sys.path), cache=set(sys.path_importer_cache))

    monkeypatch.setattr(sys, "path", list(path))
    monkeypatch.setattr(sys, "path_importer_cache", dict(cache))
    monkeypatch.setattr(worker_daemon.runpy, "run_module", run_module)
    worker_daemon.main()
    assert (seen["name"], seen["run_name"]) == ("pyspark.daemon", "__main__")
    return seen["path"], seen["cache"]


def test_matching_version_drops_spark_archives(monkeypatch, tmp_path):
    archives = _fake_spark_lib(tmp_path, "4.1.2")
    site = _site_packages(tmp_path, "4.1.2")
    stock = [str(tmp_path), *archives, site]
    cache = {a: object() for a in archives}
    cache[archives[0] + os.sep + "pyspark"] = object()
    path, keys = _run_daemon(monkeypatch, stock, cache)
    assert path == [str(tmp_path), site]
    assert not any(k.startswith(tuple(archives)) for k in keys)


def test_version_mismatch_keeps_stock_path(monkeypatch, tmp_path):
    archives = _fake_spark_lib(tmp_path, "4.1.2")
    stock = [str(tmp_path), *archives, _site_packages(tmp_path, "4.0.0")]
    cache = {a: object() for a in archives}
    path, keys = _run_daemon(monkeypatch, stock, cache)
    assert path == stock
    assert set(cache) <= keys


def test_pyspark_missing_outside_keeps_stock_path(monkeypatch, tmp_path):
    archives = _fake_spark_lib(tmp_path, "4.1.2")
    stock = [str(tmp_path), *archives]
    cache = {a: object() for a in archives}
    path, keys = _run_daemon(monkeypatch, stock, cache)
    assert path == stock
    assert set(cache) <= keys


def test_unreadable_archive_keeps_stock_path(monkeypatch, tmp_path):
    bad = tmp_path / "pyspark.zip"
    bad.write_text("not a zip")
    stock = [str(bad), _site_packages(tmp_path, "4.1.2")]
    path, _ = _run_daemon(monkeypatch, stock, {})
    assert path == stock


# -- get_spark's guard, without a session --------------------------------------


@pytest.mark.parametrize(
    "cwd, pythonpath, expected",
    [
        ("root", "", True),
        ("elsewhere", os.pathsep.join(["other", "root"]), True),
        ("elsewhere", "", False),
        ("elsewhere", os.pathsep.join(["other", ""]), False),
    ],
)
def test_daemon_conf_only_where_workers_import_the_package(tmp_path, cwd, pythonpath, expected):
    for name in ("root", "elsewhere", "other"):
        (tmp_path / name).mkdir()

    def place(p):
        return str(tmp_path / p) if p else p

    conf = worker_conf(
        str(tmp_path / "root"),
        place(cwd),
        os.pathsep.join(place(p) for p in pythonpath.split(os.pathsep)),
    )
    assert (DAEMON_CONF in conf) is expected
    if expected:
        assert conf[DAEMON_CONF] == worker_daemon.__name__
