"""PySpark worker daemon that imports pyspark from site-packages.

Spark starts its Python daemon with ``pyspark.zip``, ``py4j-*-src.zip`` and
the ``spark-core`` jar first on ``sys.path``, so workers import pyspark from
the zip, which ships no bytecode. At the start of every task
``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``, and on Python 3.11 that makes each cached
zipimporter re-read its archive's directory: ~0.2 s of CPU per task.

``session.get_spark`` names this module in ``spark.python.daemon.module``.
It takes those archives off ``sys.path`` and out of
``sys.path_importer_cache``, then runs ``pyspark.daemon`` as ``__main__``.
It does so only when pyspark is found outside the archives at the archive's
own version; otherwise it leaves ``sys.path`` as Spark set it. Nothing here
may import pyspark before the path is settled, and no error may stop the
daemon: a daemon that fails to start fails every Python stage.
"""

from __future__ import annotations

import fnmatch
import os
import re
import runpy
import sys
import zipfile
from importlib.machinery import PathFinder

SPARK_ARCHIVES = ("pyspark.zip", "py4j-*-src.zip", "spark-core_*.jar")
_VERSION = re.compile(r"""^__version__\s*(?::\s*str\s*)?=\s*['"]([^'"]+)['"]""", re.M)


def use_site_packages(archive_version: str | None, outside_version: str | None) -> bool:
    """Whether workers import pyspark from outside Spark's archives: only
    when it is found there, at the version the archive ships."""
    return outside_version is not None and outside_version == archive_version


def _version(source: str) -> str | None:
    m = _VERSION.search(source)
    return m.group(1) if m else None


def archive_version(archives: list[str]) -> str | None:
    """The version in ``pyspark/version.py`` of the ``pyspark.zip`` among
    ``archives``, or None."""
    for entry in archives:
        if os.path.basename(entry) == "pyspark.zip":
            with zipfile.ZipFile(entry) as z:
                return _version(z.read("pyspark/version.py").decode())
    return None


def outside_version() -> str | None:
    """The version of the pyspark that ``sys.path`` finds, read from its
    ``version.py`` without importing it; None when pyspark or py4j is not
    found."""
    spec = PathFinder.find_spec("pyspark")
    if spec is None or not spec.submodule_search_locations:
        return None
    if PathFinder.find_spec("py4j") is None:
        return None
    with open(os.path.join(spec.submodule_search_locations[0], "version.py")) as f:
        return _version(f.read())


def main() -> None:
    stock = list(sys.path)
    try:
        archives = [
            p for p in stock if any(fnmatch.fnmatch(os.path.basename(p), a) for a in SPARK_ARCHIVES)
        ]
        sys.path[:] = [p for p in stock if p not in archives]
        if use_site_packages(archive_version(archives), outside_version()):
            for key in list(sys.path_importer_cache):
                if any(key == a or key.startswith(a + os.sep) for a in archives):
                    del sys.path_importer_cache[key]
        else:
            sys.path[:] = stock
    except Exception:  # noqa: BLE001 - any doubt means the stock daemon
        sys.path[:] = stock
    runpy.run_module("pyspark.daemon", run_name="__main__")


if __name__ == "__main__":
    main()
