"""Query/oracle registry primitives shared by the query modules."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_data_processor_spark.io import Catalog

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}


def q(name: str, sql: str | None = None):
    """Register a query; ``sql`` is its DuckDB oracle (omit for rows-only)."""

    def deco(fn):
        if name in QUERIES:
            # a duplicate would SILENTLY shadow the earlier key (dict
            # overwrite), replacing its oracle and implementation while
            # every count and sweep still looks green — caught once in
            # round 9, now a hard error at import time
            raise ValueError(f"duplicate query registration: {name!r}")
        QUERIES[name] = fn
        if sql is not None:
            ORACLE[name] = sql.strip()
        return fn

    return deco


def load_all() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Import every ``queries*`` module of the package (each registers its
    keys on import) and return the full registry — the one loader
    ``__spark_entry__`` and the CLI share, so no entry point can see a
    subset."""
    import importlib
    import pkgutil

    import etl_data_processor_spark as pkg

    for mod in pkgutil.iter_modules(pkg.__path__):
        if mod.name.startswith("queries"):
            importlib.import_module(f"{pkg.__name__}.{mod.name}")
    return QUERIES


def cat(spark: SparkSession, sf_dir: str) -> Catalog:
    return Catalog(spark, sf_dir)


def date(c: str) -> Column:
    return F.to_date(F.col(c))
