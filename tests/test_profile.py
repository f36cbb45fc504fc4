"""Profiling ops: one-pass plan shape, null handling, histogram clamping."""

from __future__ import annotations

import re

from etl_data_processor_spark.io import Catalog
from etl_data_processor_spark.ops.profile import histogram, profile


def test_profile_is_one_scan(spark, sf_dir):
    df = profile(
        Catalog(spark, sf_dir).orders,
        numeric_cols=["o_orderkey", "o_custkey", "o_totalprice"],
        string_cols=["o_orderstatus", "o_orderpriority"],
    )
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    # ONE pass over the table: a single file scan feeding an Expand for the
    # multi-distinct aggregate — not one scan/agg per column.
    assert len(re.findall(r"FileScan parquet", final)) == 1
    assert "Expand" in final


def test_profile_counts_nulls(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (None, "a"), (2, "b")], "x long, s string"
    )
    rows = {r["col_name"]: r for r in profile(df, ["x"], ["s"]).collect()}
    x, s = rows["x"], rows["s"]
    assert (x["n"], x["n_null"], x["n_distinct"]) == (3, 1, 2)
    assert (x["min_num"], x["max_num"]) == (1.0, 2.0)
    assert x["min_str"] is None and x["max_str"] is None
    assert (s["n"], s["n_null"], s["n_distinct"]) == (3, 1, 2)
    assert (s["min_str"], s["max_str"]) == ("a", "b")
    assert s["min_num"] is None


def test_histogram_clamps_out_of_range(spark):
    df = spark.createDataFrame(
        [(-5.0,), (0.0,), (9.9,), (10.0,), (25.0,), (99.0,), (100.0,), (1000.0,)],
        "v double",
    )
    got = {r["bucket"]: r["n"] for r in histogram(df, "v", 0.0, 100.0, 10).collect()}
    # -5 clamps to bucket 0; 100 and 1000 clamp to bucket 9
    assert got == {0: 3, 1: 1, 2: 1, 9: 3}
