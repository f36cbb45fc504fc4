"""Data profiling: one-pass column statistics and fixed-grid histograms.

The deequ/Great-Expectations surface an ETL engine needs: per-column
non-null/null/distinct counts and min/max, computed in ONE scan of the
table. Multiple COUNT(DISTINCT) in a single agg is planned by Spark as an
Expand (one row fans out to one row per distinct-aggregate) followed by a
two-phase hash aggregate — one pass over 100 TB, never one pass per column.
min/max carry no accumulation-order sensitivity, so doubles are
engine-exact (unlike sums, no decimal detour needed).

Histograms use explicit floor arithmetic (``floor((x-lo)/width)`` clamped
to the last bucket) instead of width_bucket: the bucket id is pure IEEE
arithmetic on literals, bit-identical across engines, and partial+final
hash aggregation keeps the exchange at n_buckets rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def profile(
    df: DataFrame,
    numeric_cols: list[str],
    string_cols: list[str],
) -> DataFrame:
    """Long-format profile: one row per column with
    (col_name, n, n_null, n_distinct, min_num, max_num, min_str, max_str);
    the num/str min-max pair not applicable to the column's type is NULL.

    The exact multi-distinct plans as one Expand (rows fan out K+1-fold,
    then sort-aggregate) — still one scan, but the fan-out is the price of
    exact cardinalities."""
    aggs = [F.count(F.lit(1)).alias("__total")]
    for c in numeric_cols + string_cols:
        aggs += [
            F.count(F.col(c)).alias(f"__n_{c}"),
            F.count_distinct(F.col(c)).alias(f"__d_{c}"),
            F.min(F.col(c)).alias(f"__min_{c}"),
            F.max(F.col(c)).alias(f"__max_{c}"),
        ]
    row = df.agg(*aggs)

    def entry(c: str, numeric: bool):
        return F.struct(
            F.lit(c).alias("col_name"),
            F.col(f"__n_{c}").alias("n"),
            (F.col("__total") - F.col(f"__n_{c}")).alias("n_null"),
            F.col(f"__d_{c}").alias("n_distinct"),
            (F.col(f"__min_{c}").cast("double") if numeric else F.lit(None).cast("double")).alias("min_num"),
            (F.col(f"__max_{c}").cast("double") if numeric else F.lit(None).cast("double")).alias("max_num"),
            (F.col(f"__min_{c}").cast("string") if not numeric else F.lit(None).cast("string")).alias("min_str"),
            (F.col(f"__max_{c}").cast("string") if not numeric else F.lit(None).cast("string")).alias("max_str"),
        )

    entries = [entry(c, True) for c in numeric_cols] + [
        entry(c, False) for c in string_cols
    ]
    return row.select(F.explode(F.array(*entries)).alias("e")).select("e.*")


def histogram(
    df: DataFrame, col: str, lo: float, hi: float, n_buckets: int
) -> DataFrame:
    """Fixed-grid histogram of ``col`` over [lo, hi): (bucket, bucket_lo,
    n). Out-of-range rows clamp into the edge buckets (profiling
    convention: the grid is chosen from a prior profile() min/max)."""
    width = (hi - lo) / n_buckets
    raw = F.floor((F.col(col) - F.lit(lo)) / F.lit(width))
    bucket = F.least(F.greatest(raw, F.lit(0)), F.lit(n_buckets - 1)).cast("long")
    return (
        df.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("bucket_lo", F.lit(lo) + F.col("bucket") * F.lit(width))
        .select("bucket", "bucket_lo", "n")
    )
