"""Mergeable distinct-count sketches (Apache DataSketches HLL via Spark 4
``hll_sketch_agg`` / ``hll_union_agg``).

This is the 100 TB cardinality pattern the exact path can't follow: an exact
COUNT(DISTINCT) over a 100 TB key column shuffles every distinct key once,
while a sketch is a fixed ~KB register array per group — partial per
partition/day/source, then merged associatively at read time. The pattern
that matters operationally: materialize per-slice sketches ONCE (e.g. per
ingest day), answer any later cross-slice cardinality question by unioning
the stored sketches without touching the raw data again.

Engine notes encoded here:
- Sketch updates are register maxima, so results are partition- and
  order-invariant (pinned by test) — safe under AQE re-planning and
  speculative tasks, unlike sampling-based estimators.
- ``lgConfigK`` trades size for error (default 12 → ~1.6% RSE); both the
  partial and the union must agree on it.
- DuckDB's approx_count_distinct uses a different sketch, so these queries
  are rows-only for the oracle; accuracy is asserted in unit tests against
  the exact count (reference has no aggregate surface at all —
  main.py:1-422).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def hll_partial(
    df: DataFrame, group_cols: list[str], value_col: str, lg_k: int = 12
) -> DataFrame:
    """Per-group HLL sketches: the materialize-once half of the pattern.
    Plans as partial+final hash agg — sketch registers merge map-side, so
    the exchange carries one ~KB sketch per group per mapper, not keys."""
    return df.groupBy(*group_cols).agg(
        F.hll_sketch_agg(value_col, F.lit(lg_k)).alias("hll_sketch")
    )


def hll_merge(
    sketches: DataFrame, group_cols: list[str] | None = None
) -> DataFrame:
    """Union stored sketches (optionally re-grouped coarser) and estimate.
    The union is associative and commutative, so any grouping of the same
    underlying slices yields the identical estimate. (The union takes its
    lgConfigK from the sketches themselves; its second parameter is
    allowDifferentLgConfigK, left False so mismatched-precision slices fail
    loudly instead of silently degrading to the coarser sketch.)"""
    grouped = (
        sketches.groupBy(*group_cols) if group_cols else sketches.groupBy()
    )
    return grouped.agg(
        F.hll_sketch_estimate(F.hll_union_agg("hll_sketch")).alias("distinct_est")
    )


# =====================================================================
# Count-min sketch (tall form)
# =====================================================================

def cms_partial(
    df: DataFrame,
    group_cols: list[str],
    key: Column,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Count-min sketch over an integer key, in TALL form: one output row
    per (group, cms_row, bucket) with its counter — at most depth*width
    rows per group, whatever the input size. This is the frequency-
    estimation counterpart to the HLL distinct sketch: bounded-size,
    exactly mergeable (counters are plain sums), and the
    estimate for any key is min over rows of its bucket counter, an
    OVERestimate by construction (collisions only add).

    Why tall form instead of a packed array<long> state: the bucket
    aggregation IS Spark's partial+final combine — each mapper reduces its
    partition to <= depth*width counter rows before the exchange, which is
    precisely the CMS update loop a custom UDAF would run, with zero custom
    state code and plan-native mergeability. The per-row hash is the
    portable 32-bit mixer (ops/sampling.py) seeded by cms_row, so sketches
    are engine-reproducible and even oracle-checkable — unlike xxhash64-
    based sketches (DuckDB lacks xxhash64)."""
    from etl_data_processor_spark.ops.sampling import hash32

    rows = F.explode(
        F.sequence(F.lit(0), F.lit(depth - 1))
    ).alias("cms_row")
    tall = df.select(*group_cols, key.alias("__k")).select(
        *group_cols, "__k", rows
    )
    bucketed = tall.select(
        *group_cols,
        "cms_row",
        # seed differs per sketch row -> depth independent-ish hash funcs
        F.pmod(
            hash32(F.col("__k") + F.col("cms_row") * F.lit(0x9E3779B9), seed=7),
            F.lit(width),
        ).alias("bucket"),
    )
    return bucketed.groupBy(*group_cols, "cms_row", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    group_cols: list[str] | None = None,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Point-estimate frequencies for ``keys``: min over sketch rows of the
    key's bucket counter (0 if a bucket row is absent). The keys frame is
    the small side (broadcast); the sketch is bounded at depth*width rows
    per group."""
    from etl_data_processor_spark.ops.sampling import hash32

    gc = list(group_cols or [])
    probes = keys.select(
        *gc, F.col(key_col).alias("__k")
    ).select(
        *gc,
        "__k",
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("cms_row"),
    ).select(
        *gc,
        "__k",
        "cms_row",
        F.pmod(
            hash32(F.col("__k") + F.col("cms_row") * F.lit(0x9E3779B9), seed=7),
            F.lit(width),
        ).alias("bucket"),
    )
    joined = probes.join(sketch, gc + ["cms_row", "bucket"], "left")
    return joined.groupBy(*gc, "__k").agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_cnt")
    ).withColumnRenamed("__k", key_col)
