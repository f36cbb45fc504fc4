"""As-of joins (B10) — Spark has no batch as-of built-in.

``asof_join_backward`` uses the union + last-value window trick:
tag both sides, union, sort within each key by (ts, side, tiebreak), and
carry the most recent right-side ROW forward as one struct with
``last(..., ignorenulls=True)``. One shuffle on the key, no cross product,
no per-row lookups — the scalable shape for 100 TB (an exchange + in-
partition sort, same state pattern stream-stream interval joins use).

The carry is a single STRUCT of (ts, value columns), not per-column
last-non-null: carrying columns independently silently substitutes an
OLDER row's value when the matched row has a NULL in that column — wrong
vs pandas merge_asof (which returns the matched row's NULL), and unsound
under ``tolerance`` (the older value may be outside the window while the
matched row's ts passes the gate). The struct is non-null for every right
row, so ``last`` lands exactly on the latest match and its NULLs survive.

The band join (B9) needs no operator: ``q_join_range`` writes it as an
equi-join on the key plus the band predicate, which Spark plans as a hash
join that post-filters the band.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType


def _rrow_type(right: DataFrame, ts: str, value_cols: list[str]) -> StructType:
    return StructType(
        [StructField("__ts", right.schema[ts].dataType)]
        + [StructField(c, right.schema[c].dataType) for c in value_cols]
    )


def asof_join_backward(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str,
    value_cols: list[str],
    tiebreak: str | None = None,
    suffix: str = "_asof",
    tolerance: float | None = None,
) -> DataFrame:
    """For each left row, attach the latest right row with
    ``right.ts <= left.ts`` within the same key (backward as-of, inclusive —
    the DuckDB ASOF / pandas merge_asof default).

    Ties at identical ts resolve to the right side (side ordering puts right
    rows before left rows at equal ts); among several right rows at one ts,
    the largest ``tiebreak`` wins — pass one to make results deterministic.

    ``tolerance`` (pandas merge_asof's knob, in seconds for timestamp ts /
    ts units for numerics): matches older than it become NULL. Sound on the
    carried match struct alone: it has the MAXIMUM right ts <= left ts, so
    if IT is out of window every other candidate is too — no second pass
    needed, same one-shuffle plan; every value column is gated by the ts of
    the row it actually came from (one struct, one timestamp)."""
    lcols = left.columns
    l_tagged = left.select(
        *lcols,
        F.lit(1).alias("__side"),
        (F.col(tiebreak) if tiebreak else F.lit(0)).alias("__ord"),
        F.lit(None).cast(_rrow_type(right, ts, value_cols)).alias("__rrow"),
    )
    r_tagged = right.select(
        *[
            (F.col(c) if c in (key, ts) else F.lit(None).cast(left.schema[c].dataType)).alias(c)
            for c in lcols
        ],
        F.lit(0).alias("__side"),
        (F.col(tiebreak) if tiebreak else F.lit(0)).alias("__ord"),
        F.struct(
            F.col(ts).alias("__ts"),
            *[F.col(c).alias(c) for c in value_cols],
        ).alias("__rrow"),
    )
    unioned = l_tagged.unionByName(r_tagged)
    w = (
        Window.partitionBy(key)
        .orderBy(F.col(ts).asc(), F.col("__side").asc(), F.col("__ord").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        *lcols,
        "__side",
        F.last("__rrow", ignorenulls=True).over(w).alias("__m"),
    )
    m = F.col("__m")
    matched = m.isNotNull()
    if tolerance is not None:
        matched = matched & (
            F.col(ts).cast("double") - m["__ts"].cast("double")
            <= F.lit(float(tolerance))
        )
    return carried.filter(F.col("__side") == 1).select(
        *lcols,
        *[
            F.when(matched, m[c]).alias(f"{c}{suffix}")
            for c in value_cols
        ],
    )


def asof_join_forward(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str,
    value_cols: list[str],
    tiebreak: str | None = None,
    suffix: str = "_next",
) -> DataFrame:
    """For each left row, attach the EARLIEST right row with
    ``right.ts >= left.ts`` within the same key (forward as-of, inclusive) —
    the mirror of :func:`asof_join_backward` with a forward window frame:
    same one-shuffle union trick, ``first(..., ignorenulls)`` of the match
    struct over [currentRow, unboundedFollowing].

    Ties at identical ts resolve to the right side (left rows sort before
    right rows at equal ts, so the same-ts right row is inside the left
    row's forward frame); among several right rows at one ts the smallest
    ``tiebreak`` wins."""
    lcols = left.columns
    l_tagged = left.select(
        *lcols,
        F.lit(0).alias("__side"),
        (F.col(tiebreak) if tiebreak else F.lit(0)).alias("__ord"),
        F.lit(None).cast(_rrow_type(right, ts, value_cols)).alias("__rrow"),
    )
    r_tagged = right.select(
        *[
            (F.col(c) if c in (key, ts) else F.lit(None).cast(left.schema[c].dataType)).alias(c)
            for c in lcols
        ],
        F.lit(1).alias("__side"),
        (F.col(tiebreak) if tiebreak else F.lit(0)).alias("__ord"),
        F.struct(
            F.col(ts).alias("__ts"),
            *[F.col(c).alias(c) for c in value_cols],
        ).alias("__rrow"),
    )
    unioned = l_tagged.unionByName(r_tagged)
    w = (
        Window.partitionBy(key)
        .orderBy(F.col(ts).asc(), F.col("__side").asc(), F.col("__ord").asc())
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    carried = unioned.select(
        *lcols,
        "__side",
        F.first("__rrow", ignorenulls=True).over(w).alias("__m"),
    )
    m = F.col("__m")
    return carried.filter(F.col("__side") == 0).select(
        *lcols,
        *[m[c].alias(f"{c}{suffix}") for c in value_cols],
    )


def asof_join_nearest(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str,
    value_cols: list[str],
    tiebreak: str | None = None,
    suffix: str = "_near",
    tolerance: float | None = None,
) -> DataFrame:
    """For each left row, attach the right row with the SMALLEST |right.ts
    − left.ts| within the same key (pandas merge_asof direction='nearest').
    Ties between an equally-distant earlier and later row resolve BACKWARD
    (the earlier row); among several right rows at one ts the backward
    candidate takes the largest ``tiebreak``, the forward one the smallest
    (each direction's own determinism rule).

    ONE shuffle total: both directional candidates come from the same
    union + (key) partitioning + (ts, side, ord) sort — the backward carry
    is ``last(struct) ignorenulls`` over the preceding frame and the
    forward carry ``first(struct) ignorenulls`` over the following frame,
    two window functions over one exchange/sort. Right rows at the exact
    left ts sort into the PRECEDING frame only, which is sound: they are a
    Δ=0 backward match and Δ=0 always beats any forward candidate.

    ``tolerance`` (seconds for timestamps): candidates farther than it in
    EITHER direction are discarded (pandas semantics)."""
    lcols = left.columns
    l_tagged = left.select(
        *lcols,
        F.lit(1).alias("__side"),
        (F.col(tiebreak) if tiebreak else F.lit(0)).alias("__ord"),
        F.lit(None).cast(_rrow_type(right, ts, value_cols)).alias("__rrow"),
    )
    r_tagged = right.select(
        *[
            (F.col(c) if c in (key, ts) else F.lit(None).cast(left.schema[c].dataType)).alias(c)
            for c in lcols
        ],
        F.lit(0).alias("__side"),
        (F.col(tiebreak) if tiebreak else F.lit(0)).alias("__ord"),
        F.struct(
            F.col(ts).alias("__ts"),
            *[F.col(c).alias(c) for c in value_cols],
        ).alias("__rrow"),
    )
    unioned = l_tagged.unionByName(r_tagged)
    order = [F.col(ts).asc(), F.col("__side").asc(), F.col("__ord").asc()]
    wb = (
        Window.partitionBy(key)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy(key)
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    carried = unioned.select(
        *lcols,
        "__side",
        F.last("__rrow", ignorenulls=True).over(wb).alias("__b"),
        F.first("__rrow", ignorenulls=True).over(wf).alias("__f"),
    )
    from pyspark.sql.types import TimestampNTZType, TimestampType

    # Distance arithmetic in exact integer MICROSECONDS for timestamp ts
    # (double epoch-seconds round at ~2^-21 s ≈ the µs scale itself, which
    # could flip a backward/forward tie vs an exact-interval oracle).
    # Covers NTZ too: casting timestamp_ntz to double is disallowed, while
    # unix_micros accepts both flavors.
    if isinstance(left.schema[ts].dataType, (TimestampType, TimestampNTZType)):
        def _t(c):
            return F.unix_micros(c)
        tol = None if tolerance is None else float(tolerance) * 1e6
    else:
        def _t(c):
            return c.cast("double")
        tol = None if tolerance is None else float(tolerance)
    t = _t(F.col(ts))
    db = t - _t(F.col("__b")["__ts"])
    df_ = _t(F.col("__f")["__ts"]) - t
    b_ok = F.col("__b").isNotNull()
    f_ok = F.col("__f").isNotNull()
    if tol is not None:
        b_ok = b_ok & (db <= F.lit(tol))
        f_ok = f_ok & (df_ <= F.lit(tol))
    take_b = b_ok & (~f_ok | (db <= df_))
    m = F.when(take_b, F.col("__b")).when(f_ok, F.col("__f"))
    return carried.filter(F.col("__side") == 1).select(
        *lcols,
        *[m[c].alias(f"{c}{suffix}") for c in value_cols],
    )
