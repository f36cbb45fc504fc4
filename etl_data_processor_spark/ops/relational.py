"""Relational core: filters, joins, aggregates, windows, set ops, sort/top-k.

Everything here is a thin, tested composition of DataFrame primitives —
Catalyst owns optimization (pushdown, join selection, partial aggregation,
TakeOrderedAndProject). The reference's relational behaviors are cited
per-operator (SURVEY.md §2 Part A); the rest is the B-series engine surface.

Scale posture (100 TB):
- joins against small dims go through ``broadcast_join`` (map-side, no shuffle);
- big-big joins rely on AQE skew splitting (enabled in session.py);
- aggregates are plain ``groupBy`` so Spark plans partial+final hash agg;
- top-k uses ``orderBy().limit(k)`` which Spark plans as TakeOrderedAndProject
  (per-partition heap + driver merge — never a global sort).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


# ---------------------------------------------------------------- filters

def filter_isin(df: DataFrame, column: str, values: Sequence) -> DataFrame:
    """IN-list filter — reference A12 ``filter_approved_decisions``
    (main.py:258-260): keep rows whose status is in the approved set."""
    return df.filter(F.col(column).isin(list(values)))


# ---------------------------------------------------------------- joins

def broadcast_join(fact: DataFrame, dim: DataFrame, on, how: str = "inner") -> DataFrame:
    """Map-side join of a fact table against a small dimension.

    The reference's Danish month-name map (main.py:29-42, used at
    main.py:217-232) is morally this: a tiny lookup table replicated to every
    task. At 100 TB this is the difference between zero shuffle and a
    full-fact-table exchange.
    """
    return fact.join(F.broadcast(dim), on, how)


def left_join_with_defaults(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    defaults: dict[str, Column],
) -> DataFrame:
    """Left join + default-on-miss — reference A15 (main.py:288-303):
    LLM results merged back by key; a missing match falls back to
    ``(raw_text, "")`` instead of null. ``defaults`` maps right-side column
    name -> fallback expression applied via coalesce."""
    joined = left.join(right, on, "left")
    for col_name, fallback in defaults.items():
        joined = joined.withColumn(col_name, F.coalesce(F.col(col_name), fallback))
    return joined


def semi_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    return left.join(right, on, "left_semi")


def anti_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    return left.join(right, on, "left_anti")


# ---------------------------------------------------------------- dedup

def distinct_on(df: DataFrame, subset: Sequence[str] | None = None) -> DataFrame:
    """Exact dedup — reference A13 (main.py:264-285) collects distinct
    ``raw_drug_text`` before the expensive LLM call. ``dropDuplicates`` keeps
    an arbitrary row per key; pure ``distinct()`` when subset is None."""
    if subset is None:
        return df.distinct()
    return df.dropDuplicates(list(subset))


def dedup_keep_first(df: DataFrame, keys: Sequence[str], order_by: Sequence[Column]) -> DataFrame:
    """Deterministic dedup: keep the first row per key under an explicit
    ordering (row_number window). Unlike dropDuplicates this is reproducible
    across partitionings — required for oracle-checkable results."""
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# ---------------------------------------------------------------- top-k

def top_k(df: DataFrame, order_by: Sequence[Column], k: int) -> DataFrame:
    """Top-K — Spark plans TakeOrderedAndProject (per-partition heaps, no
    global sort). Mirrors the reference's early-stop/limit semantics (A18,
    main.py:348-349)."""
    return df.orderBy(*order_by).limit(k)


def ranked_topk(
    df: DataFrame,
    order: Sequence[tuple],
    k: int,
    rank_col: str = "rank",
) -> DataFrame:
    """Deterministic global top-k WITH a rank column, without ever planning
    an unpartitioned Window over the input.

    `Window.partitionBy().orderBy(...)` plans as Exchange SinglePartition +
    a one-task sort of EVERY input row — a corpus-sized single task at
    100 TB (Spark logs "Moving all data to a single partition" on it).
    Instead: `orderBy(...).limit(k)` plans as TakeOrderedAndProject
    (per-partition top-k heaps, then a k-row merge), and the rank is
    recovered ON THE <=k-ROW RESULT by a broadcast self-join count —
    rank(x) = 1 + |{y : y strictly before x}| — which equals row_number
    because `order` must be a total order (include a unique tiebreak
    column; keys must be non-null). No WindowExec anywhere in the plan.

    The k-row frame is cached so the TakeOrdered subtree executes once,
    not once per self-join side (broadcast builds re-execute shared
    subtrees otherwise).

    order: sequence of (column_name, "asc"|"desc").
    """
    sort_exprs = [
        F.col(c).desc() if d == "desc" else F.col(c).asc() for c, d in order
    ]
    top = df.orderBy(*sort_exprs).limit(k).cache()
    keys = [c for c, _ in order]
    rhs = top.select([F.col(c).alias(f"__tk_{c}") for c in keys])
    before = F.lit(False)
    eq = F.lit(True)
    for c, d in order:
        other, mine = F.col(f"__tk_{c}"), F.col(c)
        lt = (other > mine) if d == "desc" else (other < mine)
        before = before | (eq & lt)
        eq = eq & (other == mine)
    out_cols = list(top.columns)
    return (
        top.join(F.broadcast(rhs), before, "left")
        .groupBy(*out_cols)
        .agg((F.count(f"__tk_{keys[0]}") + F.lit(1)).cast("int").alias(rank_col))
    )


# ---------------------------------------------------------------- counts

def counted(df: DataFrame) -> DataFrame:
    """Row count as a 1-row DataFrame (reference A21 logs len(); main.py:353-355).
    Kept as a DataFrame (not .count()) so it composes and stays distributed."""
    return df.agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------- skew

def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    salt_buckets: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: salt the (big, skewed) left side's key into
    ``salt_buckets`` sub-keys and replicate the right side across all salts.

    AQE's skew-join splitting (on in session.py) handles most skew at
    runtime; explicit salting is for the pathological hot-key case AQE can't
    split (e.g. one key holding >50% of rows feeding a hash aggregate).
    Right-side replication costs salt_buckets× its size — use for modest
    right sides only.
    """
    salted_left = left.withColumn(
        "__salt", (F.spark_partition_id() + F.monotonically_increasing_id()) % salt_buckets
    )
    salts = F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)]))
    salted_right = right.withColumn("__salt", salts)
    out = salted_left.join(salted_right, [key, "__salt"], how)
    return out.drop("__salt")
