"""Structured Streaming operators (B36-B40) + their batch-equivalent shapes.

The aggregation logic is IDENTICAL for batch and streaming: ``window()`` /
``session_window()`` group exactly the same way on a batch DataFrame as on a
stream — so each operator here takes any DataFrame. The batch form is what
the DuckDB oracle checks; the streaming form (readStream + watermark +
writeStream) is exercised in tests via file sources and foreachBatch memory
sinks (SURVEY.md §5.2).

Watermarks bound state at scale: a 1000-executor streaming job with
unbounded windows is a memory leak; every stateful op here takes a
watermark when used on a stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_data_processor_spark.ops.exact import dsum


def tumbling_counts(
    df: DataFrame,
    ts_col: str = "ts",
    duration: str = "10 minutes",
    extra_keys: list[str] | None = None,
) -> DataFrame:
    """B36: tumbling-window aggregate. On a stream: add withWatermark first."""
    keys = [F.window(ts_col, duration).alias("win")] + [
        F.col(k) for k in (extra_keys or [])
    ]
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", 2).alias("sum_value"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            *(extra_keys or []),
            "n",
            "sum_value",
        )
    )


def sliding_counts(
    df: DataFrame,
    ts_col: str = "ts",
    duration: str = "10 minutes",
    slide: str = "5 minutes",
) -> DataFrame:
    """B36: sliding-window aggregate (each event lands in duration/slide
    windows)."""
    return (
        df.groupBy(F.window(ts_col, duration, slide).alias("win"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "n",
        )
    )


def session_counts(
    df: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    gap: str = "5 minutes",
) -> DataFrame:
    """B37: session windows (dynamic, gap-based). Emits per-session start
    (min event ts) + event count. session_window end extends gap past the
    last event, so only the start is oracle-comparable."""
    return (
        df.groupBy(F.session_window(ts_col, gap).alias("win"), F.col(key))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col(key), F.col("win.start").alias("session_start"), "n")
    )


def streaming_dedup(
    stream: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """B39: stateful streaming dedup with bounded state —
    dropDuplicatesWithinWatermark keeps only in-watermark keys in state."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def streaming_running_totals(
    stream: DataFrame,
    key: str = "user_id",
    value_col: str = "value",
    ts_col: str = "ts",
    watermark: str = "1 hour",
    state_timeout_ms: int | None = None,
) -> DataFrame:
    """Custom stateful operator (north star): per-key running totals via
    applyInPandasWithState — arbitrary user state the built-in aggregates
    can't express (e.g. running counters that emit an update every batch,
    conditional resets, per-key models).

    State is a (count, total) pair per key. Pass ``state_timeout_ms`` to
    bound state lifetime on a continuous stream (at 100 TB of keys,
    unbounded state is the failure mode); leave None for bounded/availableNow
    runs — a ProcessingTimeTimeout keeps an availableNow drain alive.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField(key, LongType()),
            StructField("n_events", LongType()),
            StructField("total_value", DoubleType()),
        ]
    )
    state_schema = StructType(
        [StructField("n", LongType()), StructField("total", DoubleType())]
    )

    def update(key_tuple, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf[value_col].sum())
        state.update((n, total))
        if state_timeout_ms is not None:
            state.setTimeoutDuration(state_timeout_ms)
        yield pd.DataFrame(
            {key: [key_tuple[0]], "n_events": [n], "total_value": [total]}
        )

    timeout_conf = (
        GroupStateTimeout.ProcessingTimeTimeout
        if state_timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(key)
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=timeout_conf,
        )
    )


def idempotent_parquet_sink(out_dir: str):
    """B40: the exactly-once foreachBatch recipe. Structured Streaming
    guarantees at-least-once delivery to foreachBatch — after a failure the
    SAME batch_id is replayed with the SAME data — so a sink is exactly-once
    iff it is idempotent per batch_id. Partitioning the write by batch_id
    with dynamic partition overwrite makes a replay overwrite its own
    previous (possibly partial) output instead of appending duplicates;
    this is the standard recipe for non-transactional stores and scales to
    any batch size (one directory swap per batch, no read-modify-write).

    Returns the (batch_df, batch_id) callback for ``writeStream.foreachBatch``.
    """

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("__batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__batch_id")
            .parquet(out_dir)
        )

    return sink


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    max_delay: str = "1 hour",
    watermark: str = "2 hours",
    join_type: str = "inner",
) -> DataFrame:
    """STREAM-STREAM interval join — the impression->click attribution
    shape (Structured Streaming's flagship stateful join): a right event
    joins a left event on ``key`` when it lands inside
    ``[left_ts, left_ts + max_delay]``.

    Both sides carry a watermark, and the time-interval condition gives
    the engine a state-expiry bound on BOTH buffers: a left row can be
    dropped from state once the right watermark passes
    ``left_ts + max_delay``, a right row once the left watermark passes
    ``right_ts`` — without the interval bound, stream-stream join state
    grows forever. ``left_ts``/``right_ts`` (and the non-key columns)
    must be distinct names; ``key`` is the shared equi-column. Outer
    variants emit the unmatched side only once its watermark proves no
    future match can arrive — same contract as batch outer join, arriving
    incrementally.

    At 100 TB/day both sides shuffle once on ``key`` and state stays
    bounded by rate x max_delay — the knob to size, exactly like a
    batch range join's band width."""
    l_wm = left.withWatermark(left_ts, watermark)
    r_wm = right.withWatermark(right_ts, watermark)
    cond = (
        (l_wm[key] == r_wm[key])
        & (F.col(right_ts) >= F.col(left_ts))
        & (F.col(right_ts) <= F.col(left_ts) + F.expr(f"INTERVAL {max_delay}"))
    )
    return l_wm.join(r_wm, cond, join_type).drop(r_wm[key])
