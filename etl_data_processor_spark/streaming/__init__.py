from etl_data_processor_spark.streaming import windows  # noqa: F401


def freeze(df):
    """Cache an epoch's reference frame and materialize it once, so every
    micro-batch reads the same state without recomputing it."""
    df = df.cache()
    df.count()
    return df


def read_state(spark, table_dir):
    """A cross-batch state table (tableformat), or None before its first
    commit."""
    from etl_data_processor_spark import tableformat as TF

    try:
        return TF.read(spark, table_dir)
    except ValueError:  # no commit yet
        return None


def streaming_append_sink(table_dir: str, per_batch=lambda df: df):
    """`writeStream.foreachBatch` sink committing each micro-batch as an
    idempotent transactional append to a ``tableformat`` table — batch
    replays after a failure deduplicate on the recorded batch id, so the
    table sees each batch exactly once.

    Each micro-batch first goes through ``per_batch`` (DataFrame ->
    DataFrame; identity by default). A streaming monitor passes its
    registered key's kernel there (streaming/drift.py, streaming/evals.py),
    so the table holds ``batch_id`` plus the kernel's columns."""
    from pyspark.sql import functions as F

    from etl_data_processor_spark import tableformat as TF

    def sink(batch_df, batch_id: int) -> None:
        out = per_batch(batch_df).select(
            F.lit(batch_id).cast("long").alias("batch_id"), "*"
        )
        TF.append_idempotent(out, table_dir, f"stream-batch-{batch_id}")

    return sink
