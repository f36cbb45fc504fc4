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
