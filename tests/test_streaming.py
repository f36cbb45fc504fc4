"""The engine's plans driven through Structured Streaming micro-batches:
a registered window key's grouping over a readStream file source, and
the paged source's streaming reader resuming from its committed offset.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


@pytest.fixture()
def events_stream_dir(spark, sf_dir, tmp_path):
    """Events fixture re-written as a parquet directory a file stream can
    tail (the driver fixture is a single file with nanos timestamps)."""
    from etl_data_processor_spark.io import Catalog

    out = str(tmp_path / "events_stream")
    Catalog(spark, sf_dir).events.repartition(4).write.parquet(out)
    return out


def _drain(stream_df, name, mode):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=120)
    q.stop()
    return stream_df.sparkSession.table(name)


def test_stream_tumbling_equals_batch(spark, sf_dir, events_stream_dir, monkeypatch):
    """B36: q_stream_tumbling's own plan, fed a readStream of the events
    and drained in complete mode, equals the key's batch rows."""
    from types import SimpleNamespace

    from etl_data_processor_spark import queries_north as QN

    want = {tuple(r) for r in QN.q_stream_tumbling(spark, sf_dir).collect()}
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(events_stream_dir)
    monkeypatch.setattr(QN, "_cat", lambda *_: SimpleNamespace(events=stream))
    agg = QN.q_stream_tumbling(spark, sf_dir)
    got = {tuple(r) for r in _drain(agg, "t_tumbling", "complete").collect()}
    assert got == want and len(want) > 1


@pytest.mark.slow
def test_paged_source_streams_with_offset_resume(spark, tmp_path):
    """A1/A2 streaming shape: the paged source as a streaming Python Data
    Source. Each availableNow run drains one micro-batch of pages and
    commits its offset; re-starting against the SAME checkpoint resumes
    from the committed page instead of re-fetching — the property that
    makes an incremental scrape exactly-once when paired with an
    idempotent sink."""
    from etl_data_processor_spark.sources.paged import PagedDecisionSource

    try:
        spark.dataSource.register(PagedDecisionSource)
    except Exception:
        pass  # already registered by another test in this session

    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def sink(batch_df, batch_id):
        # idempotent per batch id: a replayed batch overwrites only its
        # own partition instead of appending its rows again
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out)
        )

    cumulative = []
    for _ in range(3):
        stream = (
            spark.readStream.format("paged_decisions")
            .option("total_rows", 120)  # 5 pages of 25
            .option("pages_per_batch", 2)
            .load()
        )
        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        cumulative.append(spark.read.parquet(out).count())
    # each availableNow restart resumes from the committed offset: 2 pages
    # (50), then 2 more (100), then the last short page (120) - no page
    # fetched twice, every page fetched once
    assert cumulative == [50, 100, 120]
    pages = spark.read.parquet(out).groupBy("page").count().collect()
    assert {r.page: r["count"] for r in pages} == {1: 25, 2: 25, 3: 25, 4: 25, 5: 20}
