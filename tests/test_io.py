"""Source/sink coverage (B1): the table catalog, the paged source, the
partitioned split layout, and bucketed tables for co-located
(shuffle-free) joins."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from etl_data_processor_spark.io import Catalog


def test_paged_source_partition_planning(spark):
    """A2: the page plan — ceil(total/25) input partitions, parallel fetch."""
    from etl_data_processor_spark.sources.paged import PagedDecisionSource, _PagedReader

    try:
        spark.dataSource.register(PagedDecisionSource)
    except Exception:
        pass
    reader = _PagedReader({"total_rows": "228"})
    assert len(reader.partitions()) == 10  # ceil(228/25)
    df = spark.read.format("paged_decisions").option("total_rows", 228).load()
    assert df.count() == 228
    assert df.rdd.getNumPartitions() == 10
    # A12 downstream: approved-only filter matches the reference's subset
    approved = df.filter(
        F.col("status").isin("Anbefalet", "Delvist anbefalet")
    ).count()
    assert approved == 152  # 228 * 2/3


def test_partitioned_split_write_layout(spark, sf_dir, tmp_path):
    """train_test_split + partitionBy('split') produces the layout downstream
    training readers partition-prune on (the B41 write path)."""
    import os

    from etl_data_processor_spark.ops.sampling import train_test_split

    cat = Catalog(spark, sf_dir)
    out = str(tmp_path / "docs_split")
    split = train_test_split(cat.documents, "doc_id", {"train": 0.9, "test": 0.1})
    split.write.partitionBy("split").parquet(out)
    dirs = {d for d in os.listdir(out) if d.startswith("split=")}
    assert dirs == {"split=train", "split=test"}
    back = spark.read.parquet(out)
    assert back.count() == cat.documents.count()


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """A filter on the split column of train_test_split's partitionBy
    layout prunes at plan time: the scan's PartitionFilters carries the
    predicate, and the read returns exactly that split's rows."""
    from etl_data_processor_spark.ops.sampling import train_test_split

    cat = Catalog(spark, sf_dir)
    out = str(tmp_path / "docs_split")
    split = train_test_split(cat.documents, "doc_id", {"train": 0.9, "test": 0.1})
    split.write.partitionBy("split").parquet(out)

    test = spark.read.parquet(out).filter(F.col("split") == "test")
    buf = io.StringIO()
    with redirect_stdout(buf):
        test.explain("formatted")
    assert "split" in buf.getvalue().split("PartitionFilters:")[1].split("\n")[0]
    assert test.count() == split.filter(F.col("split") == "test").count()


def test_ntz_normalization_is_session_tz_independent(spark):
    """ADVICE r1 (medium): normalize_ntz must interpret NTZ wall time as UTC
    under ANY session timezone. The previous to_utc_timestamp(col, 'UTC')
    form shifted NTZ 12:00 to 20:00 UTC under an America/Los_Angeles
    session (the implicit NTZ→LTZ cast applies the session offset first);
    from_utc_timestamp(col, current_timezone()) cancels that shift exactly."""
    from etl_data_processor_spark.io import normalize_ntz

    old_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        for tz in ("UTC", "America/Los_Angeles", "Asia/Tokyo"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            df = spark.sql(
                "SELECT TIMESTAMP_NTZ '2024-06-01 12:00:00' AS ts"
            )
            out = normalize_ntz(df)
            assert not any(
                t.dataType.typeName().startswith("timestamp_ntz")
                for t in out.schema.fields
            )
            micros = out.select(F.unix_micros("ts").alias("us")).collect()[0].us
            # 2024-06-01T12:00:00Z epoch micros, regardless of session tz
            assert micros == 1717243200000000, (tz, micros)
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_bucketed_join_plans_zero_exchanges(spark, sf_dir):
    """ensure_bucketed_join_tables' write-time-bucketed tables -> a join on
    the bucket key plans no Exchange on either side (co-partitioned
    reads), and values equal the plain join over the fixture."""
    import re

    from etl_data_processor_spark.io import ensure_bucketed_join_tables

    ob, cb = ensure_bucketed_join_tables(spark, sf_dir)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = (
            spark.table(ob)
            .join(spark.table(cb), F.col("o_custkey") == F.col("c_custkey"))
            .groupBy()
            .agg(F.count(F.lit(1)).alias("n"), F.sum("o_custkey").alias("s"))
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        # the join itself consumes the bucket layout: no shuffle below it
        join_part = plan[plan.index("Join"):]
        assert len(re.findall(r"\bExchange\b", join_part)) == 0, join_part
        cat = Catalog(spark, sf_dir)
        expected = (
            cat.orders.join(cat.customer, F.col("o_custkey") == F.col("c_custkey"))
            .groupBy()
            .agg(F.count(F.lit(1)).alias("n"), F.sum("o_custkey").alias("s"))
            .collect()[0]
        )
        assert j.collect()[0] == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
