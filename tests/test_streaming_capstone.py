"""Streaming corpus-curation capstone: the batch q_corpus_pipeline story
run as a LIVE pipeline — file-stream ingest (with replayed/overlapping
input files), stateful exact dedup, per-micro-batch MinHash-LSH
decontamination against a STATIC benchmark index (computed once, reused
every batch — the streaming form of the reusable band-bucket index), and
exactly-once appends into the log-structured table format. The final
table must equal the batch pipeline over the distinct input set."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from etl_data_processor_spark import tableformat as TF
from etl_data_processor_spark.io import Catalog
from etl_data_processor_spark.ops.dedup import (
    lsh_verified_pairs,
    minhash_band_buckets,
    with_shingles,
)
from etl_data_processor_spark.streaming.windows import streaming_dedup

DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"
BENCH_SRCS = ["src0", "src1", "src2", "src3"]


@pytest.mark.slow
def test_streaming_curation_matches_batch(spark, sf_dir, tmp_path):
    docs = Catalog(spark, sf_dir).documents
    train = docs.filter(~F.col("source").isin(BENCH_SRCS))
    bench = docs.filter(F.col("source").isin(BENCH_SRCS))

    # static benchmark index: shingled + band buckets, computed ONCE and
    # captured by the per-batch closure (at scale: a persisted signature
    # table)
    sh_bench = with_shingles(bench.select("doc_id", "text")).select(
        "doc_id", "shingles"
    )
    sh_bench.cache()
    bk_bench = minhash_band_buckets(sh_bench).cache()
    bk_bench.count()

    def contaminated_ids(df):
        sh = with_shingles(df.select("doc_id", "text")).select(
            "doc_id", "shingles"
        )
        pairs = lsh_verified_pairs(
            minhash_band_buckets(sh), bk_bench, sh.unionByName(sh_bench),
            keep=F.lit(True),
        )
        return pairs.select(F.col("id_a").alias("doc_id")).distinct()

    # stream input: three files with OVERLAPS (replayed rows) — the
    # at-least-once ingest reality the stateful dedup must absorb
    src = str(tmp_path / "incoming")
    cuts = [(0, 100), (50, 150), (100, 10_000_000)]
    for lo, hi in cuts:
        # one flat directory, appended file by file (the streaming file
        # source does not recurse into nested subdirectories)
        train.filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        ).coalesce(1).write.mode("append").parquet(src)

    table = str(tmp_path / "curated")

    def curate(batch_df, batch_id: int) -> None:
        batch_df = batch_df.drop("__ts")
        clean = batch_df.join(
            F.broadcast(contaminated_ids(batch_df)), "doc_id", "left_anti"
        )
        TF.append_idempotent(
            clean.select("doc_id", "source"), table, f"curate-{batch_id}"
        )

    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)  # force multiple micro-batches
        .parquet(src)
        .withColumn("__ts", F.timestamp_micros(F.col("doc_id")))
    )
    deduped = streaming_dedup(
        stream, keys=["doc_id"], ts_col="__ts", watermark="1 hour"
    )
    q = (
        deduped.writeStream.foreachBatch(curate)
        .option("checkpointLocation", str(tmp_path / "chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = {
        (r["doc_id"], r["source"])
        for r in TF.read(spark, table).collect()
    }

    # batch reference: same decontamination over the distinct input set
    ref_bad = contaminated_ids(train)
    want = {
        (r["doc_id"], r["source"])
        for r in train.join(F.broadcast(ref_bad), "doc_id", "left_anti")
        .select("doc_id", "source")
        .collect()
    }
    assert got == want
    # replayed rows were absorbed: no doc appears twice
    assert len(got) == len({d for d, _ in got})
    # every micro-batch landed as its own exactly-once commit
    assert len(TF.history(table)) >= 3
