"""Streaming form of q_selection_pipeline (streaming/selection.py): the
batch capstone's stage functions run as a LIVE foreachBatch pipeline —
file-stream ingest with replayed/overlapping files, per-epoch FROZEN
model state (length cuts, benchmark trigram set, DSIR LM), stateful
exact dedup through a seen-norms table, exactly-once score appends, and
a terminal top-k — asserted EQUAL to the batch q_selection_pipeline
row for row."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from etl_data_processor_spark.io import Catalog
from etl_data_processor_spark.streaming.selection import (
    finalize_selection,
    frozen_selection_state,
    selection_gate_sink,
)
from etl_data_processor_spark.streaming.windows import streaming_dedup

DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def test_streaming_selection_matches_batch(spark, sf_dir, tmp_path):
    docs = Catalog(spark, sf_dir).documents.select(
        "doc_id", "source", "text", "n_chars"
    )

    # epoch freeze: the corpus-relative model state, derived once (in
    # production: from yesterday's epoch; here: the same fixture the
    # batch capstone reads, so the twin must match it exactly)
    models = frozen_selection_state(docs)

    # stream input in ASCENDING doc_id ranges with OVERLAPS (replayed
    # rows) — at-least-once ingest; ascending order is what makes
    # first-batch-wins dedup equal the batch keep-min rule
    src = str(tmp_path / "incoming")
    cuts = [(0, 120), (80, 250), (200, 10_000_000)]
    full = Catalog(spark, sf_dir).documents
    for lo, hi in cuts:
        full.filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        ).coalesce(1).write.mode("append").parquet(src)

    seen_table = str(tmp_path / "seen_norms")
    scores_table = str(tmp_path / "scores")
    apply = selection_gate_sink(models, seen_table, scores_table)

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
        deduped.drop("__ts")
        .writeStream.foreachBatch(apply)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = sorted(
        map(tuple, finalize_selection(spark, scores_table).collect())
    )
    want = sorted(
        map(
            tuple,
            entry_mod.queries()["q_selection_pipeline"](spark, sf_dir).collect(),
        )
    )
    assert len(want) == 100
    assert got == want


@pytest.mark.slow
def test_multi_epoch_refreeze_boundary_semantics(spark, sf_dir, tmp_path):
    """Round-7 follow-up (builder candidate #3): TWO epochs with a model
    re-freeze at the boundary. The contract under test:

    - models re-freeze per epoch (epoch 2 derives from the grown
      corpus and must actually differ from epoch 1's state);
    - the seen-norms DEDUP STATE carries ACROSS the boundary (a doc
      selected last epoch is still a duplicate this epoch, even though
      the scoring models changed), so replayed epoch-1 rows never
      re-score;
    - epoch-1 results are immutable once closed (epoch-2 ingest writes
      a new scores table);
    - the streamed epoch-2 result over many micro-batches WITH replays
      equals one direct batch invocation of the same gate chain against
      a snapshot of the epoch-1 state — micro-batching is an execution
      detail, not a semantics change.
    """
    from etl_data_processor_spark import tableformat as TF

    full = Catalog(spark, sf_dir).documents.select(
        "doc_id", "source", "text", "n_chars"
    )
    c1 = full.filter(F.col("doc_id") < 300)
    c2 = full.filter(F.col("doc_id") >= 300)

    seen_table = str(tmp_path / "seen_norms")

    # ---- epoch 1: freeze from C1, stream C1 in two files -------------
    m1 = frozen_selection_state(c1)
    scores1 = str(tmp_path / "scores_e1")
    apply1 = selection_gate_sink(m1, seen_table, scores1)
    src1 = str(tmp_path / "in_e1")
    for lo, hi in [(0, 150), (150, 300)]:
        c1.filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        ).coalesce(1).write.mode("append").parquet(src1)
    q = (
        spark.readStream.schema(DOC_SCHEMA.replace("lang string, ", ""))
        .option("maxFilesPerTrigger", 1)
        .parquet(src1)
        .writeStream.foreachBatch(apply1)
        .option("checkpointLocation", str(tmp_path / "ckpt_e1"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    s1_close = sorted(map(tuple, finalize_selection(spark, scores1).collect()))
    assert len(s1_close) > 0
    e1_ids = {t[0] for t in s1_close}

    # snapshot the carried state at the epoch boundary
    seen_snap = str(tmp_path / "seen_snapshot")
    TF.append_idempotent(TF.read(spark, seen_table), seen_snap, "e1-close")

    # ---- boundary: re-freeze from the grown corpus -------------------
    m2 = frozen_selection_state(full)
    assert m2["cuts"].collect() != m1["cuts"].collect() or sorted(
        map(tuple, m2["lr"].collect())
    ) != sorted(map(tuple, m1["lr"].collect())), "re-freeze changed nothing"

    # ---- epoch 2: stream C2 plus a REPLAYED epoch-1 file -------------
    scores2 = str(tmp_path / "scores_e2")
    apply2 = selection_gate_sink(m2, seen_table, scores2)
    src2 = str(tmp_path / "in_e2")
    c2.filter(F.col("doc_id") < 400).coalesce(1).write.mode("append").parquet(src2)
    # replay: epoch-1 rows arriving again next epoch (late/duplicated feed)
    c1.filter(F.col("doc_id") < 100).coalesce(1).write.mode("append").parquet(src2)
    c2.filter(F.col("doc_id") >= 400).coalesce(1).write.mode("append").parquet(src2)
    q = (
        spark.readStream.schema(DOC_SCHEMA.replace("lang string, ", ""))
        .option("maxFilesPerTrigger", 1)
        .parquet(src2)
        .writeStream.foreachBatch(apply2)
        .option("checkpointLocation", str(tmp_path / "ckpt_e2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got2 = sorted(
        map(tuple, TF.read(spark, scores2).collect())
    )
    got2_ids = {t[0] for t in got2}

    # cross-epoch dedup: no epoch-1 doc re-scores in epoch 2
    e1_scored = {r["doc_id"] for r in TF.read(spark, scores1).collect()}
    assert not (got2_ids & e1_scored)

    # epoch-1 close is immutable after epoch-2 ingest
    assert sorted(
        map(tuple, finalize_selection(spark, scores1).collect())
    ) == s1_close
    assert e1_ids  # sanity: epoch 1 really selected something

    # one-big-batch equivalence against the boundary snapshot
    scores_exp = str(tmp_path / "scores_expected")
    one_batch = c2.unionByName(c1.filter(F.col("doc_id") < 100))
    selection_gate_sink(m2, seen_snap, scores_exp)(one_batch, 0)
    want2 = sorted(map(tuple, TF.read(spark, scores_exp).collect()))
    assert got2 == want2
