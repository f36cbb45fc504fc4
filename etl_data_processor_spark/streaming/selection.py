"""Streaming form of the q_selection_pipeline gate chain.

The batch capstone (queries_r6j.py) chains entropy gate -> length-
quantile gate -> exact dedup -> trigram decontamination -> DSIR scoring
-> top-k -> shard placement. This module runs the same stage functions
per micro-batch. Two pieces are corpus-relative, which is what a
streaming port must handle:

- the length-quantile cuts, the benchmark trigram set and the DSIR
  log-ratio table are FROZEN PER EPOCH (:func:`frozen_selection_state`
  runs the key's chain once on the epoch's reference corpus — in
  production, yesterday's corpus; re-freeze per epoch exactly like
  re-training a tokenizer);
- exact dedup is cross-batch stateful -> a seen-norms state table with
  first-batch-wins semantics (ascending-id ingest makes that identical
  to the batch keep-min rule), persisted through the log-structured
  table format so replayed micro-batches are absorbed exactly once
  (tableformat.append_idempotent's txn-id pattern). This is the one
  stage the streaming form implements itself.

The scores accumulate in a table; the terminal top-k + shard placement
runs once per epoch close over it (:func:`finalize_selection`, the key's
own stage 6). tests/test_streaming_selection.py asserts the streamed
result equals q_selection_pipeline row for row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_data_processor_spark import queries_r6j as S
from etl_data_processor_spark.ops.dedup import normalize_text
from etl_data_processor_spark.streaming import freeze, read_state


def frozen_selection_state(docs: DataFrame) -> dict:
    """Epoch-frozen model state: the key's chain run on ``docs``
    (doc_id, source, text, n_chars), keeping its length cuts, benchmark
    trigram set and DSIR log-ratio table — all broadcast-sized, cached
    so every micro-batch reuses them."""
    chain = S.selection_chain(docs)
    return {k: freeze(chain[k]) for k in ("cuts", "bench", "lr")}


def selection_gate_sink(models: dict, seen_table: str, scores_table: str):
    """foreachBatch closure running the gate chain per micro-batch against
    the frozen ``models``. Cross-batch state is the seen-norms table
    (exact dedup, first-batch-wins) and the accumulated scores table —
    both log-structured tables appended exactly once per batch id, so
    at-least-once micro-batch replays are absorbed."""
    from etl_data_processor_spark import tableformat as TF
    from etl_data_processor_spark.ops.text import token_poly_bucket_counts

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        docs = batch_df.select("doc_id", "source", "text", "n_chars")
        g1 = docs.join(S.entropy_gate(docs), "doc_id")
        g2 = S.length_gate(g1, models["cuts"])

        # stage 3: exact dedup — batch-local keep-min, then anti-join the
        # cross-batch seen-norms state (first batch wins; ascending-id
        # ingest makes this the batch keep-min rule)
        withn = g2.withColumn("__norm", normalize_text(F.col("text")))
        g3 = withn.join(
            withn.groupBy("__norm").agg(F.min("doc_id").alias("doc_id")),
            ["__norm", "doc_id"],
        )
        seen = read_state(spark, seen_table)
        # NOT broadcast: the seen-norms state is corpus-cardinality at
        # scale — a shuffled anti-join per micro-batch is the honest cost
        # of EXACT cross-batch dedup (the bounded-state alternative,
        # dropDuplicatesWithinWatermark, trades exactness for a watermark)
        if seen is not None:
            g3 = g3.join(
                seen.select(F.col("norm").alias("__norm")), "__norm", "left_anti"
            )
        TF.append_idempotent(
            g3.select(F.col("__norm").alias("norm")), seen_table, f"seen-{batch_id}"
        )

        # stages 4-5 under the frozen models
        cand0 = g3.filter(F.col("source") != S._SEL_REF).drop("__norm")
        g4 = cand0.join(S.decontaminate(cand0, models["bench"]), "doc_id")
        bt = token_poly_bucket_counts(g4, S._SEL_BUCKETS, "doc_id", "long")
        scored = S.dsir_scores(bt, models["lr"]).join(
            g4.select("doc_id", "source"), "doc_id"
        )
        TF.append_idempotent(scored, scores_table, f"scores-{batch_id}")

    return apply


def finalize_selection(spark, scores_table: str) -> DataFrame:
    """Epoch close: the key's top-k + shard placement over the
    accumulated scores table."""
    from etl_data_processor_spark import tableformat as TF

    return S.select_top(TF.read(spark, scores_table))
