"""Streaming eval monitors: per-micro-batch chrF and ROUGE-N against a
reference set frozen once per epoch, and a Heaps vocabulary-growth
monitor.

chrF and ROUGE return the per-batch frame function for
``streaming.streaming_append_sink``: the batch's candidate rows (every
source but the reference source src0) join the frozen reference docs
(rid, text) by rid and are scored by the registered key's kernel
(queries_r7b.chrf_eval, queries_r7.rouge_eval), so a micro-batch over
rows R yields the key's report over R (tests/test_streaming_evals.py).

The Heaps monitor carries CROSS-batch state — the seen-vocabulary table
(token) and the checkpoint series — both log-structured tables appended
exactly once per batch id, so at-least-once micro-batch replays are
absorbed (the streaming/selection.py seen-state pattern). The
vocabulary state is corpus-vocabulary-sized and stays cluster-side. Its
fit is q_heaps_fit's OLS (queries_r7b.heaps_ols) over the checkpoint
series.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_data_processor_spark.ops.text import tokenize
from etl_data_processor_spark.streaming import freeze, read_state


def _reference(ref_docs: DataFrame) -> DataFrame:
    return freeze(ref_docs.select(F.col("doc_id").alias("rid"), "text"))


def _candidates(batch: DataFrame) -> DataFrame:
    return batch.filter(F.col("source") != "src0")


def chrf_monitor(ref_docs: DataFrame):
    """q_chrf_eval per micro-batch: (source, matches, cand_grams,
    ref_grams, chrp6, chrr6, chrf6)."""
    from etl_data_processor_spark.queries_r7b import chrf_eval

    ref = _reference(ref_docs)
    return lambda batch: chrf_eval(_candidates(batch), ref)


def rouge_monitor(ref_docs: DataFrame):
    """q_rouge_n per micro-batch: (source, m1, t1, m2, t2, rouge1_6,
    rouge2_6)."""
    from etl_data_processor_spark.queries_r7 import rouge_eval

    ref = _reference(ref_docs)
    return lambda batch: rouge_eval(_candidates(batch), ref)


def heaps_monitor_sink(vocab_table: str, out_table: str):
    """foreachBatch closure for the vocabulary-growth monitor: per
    micro-batch (epoch slice), ONE token aggregate gives the batch's
    token count; an anti-join against the seen-vocabulary state table
    isolates the NEW types (first occurrence in stream order — exactly
    q_heaps_fit's min-bucket semantics with buckets := batches). The
    state table grows by those types and the checkpoint series gains
    (batch_id, n_tokens, n_types, beta6, logk6) — cumulative counts and
    the Heaps fit over every checkpoint so far, NULL until two exist —
    both exactly once. This is how a corpus team watches beta converge
    DURING ingest instead of fitting it after the fact."""
    from etl_data_processor_spark import tableformat as TF
    from etl_data_processor_spark.queries_r7b import heaps_ols

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        agg = (
            batch_df.select(F.explode(tokenize(F.col("text"))).alias("token"))
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias("c"))
            .persist()
        )
        try:
            n_batch = agg.agg(F.sum("c")).first()[0] or 0
            if n_batch == 0:
                return
            seen = read_state(spark, vocab_table)
            new_types = agg.select("token")
            if seen is not None:
                new_types = new_types.join(seen, "token", "left_anti")
            new_types = new_types.persist()
            n_new = new_types.count()
            TF.append_idempotent(new_types, vocab_table, f"heaps-vocab-{batch_id}")
            new_types.unpersist()
        finally:
            agg.unpersist()
        prior = read_state(spark, out_table)
        last_n, last_v = (0, 0)
        if prior is not None:
            last_n, last_v = prior.agg(F.max("n_tokens"), F.max("n_types")).first()
        point = spark.createDataFrame(
            [(last_n + n_batch, last_v + n_new)], "n long, v long"
        )
        series = point
        if prior is not None:
            series = prior.select(
                F.col("n_tokens").alias("n"), F.col("n_types").alias("v")
            ).unionByName(point)
        row = heaps_ols(series).crossJoin(point).select(
            F.lit(batch_id).cast("long").alias("batch_id"),
            F.col("n").alias("n_tokens"),
            F.col("v").alias("n_types"),
            "beta6",
            "logk6",
        )
        TF.append_idempotent(row, out_table, f"heaps-{batch_id}")

    return apply
