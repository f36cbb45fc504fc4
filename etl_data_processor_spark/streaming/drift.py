"""Streaming drift monitors: per-micro-batch PSI, Jensen-Shannon
divergence, Kolmogorov-Smirnov and Mann-Whitney U against a reference
frozen once per epoch.

Each monitor returns the per-batch frame function for
``streaming.streaming_append_sink``: it counts the micro-batch the way
its registered key counts the corpus and calls that key's kernel in
ops.drift against the frozen reference. The kernel groups by ``source``,
so a micro-batch holding one source's rows yields exactly the key's row
for that source (tests/test_streaming_drift.py), and the table gains
(batch_id, <kernel columns>) exactly once per batch id. No statistic is
computed outside the plan. Usage::

    ref = docs.filter(F.col("source") == "src0")
    stream.writeStream.foreachBatch(
        streaming_append_sink(out_dir, psi_monitor(ref))
    )

A reader alerts on the key's own columns: ``psi6 > 0.25``, ``drifted``
(KS), ``shifted`` (MWU), or a ``jsd6`` threshold of its choice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_data_processor_spark.ops import drift as DR
from etl_data_processor_spark.streaming import freeze


def _pooled(counts: DataFrame, key: str) -> DataFrame:
    """The reference's counts summed over its sources: (key, c)."""
    return freeze(counts.groupBy(key).agg(F.sum("c").alias("c")))


def psi_monitor(ref_docs: DataFrame):
    """q_quality_drift_psi per micro-batch: (source, n_docs, psi6)."""
    ref = _pooled(DR.psi_bin_counts(ref_docs), "bin")
    return lambda batch: DR.psi_kernel(DR.psi_bin_counts(batch), ref)


def jsd_monitor(ref_docs: DataFrame):
    """q_js_divergence per micro-batch: (source, jsd6). The reference's
    unigram table is vocabulary-sized, so it stays a cached frame."""
    ref = _pooled(DR.jsd_token_counts(ref_docs), "token")
    return lambda batch: DR.jsd_kernel(DR.jsd_token_counts(batch), ref)


def ks_monitor(ref_docs: DataFrame):
    """q_ks_drift per micro-batch: (source, n, ks6, drifted)."""
    ref = _pooled(DR.value_counts(ref_docs), "v")
    return lambda batch: DR.ks_kernel(DR.value_counts(batch), ref)


def mwu_monitor(ref_docs: DataFrame):
    """q_mannwhitney_u per micro-batch: (source, ns, u2, z6, shifted)."""
    ref = _pooled(DR.value_counts(ref_docs), "v")
    return lambda batch: DR.mwu_kernel(DR.value_counts(batch), ref)
