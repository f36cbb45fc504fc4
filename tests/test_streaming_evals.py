"""Streaming eval monitors (streaming/evals.py): the chrF and ROUGE
monitors run their registered key's kernel per micro-batch, so streaming
the fixture one source per micro-batch must append, for every candidate
source, exactly the key's row for it. The Heaps vocabulary-growth
monitor's cumulative checkpoints must equal an independent stream-order
replay, each fitted by the key's OLS (queries_r7b.heaps_ols)."""

from __future__ import annotations

from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
import pyarrow.parquet as pq
from etl_data_processor_spark import tableformat as TF
from etl_data_processor_spark.io import Catalog
from etl_data_processor_spark.streaming import streaming_append_sink
from etl_data_processor_spark.queries_r7b import heaps_ols
from etl_data_processor_spark.streaming.evals import (
    chrf_monitor,
    heaps_monitor_sink,
    rouge_monitor,
)

DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"

SLICES = [(0, 150), (150, 300), (300, 10_000_000)]


def _stream(spark, sf_dir, tmp_path, sink, name):
    docs = Catalog(spark, sf_dir).documents
    src = str(tmp_path / f"in-{name}")
    for lo, hi in SLICES:
        docs.filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        ).coalesce(1).write.mode("append").parquet(src)
    q = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / f"ckpt-{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _matches_key_per_source(spark, sf_dir, out, key):
    """One sink row per candidate source (the src0 micro-batch holds no
    candidates), each equal to the key's row for that source."""
    rows = [r.asDict() for r in TF.read(spark, out).collect()]
    assert len({r.pop("batch_id") for r in rows}) == len(rows)
    want = {
        r["source"]: r.asDict()
        for r in entry_mod.queries()[key](spark, sf_dir).collect()
    }
    assert len(want) == 19
    assert {r["source"]: r for r in rows} == want


def test_streaming_chrf_matches_batch_per_file(
    spark, sf_dir, tmp_path, stream_sources
):
    ref = Catalog(spark, sf_dir).documents.filter(F.col("source") == "src0")
    out = str(tmp_path / "chrf")
    stream_sources(streaming_append_sink(out, chrf_monitor(ref)))
    _matches_key_per_source(spark, sf_dir, out, "q_chrf_eval")


def test_streaming_rouge_matches_batch_per_file(
    spark, sf_dir, tmp_path, stream_sources
):
    ref = Catalog(spark, sf_dir).documents.filter(F.col("source") == "src0")
    out = str(tmp_path / "rouge")
    stream_sources(streaming_append_sink(out, rouge_monitor(ref)))
    _matches_key_per_source(spark, sf_dir, out, "q_rouge_n")


def test_streaming_heaps_matches_stream_order_replay(spark, sf_dir, tmp_path):
    vocab = str(tmp_path / "heaps-vocab")
    out = str(tmp_path / "heaps")
    _stream(
        spark, sf_dir, tmp_path, heaps_monitor_sink(vocab, out), "heaps"
    )

    got = sorted(
        (r["batch_id"], r["n_tokens"], r["n_types"], r["beta6"], r["logk6"])
        for r in TF.read(spark, out).collect()
    )
    assert [b for b, *_ in got] == [0, 1, 2]

    # independent stream-order replay: cumulative token count + first-
    # occurrence type count per slice (q_heaps_fit's min-bucket semantics
    # with buckets := batches), fit by the key's OLS
    alldocs = {
        r["doc_id"]: (r["source"], r["text"])
        for r in pq.read_table(f"{sf_dir}/documents.parquet").to_pylist()
    }
    seen: set[str] = set()
    cum_n = 0
    series = []
    for b, (lo, hi) in enumerate(SLICES):
        toks = [
            t
            for cid, (_s, text) in alldocs.items()
            if lo <= cid < hi
            for t in text.split()
        ]
        cum_n += len(toks)
        seen |= set(toks)
        series.append((cum_n, len(seen)))
        fit = heaps_ols(spark.createDataFrame(series, "n long, v long")).first()
        assert got[b] == (b, cum_n, len(seen), fit["beta6"], fit["logk6"]), b
    # the fixture's generator vocabulary saturates within the first
    # slice, so the true slope is ~0 (every later token is a repeat);
    # a broken fit lands far outside [0, Heaps' theoretical < 1]
    assert got[-1][3] is not None and -0.1 <= got[-1][3] < 1.5

    # the vocabulary state table holds exactly the distinct stream tokens
    n_vocab = TF.read(spark, vocab).count()
    assert n_vocab == len(seen)
