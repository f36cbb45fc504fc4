"""Streaming drift monitors (streaming/drift.py): each monitor runs its
registered key's kernel per micro-batch, so streaming the fixture one
source per micro-batch must append, for every source, exactly the row
the batch key reports for that source."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from etl_data_processor_spark import tableformat as TF
from etl_data_processor_spark.io import Catalog
from etl_data_processor_spark.streaming import streaming_append_sink
from etl_data_processor_spark.streaming.drift import (
    jsd_monitor,
    ks_monitor,
    mwu_monitor,
    psi_monitor,
)

DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def _sink_rows(spark, out) -> dict:
    """source -> sink row without its batch_id; one row per micro-batch."""
    rows = [r.asDict() for r in TF.read(spark, out).collect()]
    assert len({r.pop("batch_id") for r in rows}) == len(rows)
    return {r["source"]: r for r in rows}


def _key_rows(spark, sf_dir, key) -> dict:
    return {
        r["source"]: r.asDict()
        for r in entry_mod.queries()[key](spark, sf_dir).collect()
    }


def _src0(spark, sf_dir):
    return Catalog(spark, sf_dir).documents.filter(F.col("source") == "src0")


def _batch(spark, rows):
    """A hand-made micro-batch: (doc_id, text, n_chars) rows of one source."""
    return spark.createDataFrame(
        [(i, t, "en", "srcX", n) for i, t, n in rows], DOC_SCHEMA
    )


def test_streaming_psi_matches_batch_per_file(
    spark, sf_dir, tmp_path, stream_sources
):
    """Reference src0 (the key's minimum source); src0 against itself
    reads 0, and a batch piled into one bin reads as shifted."""
    monitor = psi_monitor(_src0(spark, sf_dir))
    out = str(tmp_path / "psi")
    stream_sources(streaming_append_sink(out, monitor))

    got = _sink_rows(spark, out)
    assert got.pop("src0")["psi6"] == 0.0
    assert got == _key_rows(spark, sf_dir, "q_quality_drift_psi")

    piled = monitor(_batch(spark, [(i, "!!!", 3) for i in range(100)])).first()
    assert piled["n_docs"] == 100 and piled["psi6"] > 0.25


def test_streaming_jsd_matches_batch_per_file(
    spark, sf_dir, tmp_path, stream_sources
):
    """Reference the whole corpus (the key's global distribution); a
    batch whose vocabulary is disjoint from the reference's sits at the
    ln 2 bound, which needs the kernel's union vocabulary."""
    monitor = jsd_monitor(Catalog(spark, sf_dir).documents)
    out = str(tmp_path / "jsd")
    stream_sources(streaming_append_sink(out, monitor))

    assert _sink_rows(spark, out) == _key_rows(spark, sf_dir, "q_js_divergence")

    disjoint = monitor(_batch(spark, [(0, "zzz_only " * 10, 90)])).first()
    assert abs(disjoint["jsd6"] - math.floor(math.log(2) * 1e6) / 1e6) < 2e-6


def test_streaming_ks_matches_batch_per_file(
    spark, sf_dir, tmp_path, stream_sources
):
    """Reference src0; a batch far outside the reference's support has
    D = 1 and drifts."""
    monitor = ks_monitor(_src0(spark, sf_dir))
    out = str(tmp_path / "ks")
    stream_sources(streaming_append_sink(out, monitor))

    got = _sink_rows(spark, out)
    assert (got["src0"]["ks6"], got.pop("src0")["drifted"]) == (0.0, 0)
    assert got == _key_rows(spark, sf_dir, "q_ks_drift")

    far = monitor(_batch(spark, [(i, "x", 10_000_000) for i in range(500)]))
    assert (far.first()["ks6"], far.first()["drifted"]) == (1.0, 1)


def test_streaming_mwu_matches_batch_per_file(
    spark, sf_dir, tmp_path, stream_sources
):
    """Reference src0; a batch shifted above every reference value has
    the maximal U and is flagged."""
    ref = _src0(spark, sf_dir)
    monitor = mwu_monitor(ref)
    out = str(tmp_path / "mwu")
    stream_sources(streaming_append_sink(out, monitor))

    got = _sink_rows(spark, out)
    assert (got["src0"]["z6"], got.pop("src0")["shifted"]) == (0.0, False)
    assert got == _key_rows(spark, sf_dir, "q_mannwhitney_u")

    rows = [(i, "x", 10_000_000 + i % 10) for i in range(200)]
    shifted = monitor(_batch(spark, rows)).first()
    assert shifted["shifted"] and shifted["z6"] > 1.96
    assert shifted["u2"] == 2 * shifted["ns"] * ref.count()
