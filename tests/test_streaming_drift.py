"""The drift kernels (ops/drift.py) per micro-batch: each kernel groups by
``source``, so streaming the fixture one source per micro-batch and
calling the kernel on every batch against a fixed reference must give,
for every source, exactly the row its registered key reports for that
source. Each test also reads the kernel at its bound on a hand-made
batch outside the reference's support."""

from __future__ import annotations

import math
import os
import time

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from etl_data_processor_spark.io import Catalog
from etl_data_processor_spark.ops import drift as DR

DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


@pytest.fixture(scope="module")
def source_files(sf_dir, tmp_path_factory) -> str:
    """The fixture's documents as one parquet file per source, src0 first:
    a file stream with ``maxFilesPerTrigger=1`` makes each source one
    micro-batch."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/documents.parquet")
    d = tmp_path_factory.mktemp("docs_by_source")
    now = time.time()
    for i, s in enumerate(sorted(set(t.column("source").to_pylist()))):
        path = d / f"part-{i:03d}.parquet"
        pq.write_table(t.filter(pc.equal(t["source"], s)), path)
        os.utime(path, (now + i, now + i))  # the file source reads by mtime
    return str(d)


@pytest.fixture
def per_source(spark, source_files, tmp_path):
    """Stream ``source_files`` one source per micro-batch, append
    ``kernel(batch)`` with its batch id from a ``foreachBatch`` writer,
    and return source -> row; each micro-batch must give one row."""

    def run(kernel) -> dict:
        out = str(tmp_path / "per_source")

        def sink(batch, batch_id):
            kernel(batch).withColumn("batch_id", F.lit(batch_id)).write.mode(
                "append"
            ).parquet(out)

        q = (
            spark.readStream.schema(DOC_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(source_files)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        rows = [r.asDict() for r in spark.read.parquet(out).collect()]
        assert len({r.pop("batch_id") for r in rows}) == len(rows)
        return {r["source"]: r for r in rows}

    return run


def _pooled(counts, key):
    """A reference's counts summed over its sources: (key, c)."""
    return counts.groupBy(key).agg(F.sum("c").alias("c"))


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


def test_streaming_psi_matches_batch_per_file(spark, sf_dir, per_source):
    """Reference src0 (the key's minimum source); src0 against itself
    reads 0, and a batch piled into one bin reads as shifted."""
    ref = _pooled(DR.psi_bin_counts(_src0(spark, sf_dir)), "bin")

    def kernel(batch):
        return DR.psi_kernel(DR.psi_bin_counts(batch), ref)

    got = per_source(kernel)
    assert got.pop("src0")["psi6"] == 0.0
    assert got == _key_rows(spark, sf_dir, "q_quality_drift_psi")

    piled = kernel(_batch(spark, [(i, "!!!", 3) for i in range(100)])).first()
    assert piled["n_docs"] == 100 and piled["psi6"] > 0.25


def test_streaming_jsd_matches_batch_per_file(spark, sf_dir, per_source):
    """Reference the whole corpus (the key's global distribution); a
    batch whose vocabulary is disjoint from the reference's sits at the
    ln 2 bound, which needs the kernel's union vocabulary."""
    ref = _pooled(DR.jsd_token_counts(Catalog(spark, sf_dir).documents), "token")

    def kernel(batch):
        return DR.jsd_kernel(DR.jsd_token_counts(batch), ref)

    assert per_source(kernel) == _key_rows(spark, sf_dir, "q_js_divergence")

    disjoint = kernel(_batch(spark, [(0, "zzz_only " * 10, 90)])).first()
    assert abs(disjoint["jsd6"] - math.floor(math.log(2) * 1e6) / 1e6) < 2e-6


def test_streaming_ks_matches_batch_per_file(spark, sf_dir, per_source):
    """Reference src0; a batch far outside the reference's support has
    D = 1 and drifts."""
    ref = _pooled(DR.value_counts(_src0(spark, sf_dir)), "v")

    def kernel(batch):
        return DR.ks_kernel(DR.value_counts(batch), ref)

    got = per_source(kernel)
    assert (got["src0"]["ks6"], got.pop("src0")["drifted"]) == (0.0, 0)
    assert got == _key_rows(spark, sf_dir, "q_ks_drift")

    far = kernel(_batch(spark, [(i, "x", 10_000_000) for i in range(500)])).first()
    assert (far["ks6"], far["drifted"]) == (1.0, 1)


def test_streaming_mwu_matches_batch_per_file(spark, sf_dir, per_source):
    """Reference src0; a batch shifted above every reference value has
    the maximal U and is flagged."""
    src0 = _src0(spark, sf_dir)
    ref = _pooled(DR.value_counts(src0), "v")

    def kernel(batch):
        return DR.mwu_kernel(DR.value_counts(batch), ref)

    got = per_source(kernel)
    assert (got["src0"]["z6"], got.pop("src0")["shifted"]) == (0.0, False)
    assert got == _key_rows(spark, sf_dir, "q_mannwhitney_u")

    rows = [(i, "x", 10_000_000 + i % 10) for i in range(200)]
    shifted = kernel(_batch(spark, rows)).first()
    assert shifted["shifted"] and shifted["z6"] > 1.96
    assert shifted["u2"] == 2 * shifted["ns"] * src0.count()
