"""Round-10 pins (ADVICE r9 fixes).

- cached_model keys the persisted model by the CURRENT source
  signature: a fixture regenerated in place (same path, same params)
  retrains instead of serving stale centroids forever, and the
  superseded slug is left for vacuum_artifacts to reclaim.
- degenerate inputs (a zero MWU variance, a one-checkpoint Heaps fit)
  give NULL statistics through the registered keys' arithmetic instead
  of raising DIVIDE_BY_ZERO.
"""

from __future__ import annotations

import io
import os
import shutil
from contextlib import redirect_stdout

from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from etl_data_processor_spark.ops import dedup as D
from etl_data_processor_spark.ops import similarity as SIM


DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def _pooled(counts, key):
    """A reference's counts summed over its sources: (key, c)."""
    return counts.groupBy(key).agg(F.sum("c").alias("c"))


def _pairs(df):
    return {(r["query_id"], r["doc_id"]) for r in df.collect()}


def _plan_of(spark, df) -> str:
    spark.catalog.clearCache()
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


# --- PQ-served hybrid (VERDICT r9 item 1) ----------------------------


def test_hybrid_annpq_served_recall_vs_exact_twin(spark, sf_dir):
    """Fused top-10 recall >= 0.8 against q_hybrid_rrf_served (the
    exact-vector-leg twin) — the rows-only gate every ANN key carries.
    Measured: 0.97 at sf0.001, 1.0 at sf0.01."""
    served = _pairs(
        entry_mod.queries()["q_hybrid_annpq_served"](spark, sf_dir)
    )
    exact = _pairs(entry_mod.queries()["q_hybrid_rrf_served"](spark, sf_dir))
    assert len(exact) > 0
    recall = len(served & exact) / len(exact)
    assert recall >= 0.8, recall


def test_hybrid_annpq_served_final_plan_readset(spark, sf_dir):
    """The FINAL registered plan's read set: posting shards + doclen
    sidecar (artifacts), the shortlist's float vectors by id PUSHDOWN
    (In(vec_id) on embeddings.parquet — never a full corpus scan), and
    zero documents.parquet scans."""
    df = entry_mod.queries()["q_hybrid_annpq_served"](spark, sf_dir)
    plan = _plan_of(spark, df)
    scans = [ln for ln in plan.splitlines()
             if "Scan parquet" in ln or "Location" in ln]
    assert not any("documents.parquet" in ln for ln in scans), scans
    assert any("_artifacts" in ln for ln in scans), scans
    assert "In(token" in plan, "token IN-filter must push into shard scan"
    # the ONLY embeddings touch is the shortlist fetch, id-pushed
    assert "In(vec_id" in plan, (
        "shortlist id IN-filter must push into the embeddings scan"
    )


def test_hybrid_annpq_shortlist_plan_prunes_code_artifact(spark, sf_dir):
    """The ADC shortlist stage (executed eagerly at query time) scans
    the persisted CODE artifact with the probed-list IN-filter PUSHED
    into the parquet scan, and touches neither embeddings.parquet nor
    documents.parquet — the corpus-sized float lists are OUT of the
    vector leg's big scan (the r9 IVF-Flat residue, closed)."""
    from etl_data_processor_spark.queries_r10 import _ivfpq_shortlist_df

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qrows = emb.filter(F.col("vec_id").isin([0, 1, 2])).select(
        "vec_id", "embedding"
    ).collect()
    shortlist, _qv = _ivfpq_shortlist_df(spark, sf_dir, qrows)
    plan = _plan_of(spark, shortlist)
    scans = [ln for ln in plan.splitlines()
             if "Scan parquet" in ln or "Location" in ln]
    assert not any("embeddings.parquet" in ln for ln in scans), scans
    assert not any("documents.parquet" in ln for ln in scans), scans
    assert any("_artifacts" in ln for ln in scans), scans
    assert "In(__list" in plan, (
        "probed-list IN-filter must push into the code-artifact scan"
    )


def test_ivfpq_serving_cold_session_runs_no_training(spark, sf_dir):
    """Restart scenario for the PQ serving path: with both artifacts on
    disk, a cold session (cleared model memo + DataFrame memo + session
    cache) builds the shortlist plan without re-running k-means OR the
    PQ Lloyd pass — centroids, codebooks and the code table all come
    from warehouse/_artifacts."""
    from etl_data_processor_spark.queries_ext3 import ivfpq_index_artifact
    from etl_data_processor_spark.queries_r10 import _ivfpq_shortlist_df

    ivfpq_index_artifact(spark, sf_dir)  # train at most once
    sig = D.source_signature(f"{sf_dir}/embeddings.parquet")
    for mkey in (("ivfpq-cents", sf_dir, 16), ("pq", sf_dir, 16, 16)):
        slug = D.artifact_location(spark, (*mkey, sig))
        assert os.path.exists(os.path.join(slug, "_SUCCESS"))
    D._DF_CACHE.clear()
    spark.catalog.clearCache()

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qrows = emb.filter(F.col("vec_id").isin([0, 1, 2])).select(
        "vec_id", "embedding"
    ).collect()
    import etl_data_processor_spark.ops.similarity as sim_mod

    real_kmeans = sim_mod.train_ivf_centroids
    real_pq = sim_mod.train_pq_codebooks
    sim_mod.train_ivf_centroids = _boom
    sim_mod.train_pq_codebooks = _boom
    try:
        shortlist, _qv = _ivfpq_shortlist_df(spark, sf_dir, qrows)
        assert shortlist.limit(1).count() == 1
    finally:
        sim_mod.train_ivf_centroids = real_kmeans
        sim_mod.train_pq_codebooks = real_pq


def _boom(*a, **k):
    raise AssertionError("model training ran in a cold serving session")


def test_cached_model_retrains_on_source_regeneration(spark, tmp_path):
    """In-place fixture regeneration (content changes, path does not)
    must invalidate the persisted model: the key embeds the source
    signature, so the regenerated fixture trains into a NEW slug and the
    superseded one becomes garbage that vacuum_artifacts reclaims."""
    src = tmp_path / "corpus.bin"
    src.write_bytes(b"v1" * 100)
    key, sources = ("r10-test-model", str(tmp_path)), (str(src),)
    calls = []

    def trainer():
        calls.append(1)
        return [(0, [float(len(calls)), 2.5])]

    def slug():
        return D.artifact_location(spark, (*key, D.source_signature(*sources)))

    def forget():  # simulate process death: drop the session-memo entry
        D._DF_CACHE.pop(
            (spark.sparkContext.applicationId, *key,
             D.source_signature(*sources)),
            None,
        )

    slugs = [slug()]
    try:
        first = SIM.cached_model(spark, key, trainer, sources=sources)
        assert calls == [1]
        # cold load, source untouched: served from disk, no retrain
        forget()
        assert SIM.cached_model(spark, key, trainer, sources=sources) == first
        assert calls == [1]
        # regenerate the fixture IN PLACE (different size -> different
        # signature even if mtime granularity collapses)
        src.write_bytes(b"v2" * 101)
        slugs.append(slug())
        second = SIM.cached_model(spark, key, trainer, sources=sources)
        assert calls == [1, 1], "regenerated source must retrain"
        assert second == [(0, [2.0, 2.5])]
        # the old slug is now unreachable and reclaimable; the new is not
        assert slugs[0] != slugs[1]
        listed = D.vacuum_artifacts(spark=spark, min_age_seconds=0,
                                    dry_run=True)
        assert os.path.basename(slugs[0]) in listed
        assert os.path.basename(slugs[1]) not in listed
        # the next cold load hits the new slug
        forget()
        assert SIM.cached_model(spark, key, trainer, sources=sources) == second
        assert calls == [1, 1]
    finally:
        forget()
        for p in slugs:
            shutil.rmtree(p, ignore_errors=True)
    assert not any(os.path.exists(p) for p in slugs)


def test_mwu_degenerate_counts_do_not_raise(spark):
    """Degenerate inputs run the keys' own arithmetic and give NULL
    statistics instead of raising DIVIDE_BY_ZERO under ANSI: a constant
    batch against a constant reference is one tie group (the MWU
    variance is 0), and a one-checkpoint Heaps series is one point (the
    OLS slope's denominator is 0)."""
    from etl_data_processor_spark.ops.drift import mwu_kernel, value_counts
    from etl_data_processor_spark.queries_r7b import heaps_ols

    ref = spark.createDataFrame(
        [(i, "a b", "en", "src0", 5) for i in range(7)], DOC_SCHEMA
    )
    const = spark.createDataFrame(
        [(i, "a b c", "en", "src1", 5) for i in range(3)], DOC_SCHEMA
    )

    row = mwu_kernel(value_counts(const), _pooled(value_counts(ref), "v")).first()
    # all ties: U*2 = cs * cr
    assert (row["ns"], row["u2"], row["z6"], row["shifted"]) == (3, 21, None, False)

    one = spark.createDataFrame([(9, 3)], "n long, v long")
    row = heaps_ols(one).first()
    assert (row["n_points"], row["beta6"], row["logk6"]) == (1, None, None)

