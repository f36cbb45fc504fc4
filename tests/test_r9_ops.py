"""Round-9 pins: the served ANN story (VERDICT r8 items 1-2).

- q_hybrid_ann_served: fused recall >= 0.8 vs the exact twin and a
  fresh-plan pin proving zero corpus scans at query time (both legs
  read persisted artifacts only).
- cached_model's disk layer: a cold process (simulated by clearing the
  in-memory memo) loads trained model state from its slug in the
  artifact store without invoking the trainer, and the loaded object is
  equal — so model_fingerprint, which keys the derived index artifacts,
  is stable across sessions and the artifacts are NOT invalidated by a
  restart.
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


def _model_key(key, sources):
    """The artifact-store key cached_model files ``key`` under."""
    return (*key, D.source_signature(*sources))


def _forget(spark, key, sources):
    """Simulate process death: drop the model's session-memo entry."""
    D._DF_CACHE.pop(
        (spark.sparkContext.applicationId, *_model_key(key, sources)), None
    )


def _pairs(df):
    return {(r["query_id"], r["doc_id"]) for r in df.collect()}


def test_hybrid_ann_served_recall_vs_exact_twin(spark, sf_dir):
    """Fused top-10 recall >= 0.8 against q_hybrid_rrf_served (the
    exact-vector-leg twin) — the rows-only gate every ANN key carries."""
    served = _pairs(entry_mod.queries()["q_hybrid_ann_served"](spark, sf_dir))
    exact = _pairs(entry_mod.queries()["q_hybrid_rrf_served"](spark, sf_dir))
    assert len(exact) > 0
    recall = len(served & exact) / len(exact)
    assert recall >= 0.8, recall


def test_hybrid_ann_served_plan_never_scans_corpus(spark, sf_dir):
    """VERDICT r8 item 1's 'done' bar: the fresh-session physical plan
    reads ONLY artifact parquet (posting shards, doclen sidecar,
    IVF-Flat assignment) — zero documents.parquet and zero
    embeddings.parquet scans at query time; the probed-list and token
    IN-filters push into the artifact scans."""
    served = entry_mod.queries()["q_hybrid_ann_served"](spark, sf_dir)
    spark.catalog.clearCache()
    buf = io.StringIO()
    with redirect_stdout(buf):
        served.explain("formatted")
    plan = buf.getvalue()
    scans = [ln for ln in plan.splitlines()
             if "Scan parquet" in ln or "Location" in ln]
    assert not any("documents.parquet" in ln for ln in scans), scans
    assert not any("embeddings.parquet" in ln for ln in scans), scans
    assert any("_artifacts" in ln for ln in scans), scans
    assert "In(token" in plan, "token IN-filter must push into the shard scan"
    assert "In(__list" in plan, (
        "probed-list IN-filter must push into the IVF index scan"
    )


def test_cached_model_cold_load_skips_training(spark, sf_dir, tmp_path):
    """A cold process (cleared memo) serves the model from the on-disk
    store without invoking the trainer, and the loaded state is equal
    to the trained state (so model_fingerprint-keyed artifacts stay
    valid across restarts). Removing the slug leaves nothing behind."""
    src = tmp_path / "corpus.bin"
    src.write_bytes(b"corpus")
    key, sources = ("r9-test-model", str(tmp_path)), (str(src),)
    calls = []

    def trainer():
        calls.append(1)
        return [(0, [1.0, 2.5, -0.125]), (1, [0.3333333333333333, 7.0, 0.1])]

    path = D.artifact_location(spark, _model_key(key, sources))
    try:
        first = SIM.cached_model(spark, key, trainer, sources=sources)
        assert calls == [1]
        assert os.path.exists(os.path.join(path, "_SUCCESS"))
        # simulate process death: the memo is gone, the file is not
        _forget(spark, key, sources)
        second = SIM.cached_model(spark, key, trainer, sources=sources)
        assert calls == [1], "cold load must not retrain"
        assert second == first
        assert SIM.model_fingerprint(second) == SIM.model_fingerprint(first)
    finally:
        _forget(spark, key, sources)
        shutil.rmtree(path, ignore_errors=True)
    assert not os.path.exists(path)


def test_ivf_serving_cold_session_runs_no_kmeans(spark, sf_dir):
    """The production restart scenario end-to-end: after the index
    exists, a cold session (cleared model memo + DataFrame memo +
    session cache) builds q_cosine_ivf's plan without re-running the
    k-means corpus pass — the centroids and the assignment table both
    come from warehouse/_artifacts."""
    from etl_data_processor_spark.queries_north import ivf_index_artifact

    # ensure both artifacts exist (trains at most once)
    ivf_index_artifact(spark, sf_dir)
    model_key = _model_key(
        ("ivf", sf_dir, 16, 2, 0.5), (f"{sf_dir}/embeddings.parquet",)
    )
    slug = D.artifact_location(spark, model_key)
    assert os.path.exists(os.path.join(slug, "_SUCCESS"))

    D._DF_CACHE.clear()
    spark.catalog.clearCache()

    # a k-means pass would run corpus jobs through train_ivf_centroids;
    # prove it is never entered by poisoning it for this cold rebuild
    import etl_data_processor_spark.ops.similarity as sim_mod

    real = sim_mod.train_ivf_centroids
    sim_mod.train_ivf_centroids = _boom
    try:
        cents, assigned, _key = ivf_index_artifact(spark, sf_dir)
    finally:
        sim_mod.train_ivf_centroids = real
    assert len(cents) == 16
    assert assigned.limit(1).count() == 1


def _boom(*a, **k):
    raise AssertionError("k-means ran in a cold serving session")


def test_prf_expand_served_plan_scans_artifacts_only(spark, sf_dir):
    """VERDICT r8 item 6's 'done' bar: q_prf_expand's registered plan
    (the round-2 scorer — rounds 0/1 resolve to driver-held term sets)
    scans ONLY the shard + sidecar artifacts with the expanded term
    IN-filter pushed; documents.parquet never appears."""
    df = entry_mod.queries()["q_prf_expand"](spark, sf_dir)
    spark.catalog.clearCache()
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    scans = [ln for ln in plan.splitlines()
             if "Scan parquet" in ln or "Location" in ln]
    assert not any("documents.parquet" in ln for ln in scans), scans
    assert any("_artifacts" in ln for ln in scans), scans
    assert "In(token" in plan, (
        "round-2 term IN-filter must push into the shard scan"
    )


def test_hybrid_ann_served_schema_and_rows(spark, sf_dir):
    df = entry_mod.queries()["q_hybrid_ann_served"](spark, sf_dir)
    assert [f.name for f in df.schema.fields] == [
        "query_id", "doc_id", "rrf6", "fused_rank", "lex_rank", "vec_rank",
    ]
    rows = df.collect()
    assert len(rows) == 30  # 3 queries x fused top-10
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r["fused_rank"])
    for qid, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, 11)), (qid, ranks)


def test_eval_mrr_shape_and_bounds(spark, sf_dir):
    rows = entry_mod.queries()["q_eval_mrr"](spark, sf_dir).collect()
    assert 1 <= len(rows) <= 3
    for r in rows:
        assert r["n_rel"] >= 1
        assert r["first_rank"] >= 0
        assert 0.0 <= r["rr6"] <= 1.0
        if r["first_rank"] == 1:
            assert r["rr6"] == 1.0


def test_cached_model_writes_manifest(spark, tmp_path):
    """The model slug carries the artifact store's _KEY.json: the full key
    (source signature included) and the sources the vacuum re-checks."""
    import json

    src = tmp_path / "corpus.bin"
    src.write_bytes(b"corpus")
    key, sources = ("r9-manifest-model", str(tmp_path)), (str(src),)
    path = D.artifact_location(spark, _model_key(key, sources))
    try:
        SIM.cached_model(spark, key, lambda: [(0, [1.5])], sources=sources)
        assert sorted(os.listdir(path)) == ["_KEY.json", "_SUCCESS", "model.repr"]
        with open(os.path.join(path, "_KEY.json"), encoding="utf-8") as f:
            meta = json.load(f)
        assert meta["key"] == repr((D._ARTIFACT_VERSION, *_model_key(key, sources)))
        assert meta["sources"] == list(sources)
        assert meta["signature"] == repr(D.source_signature(*sources))
    finally:
        _forget(spark, key, sources)
        shutil.rmtree(path, ignore_errors=True)
    assert not os.path.exists(path)


def test_registry_rejects_duplicate_names():
    from etl_data_processor_spark.registry import QUERIES, q

    name = next(iter(QUERIES))
    import pytest

    with pytest.raises(ValueError, match="duplicate query registration"):
        q(name)(lambda spark, sf_dir: None)
