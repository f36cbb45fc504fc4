"""Semantic tests for dedup + similarity operators (north star), including
the approximate paths that can't be oracle-checked (LSH recall, SimHash)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from etl_data_processor_spark.ops import dedup as D
from etl_data_processor_spark.ops import similarity as SIM
from tests import reference as R


def test_minhash_catches_planted_near_dups(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (2, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
        (3, "completely different content about spark query engines and shuffles"),
        (4, "another unrelated text mentioning parquet columns and predicate pushdown"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = D.minhash_lsh_pairs(df, threshold=0.5).collect()
    assert [(r.id_a, r.id_b) for r in pairs] == [(1, 2)]
    assert pairs[0].jaccard > 0.5


@pytest.mark.slow
def test_minhash_recall_equals_exact_on_fixture(spark, sf_dir):
    """LSH-verified pairs must equal the exact blocked-free all-pairs result
    at the fixture scale (recall 1 on planted >=0.9-Jaccard dups)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lsh = {
        (r.id_a, r.id_b)
        for r in D.minhash_lsh_pairs(docs, threshold=0.8).collect()
    }
    sh = D.with_shingles(docs.select("doc_id", "text"))
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b"))
    exact = {
        (r.id_a, r.id_b)
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("j", D.exact_jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("j") >= 0.8)
        .collect()
    }
    assert lsh == exact


def test_simhash_near_dup_and_determinism(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
        (3, "totally different words here about nothing in common at all"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = D.simhash_pairs(df, max_hamming=16).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 2) in found
    # determinism: same signature on recompute and under repartition
    s1 = df.select("doc_id", D.simhash(F.col("text")).alias("s")).collect()
    s2 = df.repartition(3).select("doc_id", D.simhash(F.col("text")).alias("s")).collect()
    assert {(r.doc_id, r.s) for r in s1} == {(r.doc_id, r.s) for r in s2}


def test_exact_dedup_collapses_normalized_copies(spark):
    rows = [
        (1, "Hello   World"),
        (2, "hello world"),
        (3, "different doc"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r.n_copies for r in D.exact_dedup(df).collect()}
    assert out == {1: 2, 3: 1}


def test_lsh_cosine_topk_recall(spark, sf_dir):
    """LSH top-k must agree with brute force on a decent fraction of hits
    (bucketing is approximate; with 8 planes recall ~ same-bucket mass)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id").isin([0, 1, 2]))
    exact = SIM.cosine_topk_exact(emb, queries, k=10).collect()
    approx = SIM.lsh_cosine_topk(emb, queries, k=10).collect()
    exact_pairs = {(r.query_id, r.vec_id) for r in exact}
    approx_pairs = {(r.query_id, r.vec_id) for r in approx}
    # every LSH hit must be a real (correctly-scored) pair, with sane size
    assert approx_pairs  # buckets are never empty for the query's own bucket
    # scores for overlapping pairs must be identical (same exact scorer)
    exact_scores = {(r.query_id, r.vec_id): r.cosine for r in exact}
    for r in approx:
        if (r.query_id, r.vec_id) in exact_scores:
            assert r.cosine == exact_scores[(r.query_id, r.vec_id)]


def test_ivf_topk_scores_match_exact(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id").isin([0, 1, 2]))
    exact = {(r.query_id, r.vec_id): r.cosine
             for r in SIM.cosine_topk_exact(emb, queries, k=10).collect()}
    approx = SIM.ivf_cosine_topk(emb, queries, k=10).collect()
    assert approx  # probing returns candidates
    for r in approx:
        if (r.query_id, r.vec_id) in exact:
            # overlapping pairs must carry identical exact scores
            assert r.cosine == exact[(r.query_id, r.vec_id)]
    # each query returns k results (lists are never empty at this scale)
    from collections import Counter
    per_q = Counter(r.query_id for r in approx)
    assert all(v == 10 for v in per_q.values())


def test_lsh_multi_table_multi_probe_finds_planted_neighbor(spark, sf_dir):
    """The AND-OR LSH construction must retrieve a genuinely-similar planted
    neighbor (cos ~ 1.0) at rank 1 — the retrieval regime LSH exists for.
    Deterministic: fixed planes, fixed planted vector."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = [((i * 37) % 64) / 64.0 - 0.5 for i in range(64)]
    near = [x * 1.001 + 0.001 for x in base]
    extra = spark.createDataFrame(
        [(9000, base), (9001, near)], ["vec_id", "embedding"]
    ).withColumn("embedding", F.col("embedding").cast("array<float>"))
    emb2 = emb.select("vec_id", "embedding").unionByName(extra)
    qs = emb2.filter(F.col("vec_id") == 9000)
    out = SIM.lsh_cosine_topk(emb2, qs, k=5, n_probes=4, n_tables=4).collect()
    top = min(out, key=lambda r: r.rank)
    assert top.vec_id == 9001 and top.cosine > 0.99


def test_lsh_probe_and_table_monotonicity(spark, sf_dir):
    """More probes / more tables can only ADD candidates (OR-amplification),
    so the retrieved top-k recall vs brute force is monotone in both knobs."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id").isin([0, 1, 2]))
    exact = {
        (r.query_id, r.vec_id)
        for r in SIM.cosine_topk_exact(emb, qs, k=10).collect()
    }

    def rec(**kw):
        got = {
            (r.query_id, r.vec_id)
            for r in SIM.lsh_cosine_topk(emb, qs, k=10, **kw).collect()
        }
        return len(got & exact) / len(exact)

    assert rec(n_probes=4, n_tables=2) >= rec(n_probes=1, n_tables=2)
    assert rec(n_probes=4, n_tables=4) >= rec(n_probes=4, n_tables=1)


def test_ivf_training_deterministic_under_repartition(spark, sf_dir):
    """Trained centroids are bit-identical regardless of input partitioning
    (fixed-point integer means) — the reproducibility contract that keeps
    the rows-only hash stable across runs and layouts."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = SIM.train_ivf_centroids(emb, n_lists=8, iters=2)
    b = SIM.train_ivf_centroids(emb.repartition(13), n_lists=8, iters=2)
    assert a == b


def test_ivf_trained_returns_k_exact_scores(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id").isin([0, 1, 2]))
    cents = SIM.train_ivf_centroids(emb, n_lists=8, iters=2)
    exact = {
        (r.query_id, r.vec_id): r.cosine
        for r in SIM.cosine_topk_exact(emb, qs, k=10).collect()
    }
    out = SIM.ivf_cosine_topk(emb, qs, k=10, n_lists=8, centroids=cents).collect()
    from collections import Counter

    per_q = Counter(r.query_id for r in out)
    assert all(v == 10 for v in per_q.values())
    for r in out:
        if (r.query_id, r.vec_id) in exact:
            assert r.cosine == exact[(r.query_id, r.vec_id)]


def test_lsh_arrow_signatures_match_expression_path(spark, sf_dir):
    """The numpy-matmul signature path must be bit-identical to the
    literal expression form (tests/reference.py): both take signs of the
    same exact fixed-point integer dots."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(200)
    tables = [SIM.hyperplanes(64, 8, 42 + 1000003 * t) for t in range(3)]
    arrow = {
        r.vec_id: list(r["__sigs"])
        for r in SIM.lsh_signatures_batch(
            emb.select("vec_id", "embedding"), tables
        ).collect()
    }
    expr = {
        r.vec_id: [r.s0, r.s1, r.s2]
        for r in emb.select(
            "vec_id",
            *[
                R.lsh_bucket(F.col("embedding"), tables[t]).alias(f"s{t}")
                for t in range(3)
            ],
        ).collect()
    }
    assert arrow == expr


def test_lsh_topk_same_results_across_arrow_cutover(spark, sf_dir):
    """lsh_cosine_topk (Arrow corpus signatures, driver-side probes)
    yields the identical top-k as the all-expression form."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id").isin([0, 1]))
    kw = dict(k=5, n_probes=2, n_tables=2)
    via_expr = R.lsh_cosine_topk_expr(emb, qs, **kw).collect()
    via_arrow = SIM.lsh_cosine_topk(emb, qs, **kw).collect()
    assert sorted(map(tuple, via_expr)) == sorted(map(tuple, via_arrow))


def test_ivf_arrow_training_matches_expression_path(spark, sf_dir):
    """The Arrow map-side-combine Lloyd pass must produce bit-identical
    per-(list, pos) sums and counts to the crossJoin + rank + posexplode
    expression form (same quantized integer dots, argmax ties to smallest
    cid, exact int sums), from the seeds and after one iteration."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    for iters in (0, 1):
        cents = SIM.train_ivf_centroids(emb, n_lists=8, iters=iters)
        arrow = {
            tuple(r) for r in SIM._ivf_partial_sums(emb, cents, "embedding").collect()
        }
        expr = {tuple(r) for r in R.ivf_sums_expr(emb, cents).collect()}
        assert arrow == expr


def test_lsh_driver_side_probes_match_expression_path(spark, sf_dir):
    """Driver-side numpy probe buckets must be bit-identical to the
    expression form's (tests/reference.py), per table and in order."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id").isin([0, 1, 2])).select("vec_id", "embedding")
    tables = [SIM.hyperplanes(64, 8, 42 + 1000003 * t) for t in range(2)]
    rows = qs.select(
        "embedding",
        *[
            R.lsh_probe_buckets(F.col("embedding"), planes, 3).alias(f"p{t}")
            for t, planes in enumerate(tables)
        ],
    ).collect()
    assert len(rows) == 3
    for r in rows:
        want = [(t, b) for t in range(2) for b in r[f"p{t}"]]
        got = SIM._probe_buckets_py([float(x) for x in r.embedding], tables, 3)
        assert got == want


def test_pq_recall_vs_exact(spark, sf_dir):
    """PQ asymmetric top-10 must recover a solid fraction of the exact
    cosine top-10 (8 subspaces x 16 codes on dim-64: coarse but the
    codebooks are trained on the corpus itself)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id").isin([0, 1, 2]))
    books = SIM.train_pq_codebooks(emb, m_sub=16, k_codes=16)
    exact = SIM.cosine_topk_exact(emb, queries, k=10).collect()
    # raw ADC: coarse but sane on near-random vectors
    raw = SIM.pq_cosine_topk(emb, queries, books, k=11).collect()
    exact_pairs = {(r.query_id, r.vec_id) for r in exact}
    raw_pairs = {
        (r.query_id, r.vec_id) for r in raw if r.query_id != r.vec_id
    }
    assert len(exact_pairs & raw_pairs) / len(exact_pairs) >= 0.3
    # production shape: PQ shortlist of 50 + exact re-rank
    rr = SIM.pq_cosine_topk(
        emb, queries, books, k=11, rerank=50
    ).collect()
    rr_pairs = {
        (r.query_id, r.vec_id) for r in rr if r.query_id != r.vec_id
    }
    recall = len(exact_pairs & rr_pairs) / len(exact_pairs)
    assert recall >= 0.8, recall


def test_pq_encode_is_deterministic_and_compact(spark, sf_dir):
    """Codes must be stable under repartitioning (no RNG) and within the
    codebook range (16 codes -> 4 bits of real entropy per subspace)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = SIM.train_pq_codebooks(emb, iters=2)
    c1 = {
        r.vec_id: tuple(r.codes)
        for r in SIM.pq_encode(emb, books).collect()
    }
    c2 = {
        r.vec_id: tuple(r.codes)
        for r in SIM.pq_encode(emb.repartition(7), books).collect()
    }
    assert c1 == c2
    assert all(
        len(v) == 8 and all(0 <= x < 16 for x in v) for v in c1.values()
    )  # default m_sub=8, k_codes=16


def test_pq_codebooks_deterministic_under_repartition(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    b1 = SIM.train_pq_codebooks(emb, iters=2)
    b2 = SIM.train_pq_codebooks(emb.repartition(5), iters=2)
    assert b1 == b2


@pytest.mark.slow
def test_ivfpq_recall_vs_exact(spark, sf_dir):
    """IVF x PQ composition: list pruning (8/16 probed) + ADC shortlist +
    exact re-rank must keep recall@10 >= 0.8 vs brute-force cosine; with
    EVERY list probed it must match the pure-PQ rerank path exactly
    (pruning, not scoring, is the only thing IVF adds)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id").isin([0, 1, 2]))
    exact = SIM.cosine_topk_exact(emb, queries, k=10).collect()
    exact_pairs = {(r.query_id, r.vec_id) for r in exact}

    got = SIM.ivfpq_cosine_topk(
        emb, queries, k=10, n_lists=16, n_probe=8, rerank=50
    ).collect()
    pairs = {(r.query_id, r.vec_id) for r in got}
    recall = len(exact_pairs & pairs) / len(exact_pairs)
    assert recall >= 0.8, recall

    # probing MORE lists can only help (pruning is the only approximation
    # IVF adds on top of the ADC shortlist), and the result is deterministic
    # under repartitioning (no RNG anywhere in train/assign/encode/score)
    books = SIM.train_pq_codebooks(emb, m_sub=16, k_codes=16)
    full = SIM.ivfpq_cosine_topk(
        emb, queries, k=10, n_lists=16, n_probe=16, rerank=50, books=books
    ).collect()
    full_recall = len(exact_pairs & {(r.query_id, r.vec_id) for r in full}) / len(
        exact_pairs
    )
    assert full_recall >= recall
    again = SIM.ivfpq_cosine_topk(
        emb.repartition(7), queries, k=10, n_lists=16, n_probe=16, rerank=50,
        books=books,
    ).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, full))


def test_simhash_pairs_lossless_at_declared_radius(spark, sf_dir):
    """Pigeonhole-complete banding (bands = max_hamming + 1): the banded
    candidate join must find EVERY pair within the declared hamming
    radius — differential vs the naive all-pairs hamming scan on the
    fixture. The pre-fix 4x16-bit banding at max_hamming=8 guaranteed
    only h <= 3 and missed 589/990 true pairs here (41% recall at the
    function's own advertised radius)."""
    from etl_data_processor_spark.io import Catalog

    docs = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    sigs = {
        r["doc_id"]: r["sig"]
        for r in D.simhash_signatures(docs).collect()
    }
    ids = sorted(sigs)

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    exact = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if ham(sigs[a], sigs[b]) <= 8
    }
    got = {
        (min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"]))
        for r in D.simhash_pairs(docs, max_hamming=8).collect()
    }
    assert got == exact and len(exact) > 0
