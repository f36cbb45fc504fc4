"""Round-8 batch: INDEX-SERVED retrieval (VERDICT r7 item 3).

The r6 retrieval keys (q_bm25 / q_hybrid_rrf / q_prf_expand) are honest
scorers but re-derive term frequencies from the corpus on every run;
the persisted, incrementally-maintained posting-shard artifact existed
(ops/invindex.py) with nothing registered that SERVES from it. "At
100 TB an index you rebuild per query isn't an index." This batch
registers the serving path: score from the shard artifact + the
(doc_id, dl) sidecar, query-term filter pushed into the artifact scan,
corpus text never read at query time. The corpus-scan scorer q_bm25
stays registered as the differential twin; both share the same DuckDB
oracle because the scoring arithmetic is bit-identical.

House rules: deterministic, DuckDB-oracled on the same parquet, exact
integers until one final libm pair, constant-size reports.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_data_processor_spark import queries_ext3 as _ext3  # noqa: F401
from etl_data_processor_spark.ops import similarity as SIM
from etl_data_processor_spark.registry import ORACLE, cat as _cat, q

# _ext3 import guarantees q_bm25's oracle is registered before this
# module aliases it, whatever order a consumer imports query modules.

# Same query-term set as q_bm25 — shared oracle requires shared inputs.
_BM25_TERMS = ("spark", "hash", "window")


def _bm25_served_oracle() -> str:
    """q_bm25's oracle verbatim: the index-served scorer must produce
    EXACTLY the corpus-scan scorer's rows (that equality is the whole
    correctness claim of a lossless index)."""
    return ORACLE["q_bm25"]


@q("q_bm25_served", _bm25_served_oracle())
def q_bm25_served(spark, sf_dir):
    """BM25 top-20 SERVED from the persisted inverted-index shards +
    doc-length sidecar (ops/invindex.py:bm25_from_index). Query-time
    plan: a parquet scan of the shard artifact with the token IN-filter
    PUSHED (only the 3 query terms' postings are read), gap-decode of
    those postings in codegen, a broadcast of the term df table and the
    two corpus scalars, one per-doc integer sum, TakeOrdered top-20.
    documents.parquet is NOT scanned (plan-pinned in
    tests/test_invindex.py); the artifacts are built once per corpus
    version and maintained incrementally on append (delta-merge
    bit-identity pinned in the same file). Scoring arithmetic is
    q_bm25's to the bit, so this key shares q_bm25's oracle — the
    driver independently proves served == scanned every round."""
    from etl_data_processor_spark.ops.invindex import bm25_from_index

    return bm25_from_index(
        spark, f"{sf_dir}/documents.parquet", _BM25_TERMS
    )


def _phrase_served_oracle() -> str:
    """q_phrase_search's oracle verbatim — served == scanned is the
    lossless-positional-index claim."""
    from etl_data_processor_spark import queries_r3 as _r3  # noqa: F401

    return ORACLE["q_phrase_search"]


@q("q_phrase_search_served", _phrase_served_oracle())
def q_phrase_search_served(spark, sf_dir):
    """Exact phrase search ("value table") SERVED from the persisted
    POSITIONAL index artifact (ops/invindex.py:phrase_search_from_index)
    — q_bm25_served's sibling for the positional-retrieval primitive.
    Query-time plan: a raw parquet scan of the positional shards with
    the two phrase terms' IN-filter pushed, gap-decode + position
    explode of just those postings, a per-term (doc, pos - i) equi-join
    for adjacency, one per-doc count. documents.parquet is never
    scanned at query time; the artifact maintains incrementally on
    append (the inverted_index_shards contract, pinned in
    tests/test_invindex.py). Shares q_phrase_search's oracle — the
    driver proves served == scanned every round."""
    from etl_data_processor_spark.ops.invindex import phrase_search_from_index

    return phrase_search_from_index(
        spark, f"{sf_dir}/documents.parquet", ("value", "table")
    )


# =====================================================================
# Mann-Whitney U drift (B-drift ext — Mann & Whitney 1947, public):
# the rank-based LOCATION test completing the drift family — PSI
# (binned), JSD (distributional), KS (shape), MWU (location shift).
# =====================================================================

_MWU_REF = "src0"
_SQL_ROUND6 = "CAST(FLOOR(({x}) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0"

_MWU_ORACLE = f"""
WITH vc AS (
    SELECT source, n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c
    FROM documents GROUP BY 1, 2
),
pts AS (SELECT DISTINCT v FROM vc),
rc AS (
    SELECT p.v, COALESCE(x.c, 0) AS cr
    FROM pts p LEFT JOIN (SELECT v, c FROM vc WHERE source = '{_MWU_REF}') x
      USING (v)
),
rcum AS (
    SELECT v, cr,
           COALESCE(SUM(cr) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS crum
    FROM rc
),
grid AS (
    SELECT s.source, r.v, COALESCE(x.c, 0) AS cs, r.cr, r.crum
    FROM (SELECT DISTINCT source FROM vc WHERE source <> '{_MWU_REF}') s
    CROSS JOIN rcum r
    LEFT JOIN vc x ON x.source = s.source AND x.v = r.v
),
m AS (
    SELECT source,
           CAST(SUM(cs) AS BIGINT) AS ns,
           (SELECT CAST(SUM(cr) AS BIGINT) FROM rc) AS nr,
           CAST(SUM(cs * (2 * crum + cr)) AS BIGINT) AS u2,
           SUM(CAST(cs + cr AS HUGEINT) * (cs + cr) * (cs + cr)
               - (cs + cr)) AS tq
    FROM grid GROUP BY 1
),
z AS (
    SELECT source, ns, u2,
           (CAST(u2 AS DOUBLE) - CAST(ns * nr AS DOUBLE)) / (2.0 * SQRT(
               CAST(CAST(ns AS HUGEINT) * nr
                    * (CAST(ns + nr AS HUGEINT) * (ns + nr) * (ns + nr)
                       - (ns + nr) - tq) AS DOUBLE)
               / CAST(CAST(12 AS HUGEINT) * (ns + nr) * (ns + nr - 1)
                      AS DOUBLE)
           )) AS zval
    FROM m
)
SELECT source, ns, u2, {_SQL_ROUND6.format(x="zval")} AS z6,
       COALESCE(ABS(zval) > 1.96, FALSE) AS shifted
FROM z
"""


@q("q_mannwhitney_u", _MWU_ORACLE)
def q_mannwhitney_u(spark, sf_dir):
    """Exact two-sample Mann-Whitney U of each source's document-length
    distribution against the reference source — the rank-based LOCATION
    test completing the drift quartet (PSI binned, JSD distributional,
    KS shape, MWU location; a source whose docs got systematically
    longer shifts U long before KS's sup-norm reacts). Exact integer
    arithmetic throughout: U*2 = sum_v cs(v) * (2*cumR(<v) + cr(v))
    needs no half-rank floats; the tie-corrected variance's integer
    numerator runs in DECIMAL(38)/HUGEINT (the q_zipf_fit overflow
    lesson); one sqrt + one division produce z. Plan: the corpus
    collapses to per-(source, length) value counts in one hash agg; the
    ECDF grid is |sources| x |distinct lengths| (value-range-bounded,
    the q_ks_drift scale argument); the only window cumulates the
    REFERENCE's bounded value table. Output: (source, ns, u2, z6,
    shifted) with the alpha=0.05 two-sided flag; a zero variance gives
    z6 NULL and shifted false. The statistic is ops.drift.mwu_kernel."""
    from etl_data_processor_spark.ops import drift as DR

    # value-distribution-sized; feeds the reference and grid branches
    vc = DR.value_counts(_cat(spark, sf_dir).documents).cache()
    return DR.mwu_kernel(
        vc.filter(F.col("source") != _MWU_REF),
        vc.filter(F.col("source") == _MWU_REF).select("v", "c"),
    )


# =====================================================================
# Tokenizer fertility audit (B31 ext — the tokens-per-word /
# bytes-per-token report every tokenizer eval publishes)
# =====================================================================

_FERT_ORACLE = f"""
WITH t AS (
    SELECT source,
           CAST(len(list_filter(string_split(trim(text), ' '),
                                t -> t <> '')) AS BIGINT) AS words,
           CAST(len(regexp_extract_all(text,
                '([A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s])')) AS BIGINT) AS bpe,
           n_chars
    FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(words) AS BIGINT) AS n_words,
       CAST(SUM(bpe) AS BIGINT) AS n_bpe,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars,
       {_SQL_ROUND6.format(
           x="CAST(SUM(bpe) AS DOUBLE) / CAST(SUM(words) AS DOUBLE)"
       )} AS fertility6,
       {_SQL_ROUND6.format(
           x="CAST(SUM(n_chars) AS DOUBLE) / CAST(SUM(bpe) AS DOUBLE)"
       )} AS chars_per_tok6
FROM t GROUP BY source
"""


@q("q_tokenizer_fertility", _FERT_ORACLE)
def q_tokenizer_fertility(spark, sf_dir):
    """Tokenizer FERTILITY audit per source: BPE-ish tokens per
    whitespace word (fertility — the cross-lingual tokenizer-cost
    metric every tokenizer eval publishes) and chars per BPE-ish token
    (compression). A source whose fertility is an outlier pays
    proportionally more of the training budget per word — this is the
    per-source table a corpus team reads next to the mixture weights.
    Exact integer sums (words via ops.text.tokenize, chunks via the
    bpe_ish regex — identical RE2 class on both engines), two final
    divisions. One corpus pass, partial+final hash agg, |sources|
    report."""
    from etl_data_processor_spark.ops import text as T

    d = _cat(spark, sf_dir).documents
    t = d.select(
        "source",
        T.token_count(F.col("text")).cast("long").alias("words"),
        T.bpe_ish_token_count(F.col("text")).cast("long").alias("bpe"),
        "n_chars",
    )
    m = t.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("words").alias("n_words"),
        F.sum("bpe").alias("n_bpe"),
        F.sum("n_chars").alias("n_chars"),
    )
    dd = lambda c: c.cast("double")  # noqa: E731
    return m.select(
        "source", "n_docs", "n_words", "n_bpe", "n_chars",
        SIM.stable_round6(dd(F.col("n_bpe")) / dd(F.col("n_words"))).alias(
            "fertility6"
        ),
        SIM.stable_round6(dd(F.col("n_chars")) / dd(F.col("n_bpe"))).alias(
            "chars_per_tok6"
        ),
    )


# =====================================================================
# Per-group weighted reservoir (B41 ext — A-Res per source: the
# balanced-eval-set sampler; group-limit-bounded, never a corpus sort)
# =====================================================================

_ARESG_K = 5


def _aresg_oracle() -> str:
    from etl_data_processor_spark.ops.sampling import hash32_sql

    h = hash32_sql("doc_id")
    return f"""
WITH s AS (
    SELECT doc_id, source, n_chars,
           LN((CAST(({h}) AS DOUBLE) + 1.0) / 4294967296.0)
             / CAST(GREATEST(n_chars, 1) AS DOUBLE) AS sc
    FROM documents
)
SELECT doc_id, source, n_chars,
       {_SQL_ROUND6.format(x="sc")} AS score6,
       CAST(ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY CAST(FLOOR(sc * 1000000000000.0 + 0.5) AS BIGINT) DESC,
                    doc_id ASC
       ) AS INTEGER) AS rank
FROM s
QUALIFY rank <= {_ARESG_K}
"""


@q("q_sample_ares_grouped", _aresg_oracle())
def q_sample_ares_grouped(spark, sf_dir):
    """Per-SOURCE weighted reservoir without replacement (A-Res,
    Efraimidis & Spirakis 2006): exactly k=5 docs per source, chosen by
    the deterministic hash-derived key u^(1/w) with w = n_chars — the
    balanced eval-set sampler (the global q_sample_ares would let one
    verbose source flood the sample; per-group reservoirs keep every
    source represented, weight-proportionally within). Plan: shuffle on
    source + per-group rank with the rank<=k filter planned as
    partial+final WindowGroupLimit, so each map task forwards at most k
    rows per source — never a per-source sort of the corpus (whitelisted
    in the registry low-NDV window audit under that WGL justification)."""
    from pyspark.sql import Window

    from etl_data_processor_spark.ops.sampling import M32, hash32

    d = _cat(spark, sf_dir).documents
    u = (hash32(F.col("doc_id")).cast("double") + F.lit(1.0)) / F.lit(
        float(M32)
    )
    sc = F.log(u) / F.greatest(F.col("n_chars"), F.lit(1)).cast("double")
    scored = d.select(
        "doc_id", "source", "n_chars",
        SIM.stable_round6(sc).alias("score6"),
        F.floor(sc * F.lit(1e12) + F.lit(0.5)).cast("long").alias("sc_q"),
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("sc_q"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _ARESG_K)
        .drop("sc_q")
    )


# =====================================================================
# Hybrid retrieval SERVED from the index artifacts (B80 ext — the
# q_hybrid_rrf composition with its lexical leg reading the persisted
# posting shards instead of re-deriving tf from the corpus)
# =====================================================================


def _hybrid_served_oracle() -> str:
    """q_hybrid_rrf's oracle verbatim — the served lexical leg must fuse
    to exactly the corpus-scan composition's rows."""
    from etl_data_processor_spark import queries_r6b as _r6b  # noqa: F401

    return ORACLE["q_hybrid_rrf"]


@q("q_hybrid_rrf_served", _hybrid_served_oracle())
def q_hybrid_rrf_served(spark, sf_dir):
    """Hybrid retrieval (BM25 + exact cosine, RRF-fused) with the
    LEXICAL LEG SERVED from the persisted index artifacts
    (ops/invindex.py:bm25_batch_scores_from_index): the query docs'
    term sets (query-bounded driver state, exactly what a search
    frontend holds) push as one IN-filter into the posting-shard scan;
    tf decodes once and fans out to the queries via a broadcast
    (query_id, token) join; dl comes from the non-empty doclen sidecar.
    documents.parquet is read ONLY for the 3 query docs' own text
    (doc_id pushdown — the query input, not a corpus scan). The vector
    leg and the fusion are q_hybrid_rrf's verbatim; both keys share one
    oracle, so the driver proves served == scanned for the whole
    composition every round."""
    from pyspark.sql import Window

    from etl_data_processor_spark.ops import similarity as _S
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

    # query-side read: ONLY the query docs (doc_id IN-filter pushes)
    qrows = (
        d.filter(F.col("doc_id").isin(qids))
        .select("doc_id", tokenize(F.col("text")).alias("toks"))
        .collect()
    )
    query_terms = {r["doc_id"]: list(set(r["toks"])) for r in qrows}

    lex_scored = bm25_batch_scores_from_index(
        spark, f"{sf_dir}/documents.parquet", query_terms
    )
    wl = Window.partitionBy("query_id").orderBy(F.desc("sq"), F.asc("doc_id"))
    lex = (
        lex_scored.withColumn("lex_rank", F.row_number().over(wl))
        .filter(F.col("lex_rank") <= _LEG_K)
        .select("query_id", "doc_id", "lex_rank")
    )

    queries = emb.filter(F.col("vec_id").isin(qids))
    vec = _S.cosine_topk_exact(emb, queries, k=_LEG_K).select(
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
