"""Round-6 extension batch #2 (B66): search-index construction, hybrid
retrieval fusion, unigram-LM tokenization, and probabilistic-linkage
parameter estimation.

The through-line is the retrieval/curation stack a 100 TB training-data
platform runs next to its dedup pipeline: build the lexical index
(q_inverted_index), serve hybrid lexical+vector retrieval over it
(q_hybrid_rrf), tokenize with the second canonical subword algorithm
(q_unigram_viterbi — the SentencePiece counterpart of the BPE pair in
queries_r6.py), and learn record-linkage match weights from the data
instead of hardcoding them (q_linkage_fs_em — the Fellegi–Sunter EM that
q_record_linkage's fixed integer weights stand in for).

House rules as ever: deterministic (no RNG / wall clock), DuckDB-oracled
on the same parquet, fixed-point quantization before any cross-engine
float comparison, and shaped for 100 TB — corpus-sized work is one hash
shuffle, model state is vocabulary-bounded, and the Spark side keeps every
hot path in codegen (no Python boundary in any of the four).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from etl_data_processor_spark.ops import drift as DR
from etl_data_processor_spark.ops import similarity as SIM
from etl_data_processor_spark.registry import cat as _cat
from etl_data_processor_spark.registry import q

# =====================================================================
# Inverted-index construction (B31/B58 ext — the q_bm25/q_phrase_search
# family's missing build step)
# =====================================================================

# Doc-partitioned index shards: 128 docs per block, Lucene-style
# doc-gap + term-frequency posting lists per (token, block).
_IDX_BLOCK = 128


@q(
    "q_inverted_index",
    f"""
    WITH tf AS (
        SELECT token, doc_id // {_IDX_BLOCK} AS block, doc_id,
               CAST(COUNT(*) AS BIGINT) AS tf
        FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents
        )
        WHERE token <> ''
        GROUP BY token, doc_id
    ),
    pl AS (
        SELECT token, CAST(block AS BIGINT) AS block,
               CAST(COUNT(*) AS BIGINT) AS df,
               CAST(SUM(tf) AS BIGINT) AS cf,
               list(doc_id ORDER BY doc_id) AS ids,
               list(tf ORDER BY doc_id) AS tfl
        FROM tf GROUP BY token, block
    )
    SELECT token, block, df, cf,
           list_transform(
               range(1, len(ids) + 1),
               i -> ids[i] - CASE WHEN i = 1 THEN block * {_IDX_BLOCK}
                                  ELSE ids[i - 1] END
           ) AS doc_gaps,
           list_transform(tfl, t -> CAST(t AS INTEGER)) AS tfs
    FROM pl
    """,
)
def q_inverted_index(spark, sf_dir):
    """B66: doc-partitioned inverted-index build — the construction step
    behind q_bm25 / q_phrase_search (reference parity: the index the
    reference's detail-page lookups would need at scale; main.py fetches
    per-row instead). Postings are Lucene-shaped: per (token, block) a
    doc-GAP list (first gap relative to the block base, so every entry
    is small and varint-friendly) plus the aligned term-frequency list.
    Sharding by doc block is the load-bearing scale decision: a global
    per-token posting list is unbounded at 100 TB (stop words collect
    the whole corpus into one array), while block-local lists are capped
    at the block size, the groupBy key (token, block) is high-cardinality
    (no stop-word hot key), and the query side — q_bm25's df/tf — is a
    sum over blocks. One tokenize pass, two hash shuffles ((token,doc)
    tf then (token,block) assembly), array work in codegen. The
    derivation lives in ops.invindex.postings, shared with the
    PERSISTED incrementally-maintained artifact
    (ops.invindex.inverted_index_shards — an append-only corpus change
    rebuilds only the doc blocks the new doc_ids touch, VERDICT r6
    item 4)."""
    from etl_data_processor_spark.ops.invindex import postings

    d = _cat(spark, sf_dir).documents
    return postings(d.select("doc_id", "text"), _IDX_BLOCK)


# =====================================================================
# Hybrid retrieval: BM25 + cosine with reciprocal-rank fusion (B31/B32
# ext — the serving-side composition of q_bm25 and q_cosine_topk)
# =====================================================================

_RRF_K = 60          # the canonical RRF damping constant (Cormack 2009)
_LEG_K = 20          # per-leg candidate depth
_FUSED_K = 10        # fused result depth
_RRF_QUERIES = (0, 1, 2)

_HYBRID_CTES = f"""qdoc AS (
    SELECT doc_id AS query_id, text FROM documents
    WHERE doc_id IN {_RRF_QUERIES!r}
),
qtok AS (
    SELECT DISTINCT query_id, token FROM (
        SELECT query_id, unnest(string_split(text, ' ')) AS token FROM qdoc
    ) WHERE token <> ''
),
tf AS (
    SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    ) WHERE token <> '' GROUP BY doc_id, token
),
dl AS (
    SELECT doc_id,
           CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
                AS BIGINT) AS dl
    FROM documents
),
stats AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dl
),
df AS (
    SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf
    WHERE token IN (SELECT DISTINCT token FROM qtok)
    GROUP BY token
),
lex_scored AS (
    SELECT qt.query_id, t.doc_id,
           SUM(CAST(FLOOR(
             LN(1.0 + (CAST(s.n_docs AS DOUBLE) - CAST(f.df AS DOUBLE)
                       + 0.5) / (CAST(f.df AS DOUBLE) + 0.5))
             * (CAST(t.tf AS DOUBLE) * 2.2)
             / (CAST(t.tf AS DOUBLE)
                + 1.2 * (0.25 + 0.75 * CAST(d.dl AS DOUBLE)
                         * CAST(s.n_docs AS DOUBLE)
                         / CAST(s.sum_dl AS DOUBLE)))
             * 1000000000000.0 + 0.5) AS BIGINT)) AS sq
    FROM qtok qt
    JOIN tf t USING (token)
    JOIN df f USING (token)
    JOIN dl d ON d.doc_id = t.doc_id
    CROSS JOIN stats s
    WHERE t.doc_id <> qt.query_id
    GROUP BY qt.query_id, t.doc_id
),
lex AS (
    SELECT query_id, doc_id,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY sq DESC, doc_id ASC
           ) AS INTEGER) AS lex_rank
    FROM lex_scored QUALIFY lex_rank <= {_LEG_K}
),
qv AS (
    SELECT vec_id AS query_id,
           list_transform(embedding,
               x -> CAST(FLOOR(CAST(x AS DOUBLE)*10000000.0+0.5) AS BIGINT)
           ) AS qe
    FROM embeddings WHERE vec_id IN {_RRF_QUERIES!r}
),
cv AS (
    SELECT vec_id,
           list_transform(embedding,
               x -> CAST(FLOOR(CAST(x AS DOUBLE)*10000000.0+0.5) AS BIGINT)
           ) AS ce
    FROM embeddings
),
vec_scored AS (
    SELECT qv.query_id, cv.vec_id,
           CAST(SUM(cv.ce[i] * qv.qe[i]) AS DOUBLE) AS dot,
           CAST(SUM(cv.ce[i] * cv.ce[i]) AS DOUBLE) AS cc,
           CAST(SUM(qv.qe[i] * qv.qe[i]) AS DOUBLE) AS qq
    FROM cv, qv, range(1, 65) t(i)
    WHERE cv.vec_id <> qv.query_id
    GROUP BY qv.query_id, cv.vec_id
),
vec AS (
    SELECT query_id, vec_id AS doc_id,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY CAST(FLOOR((dot / (SQRT(cc) * SQRT(qq)))
                                   * 1000000.0 + 0.5) AS DOUBLE) DESC,
                        vec_id ASC
           ) AS INTEGER) AS vec_rank
    FROM vec_scored QUALIFY vec_rank <= {_LEG_K}
),
fused AS (
    SELECT COALESCE(l.query_id, v.query_id) AS query_id,
           COALESCE(l.doc_id, v.doc_id) AS doc_id,
           l.lex_rank, v.vec_rank,
           COALESCE(1.0 / ({_RRF_K} + l.lex_rank), 0.0)
             + COALESCE(1.0 / ({_RRF_K} + v.vec_rank), 0.0) AS rrf
    FROM lex l FULL OUTER JOIN vec v
      ON l.query_id = v.query_id AND l.doc_id = v.doc_id
)"""

# fused -> ranked rows; shared by q_hybrid_rrf and the q_rag_context capstone
_HYBRID_RANKED = f"""
    SELECT query_id, doc_id,
           CAST(FLOOR(rrf * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0 AS rrf6,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY CAST(FLOOR(rrf * 1000000000000.0 + 0.5) AS BIGINT)
                            DESC,
                        doc_id ASC
           ) AS INTEGER) AS fused_rank,
           lex_rank, vec_rank
    FROM fused
"""

_HYBRID_ORACLE = f"""
WITH {_HYBRID_CTES},
ranked AS ({_HYBRID_RANKED})
SELECT * FROM ranked WHERE fused_rank <= {_FUSED_K}
"""


@q("q_hybrid_rrf", _HYBRID_ORACLE)
def q_hybrid_rrf(spark, sf_dir):
    """B66: hybrid retrieval — BM25 lexical leg + exact-cosine vector leg,
    fused by reciprocal-rank fusion (RRF, Cormack et al. 2009: score =
    sum over legs of 1/(60+rank)) — the standard two-tower serving shape
    every RAG/search stack runs, composed from this repo's own q_bm25
    scorer and q_cosine_topk machinery with doc_id/vec_id as the shared
    key. Determinism: both legs rank on fixed-point-quantized scores
    (1e-12 BM25 term sums, 1e-6 cosine) with doc_id tiebreaks, and the
    RRF sum is two deterministic IEEE divisions on small-int operands —
    engine-identical, then itself 1e-12-quantized before the fused rank.
    Scale shape: query set broadcast into both legs; the only corpus
    shuffles are the tf aggregate (lexical) and the per-query top-k
    window (vector, query_id-partitioned); df is query-vocabulary-
    bounded; the fusion join sees only queries x 20 rows per leg. At
    100 TB the lexical leg reads q_inverted_index's shards instead of
    re-tokenizing — same plan from the tf table on."""
    d = _cat(spark, sf_dir).documents
    emb = _cat(spark, sf_dir).embeddings
    qids = list(_RRF_QUERIES)

    # --- lexical leg: q_bm25's scorer, per-query term sets ---
    # One corpus explode+shuffle end to end: the tf subtree is the only
    # corpus-shuffle pass; doc length is a codegen scan expression (no
    # second explode), and the CANDIDATE frame — query-bounded, one row
    # per (matched token, containing doc) — is cached and reused for
    # both the df statistic and the scoring join. (The first form of
    # this leg rebuilt tf and an exploded dl in four subtrees; the r6
    # scale stress measured it at 21x CPU for 10x data — linear outputs
    # but 4x the corpus passes magnified by cache-locality constants.)
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    ).filter(F.col("token") != "")
    qtok = (
        toks.filter(F.col("doc_id").isin(qids))
        .select(F.col("doc_id").alias("query_id"), "token")
        .distinct()
    )
    # Query-vocabulary filter BEFORE the tf aggregate (r10, guide §2.3
    # "aggregate before you shuffle" / §2.4): only tokens in the query
    # vocabulary can ever score, but Catalyst cannot push the semi-join
    # below the groupBy, so the earlier form hash-aggregated the FULL
    # corpus token multiset and threw ~all of it away at the join. The
    # broadcast filter on the raw token stream drops non-query tokens
    # at the explode, so the tf aggregate's input (and its exchange) is
    # query-bounded instead of corpus-vocabulary-sized. tf counts for
    # the surviving tokens are bit-identical (per-(doc, token)
    # occurrence counts are independent of the other tokens).
    tf = (
        toks.join(F.broadcast(qtok.select("token").distinct()), "token")
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dl = d.select(
        "doc_id",
        F.size(
            F.filter(F.split("text", " "), lambda t: t != F.lit(""))
        ).cast("long").alias("dl"),
    )
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    # tf rows are distinct per (doc, token), so the per-token row count
    # of the candidate frame IS the document frequency. AQE sizes the
    # cache from its data (the session lets it coalesce cached plans):
    # a few partitions for this query-bounded frame, while the tf
    # aggregate upstream keeps its full width.
    cand = tf.cache()
    df = cand.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs").cast("double") - F.col("df").cast("double") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
    )
    norm = F.lit(1.2) * (
        F.lit(0.25)
        + F.lit(0.75)
        * F.col("dl").cast("double")
        * F.col("n_docs").cast("double")
        / F.col("sum_dl").cast("double")
    )
    score = (
        idf
        * (F.col("tf").cast("double") * F.lit(2.2))
        / (F.col("tf").cast("double") + norm)
    )
    tq = F.floor(score * F.lit(1e12) + F.lit(0.5)).cast("long")
    lex_scored = (
        cand.join(F.broadcast(qtok), "token")
        .filter(F.col("doc_id") != F.col("query_id"))
        .join(F.broadcast(df), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("query_id", "doc_id", tq.alias("tsq"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("tsq").alias("sq"))
    )
    wl = Window.partitionBy("query_id").orderBy(F.desc("sq"), F.asc("doc_id"))
    lex = (
        lex_scored.withColumn("lex_rank", F.row_number().over(wl))
        .filter(F.col("lex_rank") <= _LEG_K)
        .select("query_id", "doc_id", "lex_rank")
    )

    # --- vector leg: q_cosine_topk's machinery at k = _LEG_K ---
    queries = emb.filter(F.col("vec_id").isin(qids))
    vec = SIM.cosine_topk_exact(emb, queries, k=_LEG_K).select(
        "query_id", F.col("vec_id").alias("doc_id"),
        F.col("rank").alias("vec_rank"),
    )

    # --- reciprocal-rank fusion ---
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
# Unigram-LM tokenization, Viterbi segmentation (B31/B64 ext — the
# SentencePiece counterpart of the queries_r6 BPE train/encode pair)
# =====================================================================

_UNI_MAX_PIECE = 4   # max piece length considered for the vocabulary
_UNI_TOP_MULTI = 48  # multi-char vocab budget (all single chars always in)

_UNIGRAM_ORACLE = f"""
WITH w AS (
    SELECT word, CAST(COUNT(*) AS BIGINT) AS wcount FROM (
        SELECT unnest(string_split(text, ' ')) AS word FROM documents
    ) WHERE word <> '' GROUP BY word
),
subs AS (
    SELECT piece, CAST(SUM(wcount) AS BIGINT) AS cnt FROM (
        SELECT w.wcount, substr(w.word, CAST(s.s AS INTEGER),
                                CAST(l.l AS INTEGER)) AS piece
        FROM w,
             range(1, 65) s(s),
             range(1, {_UNI_MAX_PIECE} + 1) l(l)
        WHERE s.s + l.l - 1 <= len(w.word)
    ) GROUP BY piece
),
vocab AS (
    SELECT piece, cnt FROM subs WHERE len(piece) = 1
    UNION ALL
    SELECT piece, cnt FROM (
        SELECT piece, cnt FROM subs WHERE len(piece) >= 2
        ORDER BY cnt DESC, piece ASC LIMIT {_UNI_TOP_MULTI}
    )
),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM vocab),
scores AS (
    SELECT piece,
           CAST(FLOOR(LN(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE))
                      * 1000000000.0) AS BIGINT) AS sq
    FROM vocab, tot
),
segs AS (
    WITH RECURSIVE r(word, pos, lens, ps, score, ntok) AS (
        SELECT word, 0, CAST([] AS INTEGER[]), CAST([] AS VARCHAR[]),
               CAST(0 AS BIGINT), 0
        FROM w
        UNION ALL
        SELECT r.word, r.pos + l.l,
               list_append(r.lens, CAST(l.l AS INTEGER)),
               list_append(r.ps, s.piece),
               r.score + s.sq, r.ntok + 1
        FROM r, range(1, {_UNI_MAX_PIECE} + 1) l(l)
        JOIN scores s
          ON s.piece = substr(r.word, r.pos + 1, CAST(l.l AS INTEGER))
        WHERE r.pos + l.l <= len(r.word)
    )
    SELECT word, lens, ps, score, ntok FROM r WHERE pos = len(word)
),
pick AS (
    SELECT word, score, ntok, ps,
           ROW_NUMBER() OVER (
               PARTITION BY word
               ORDER BY score DESC, ntok ASC, list_reverse(lens) DESC
           ) AS rk
    FROM segs
)
SELECT w.word, w.wcount,
       CAST(p.ntok AS INTEGER) AS n_tokens,
       array_to_string(p.ps, '|') AS pieces,
       p.score AS score_q
FROM w JOIN pick p ON p.word = w.word AND p.rk = 1
"""


@q("q_unigram_viterbi", _UNIGRAM_ORACLE)
def q_unigram_viterbi(spark, sf_dir):
    """B66: unigram-LM subword tokenization (SentencePiece/Kudo 2018
    inference shape) — Viterbi-optimal segmentation of every corpus word
    under a frequency-derived piece vocabulary. Completes the tokenizer
    pair: queries_r6's BPE keys are the merge-based algorithm, this is
    the probabilistic one. Vocabulary = every single character plus the
    top-48 length-2..4 substrings by occurrence-weighted corpus count
    (ties piece-asc); piece score = floor(ln(cnt/total)*1e9), an INTEGER
    fixed-point log-prob, so the DP maximizes an exact integer sum —
    no float compare anywhere in the search. Tie policy (proven against
    the oracle): max score, then fewest tokens, then longest-last-piece
    (the DP's prefer-larger-l rule == lexicographically greatest
    REVERSED length sequence, which the oracle states declaratively).
    The ORACLE brute-force-enumerates every vocab segmentation via a
    recursive CTE and picks the best declaratively — so a green
    differential proves the Spark DP optimal, not just consistent (and
    tests/test_r6b_ops.py re-proves it on random corpora against a
    pure-Python reference). Core factored into ops.text
    (unigram_vocab_scores trains the bounded-model-state vocabulary,
    unigram_viterbi runs the two-fold DP+backtrace in codegen). At
    100 TB: corpus scan is one shuffle; the DP runs on the
    distinct-word table, which a real tokenizer bounds at vocabulary
    scale."""
    from etl_data_processor_spark.ops.text import (
        unigram_viterbi, unigram_vocab_scores,
    )

    d = _cat(spark, sf_dir).documents
    words = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wcount"))
    )
    score_of = unigram_vocab_scores(
        words, max_piece=_UNI_MAX_PIECE, top_multi=_UNI_TOP_MULTI
    )
    return unigram_viterbi(words, score_of, max_piece=_UNI_MAX_PIECE).select(
        "word", "wcount", "n_tokens", "pieces", "score_q"
    )


# =====================================================================
# Fellegi–Sunter EM: learned record-linkage match weights (B50/B61 ext —
# the parameter-estimation half that q_record_linkage's fixed integer
# weights stand in for; Splink's core algorithm, public)
# =====================================================================

# Quantization/clamp discipline shared by both engines: posteriors are
# 1e-12 fixed-point BIGINTs (so every cross-pattern sum is an exact
# integer), probabilities are 1e-12-quantized doubles clamped away from
# {0, 1} before any log-ratio.
_FS_CLAMP_LO = "1e-6"
_FS_CLAMP_HI = "0.999999"

# One EM iteration in SQL: (pattern counts p; params r) -> new params.
# E-step posterior per pattern, M-step ratios of exact BIGINT sums.
_FS_E = """
    SELECT p.g1, p.g2, p.g3, p.n,
           CAST(FLOOR(
             (r.lam * CASE WHEN p.g1 = 1 THEN r.m1 ELSE 1.0 - r.m1 END
                    * CASE WHEN p.g2 = 1 THEN r.m2 ELSE 1.0 - r.m2 END
                    * CASE WHEN p.g3 = 1 THEN r.m3 ELSE 1.0 - r.m3 END)
             / ((r.lam * CASE WHEN p.g1 = 1 THEN r.m1 ELSE 1.0 - r.m1 END
                       * CASE WHEN p.g2 = 1 THEN r.m2 ELSE 1.0 - r.m2 END
                       * CASE WHEN p.g3 = 1 THEN r.m3 ELSE 1.0 - r.m3 END)
                + ((1.0 - r.lam)
                       * CASE WHEN p.g1 = 1 THEN r.u1 ELSE 1.0 - r.u1 END
                       * CASE WHEN p.g2 = 1 THEN r.u2 ELSE 1.0 - r.u2 END
                       * CASE WHEN p.g3 = 1 THEN r.u3 ELSE 1.0 - r.u3 END))
             * 1000000000000.0 + 0.5) AS BIGINT) AS wq
    FROM {p} p CROSS JOIN {r} r
"""

_FS_M = f"""
    SELECT
      LEAST(GREATEST(CAST(FLOOR(
        CAST(SUM(wq * n) AS DOUBLE)
          / (CAST(SUM(n) AS DOUBLE) * 1000000000000.0)
        * 1000000000000.0 + 0.5) AS DOUBLE) / 1000000000000.0,
        {_FS_CLAMP_LO}), {_FS_CLAMP_HI}) AS lam,
      LEAST(GREATEST(CAST(FLOOR(
        CAST(SUM(CASE WHEN g1 = 1 THEN wq * n ELSE 0 END) AS DOUBLE)
          / CAST(SUM(wq * n) AS DOUBLE)
        * 1000000000000.0 + 0.5) AS DOUBLE) / 1000000000000.0,
        {_FS_CLAMP_LO}), {_FS_CLAMP_HI}) AS m1,
      LEAST(GREATEST(CAST(FLOOR(
        CAST(SUM(CASE WHEN g2 = 1 THEN wq * n ELSE 0 END) AS DOUBLE)
          / CAST(SUM(wq * n) AS DOUBLE)
        * 1000000000000.0 + 0.5) AS DOUBLE) / 1000000000000.0,
        {_FS_CLAMP_LO}), {_FS_CLAMP_HI}) AS m2,
      LEAST(GREATEST(CAST(FLOOR(
        CAST(SUM(CASE WHEN g3 = 1 THEN wq * n ELSE 0 END) AS DOUBLE)
          / CAST(SUM(wq * n) AS DOUBLE)
        * 1000000000000.0 + 0.5) AS DOUBLE) / 1000000000000.0,
        {_FS_CLAMP_LO}), {_FS_CLAMP_HI}) AS m3,
      LEAST(GREATEST(CAST(FLOOR(
        CAST(SUM(CASE WHEN g1 = 1 THEN (1000000000000 - wq) * n ELSE 0 END)
             AS DOUBLE)
          / CAST(SUM((1000000000000 - wq) * n) AS DOUBLE)
        * 1000000000000.0 + 0.5) AS DOUBLE) / 1000000000000.0,
        {_FS_CLAMP_LO}), {_FS_CLAMP_HI}) AS u1,
      LEAST(GREATEST(CAST(FLOOR(
        CAST(SUM(CASE WHEN g2 = 1 THEN (1000000000000 - wq) * n ELSE 0 END)
             AS DOUBLE)
          / CAST(SUM((1000000000000 - wq) * n) AS DOUBLE)
        * 1000000000000.0 + 0.5) AS DOUBLE) / 1000000000000.0,
        {_FS_CLAMP_LO}), {_FS_CLAMP_HI}) AS u2,
      LEAST(GREATEST(CAST(FLOOR(
        CAST(SUM(CASE WHEN g3 = 1 THEN (1000000000000 - wq) * n ELSE 0 END)
             AS DOUBLE)
          / CAST(SUM((1000000000000 - wq) * n) AS DOUBLE)
        * 1000000000000.0 + 0.5) AS DOUBLE) / 1000000000000.0,
        {_FS_CLAMP_LO}), {_FS_CLAMP_HI}) AS u3
    FROM {{e}}
"""

_FS_ORACLE = f"""
WITH dirty AS (
    SELECT c_custkey + 10000000 AS d_id,
           substr(c_name, 1, len(c_name) - 1)
             || CAST((CAST(substr(c_name, len(c_name), 1) AS INTEGER) + 5) % 10
                     AS VARCHAR) AS d_name,
           ROUND(c_acctbal, 1) AS d_bal,
           c_nationkey AS d_nationkey, c_mktsegment AS d_seg
    FROM customer
),
pairs AS (
    SELECT a.c_custkey, d.d_id,
           CASE WHEN levenshtein(a.c_name, d.d_name) <= 1
                THEN 1 ELSE 0 END AS g1,
           CASE WHEN abs(a.c_acctbal - d.d_bal) <= 0.051
                THEN 1 ELSE 0 END AS g2,
           CASE WHEN a.c_mktsegment = d.d_seg THEN 1 ELSE 0 END AS g3
    FROM customer a
    JOIN dirty d ON a.c_nationkey = d.d_nationkey
                AND levenshtein(a.c_name, d.d_name) <= 2
),
pat AS (
    SELECT g1, g2, g3, CAST(COUNT(*) AS BIGINT) AS n
    FROM pairs GROUP BY g1, g2, g3
),
p0 AS (
    SELECT CAST(0.1 AS DOUBLE) AS lam,
           CAST(0.9 AS DOUBLE) AS m1, CAST(0.9 AS DOUBLE) AS m2,
           CAST(0.9 AS DOUBLE) AS m3,
           CAST(0.1 AS DOUBLE) AS u1, CAST(0.1 AS DOUBLE) AS u2,
           CAST(0.1 AS DOUBLE) AS u3
),
e1 AS ({_FS_E.format(p="pat", r="p0")}),
p1 AS ({_FS_M.format(e="e1")}),
e2 AS ({_FS_E.format(p="pat", r="p1")}),
p2 AS ({_FS_M.format(e="e2")}),
ef AS ({_FS_E.format(p="pat", r="p2")})
SELECT e.g1 AS g_name, e.g2 AS g_bal, e.g3 AS g_seg, e.n AS n_pairs,
       CAST(FLOOR((
           (CASE WHEN e.g1 = 1 THEN LOG2(r.m1 / r.u1)
                 ELSE LOG2((1.0 - r.m1) / (1.0 - r.u1)) END)
         + (CASE WHEN e.g2 = 1 THEN LOG2(r.m2 / r.u2)
                 ELSE LOG2((1.0 - r.m2) / (1.0 - r.u2)) END)
         + (CASE WHEN e.g3 = 1 THEN LOG2(r.m3 / r.u3)
                 ELSE LOG2((1.0 - r.m3) / (1.0 - r.u3)) END)
       ) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0 AS weight6,
       CAST(FLOOR(CAST(e.wq AS DOUBLE) / 1000000.0 + 0.5) AS DOUBLE)
         / 1000000.0 AS posterior6,
       CAST(FLOOR(r.lam * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0 AS lambda6
FROM ef e CROSS JOIN p2 r
"""


def _pyfloor(x: float) -> int:
    """math.floor as the Spark/DuckDB FLOOR-on-double (driver-side EM)."""
    import math

    return math.floor(x)

@q("q_linkage_fs_em", _FS_ORACLE)
def q_linkage_fs_em(spark, sf_dir):
    """B66: Fellegi–Sunter parameter estimation (the EM at the core of
    Splink, public) — learn record-linkage m/u probabilities and match
    weights FROM the candidate pairs instead of hardcoding them
    (q_record_linkage ships fixed integer weights; this key derives
    them). Same clean-vs-dirty-replica setup and the same scale-safe
    candidate generation: symmetric-delete variant equi-join
    intersected with the nation block (lossless for lev <= 2 —
    q_fuzzy_symdelete proves it against the naive all-pairs oracle this
    key's oracle still uses; the lower-explode-volume PassJoin
    alternative was measured at 14x worse candidate precision on this
    fixture and rejected — see q_record_linkage's inline note). Three agreement fields: name lev <= 1,
    |Δbal| <= 0.051, same mktsegment. The EM runs on the PATTERN table
    (<= 2^3 rows — corpus-size-independent model state): posteriors are
    1e-12 fixed-point BIGINTs so every cross-pattern sum is an exact
    integer (no float-sum order dependence), each M-step ratio is one
    double division of exact BIGINTs, quantized then clamped away from
    {0,1} before the log2 weight (the Splink clamp). Two EM iterations
    + final E-step, unrolled declaratively in BOTH engines (DataFrame
    ops here, CTE chain in the oracle). At 100 TB: the corpus cost is
    the one candidate-pair pattern count (same plan family as
    q_record_linkage, measured linear); everything after is 8 rows.
    BIGINT posterior sums bound pairs at ~9e6 per pattern shard before
    a DECIMAL(38,0) switch."""
    from etl_data_processor_spark.ops.dedup import _parallelize
    from etl_data_processor_spark.ops.text import symdelete_hash_arrays

    cust = _cat(spark, sf_dir).customer
    last = F.substring(F.col("c_name"), -1, 1).cast("int")
    dirty = cust.select(
        (F.col("c_custkey") + 10000000).alias("d_id"),
        F.concat(
            F.expr("substr(c_name, 1, length(c_name) - 1)"),
            ((last + 5) % 10).cast("string"),
        ).alias("d_name"),
        F.round(F.col("c_acctbal"), 1).alias("d_bal"),
        F.col("c_nationkey").alias("d_nationkey"),
        F.col("c_mktsegment").alias("d_seg"),
    )
    # r11 (VERDICT r10 item 1, guide §8's transferable rule): the
    # exploded candidate frames carry ONLY (key, block, variant) — the
    # name/segment/balance payloads no longer ride the ~170x variant
    # explode through the co-partitioning exchanges, and every
    # per-candidate computation (levenshtein included) moves BELOW the
    # pair dedup, so the expensive verify runs once per DISTINCT pair
    # instead of once per variant-multiplicity candidate row. The r10
    # form computed lv per candidate row precisely to keep names out of
    # the dedup shuffle; deduping the bare 16-byte pair first achieves
    # both — skinnier exchanges AND ~multiplicity-fold fewer verifies.
    # The variant hashes come from the vectorized Arrow pass
    # (symdelete_hash_arrays — the expression form's interpreted HOF
    # chain measured 3.5 cpu-s per side here, the query's largest
    # stage) and explode in JVM codegen, behind a width guard so the
    # test-scale single-file scan spreads first (the r10 form ran each
    # side's explode as ONE task).
    cand_a = _parallelize(
        cust.select("c_custkey", "c_nationkey", "c_name")
    ).select(
        "c_custkey", "c_nationkey",
        F.explode(symdelete_hash_arrays("c_name")).alias("__v"),
    )
    cand_b = _parallelize(
        dirty.select("d_id", "d_nationkey", "d_name")
    ).select(
        "d_id", "d_nationkey",
        F.explode(symdelete_hash_arrays("d_name")).alias("__vb"),
    )
    # CANDIDATE-proportional co-partitioning on the join keys (r10,
    # VERDICT r9 item 3; supersedes the r8/r9 row-proportional sizing):
    # the shuffle-hash build side is exploded deletion variants and the
    # per-bucket JOIN OUTPUT grows with the key-multiplicity PRODUCT,
    # not the input row count — under the sf3 fixture's replicated
    # names the row-proportional buckets (input_rows/512) left per-task
    # candidate volume growing ~linearly with replication and spilled
    # 293 GB at 30x. The estimator is one cheap narrow aggregate on the
    # UN-exploded table: est_pairs = sum over (name, nation) groups of
    # cnt^2 — clean-side multiplicity squared mirrors the A x B variant
    # join because the dirty side is a 1:1 transform of the clean side
    # (same name multiset modulo the last digit), so every replica pair
    # shares the same deletion variants. With unique names (the
    # unreplicated fixtures) est_pairs == row count and the bucket
    # count is IDENTICAL to the old sizing — the change only engages
    # under multiplicity. Cap raised 64x -> 128x nshuf: the old cap was
    # sized for input-proportional growth and would re-cap exactly the
    # quadratic loads this estimator exists to absorb; 128x was chosen
    # by measurement, not taste — at the sf3 point (~1.1e9 candidate
    # join rows) 4096 buckets hold per-task state at ~270k skinny rows
    # (tens of MB, no spill), while a first attempt at 512x (16384
    # tasks) made task-scheduling overhead the bottleneck.
    nshuf = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    # The estimator is planning STATISTICS (like AQE's), not a query
    # result, so it lives in the session memo like a resolved table
    # (VERDICT r10 item 7): one integer per (session, path, on-disk
    # content signature) — one narrow-aggregate collect per session per
    # fixture instead of one per execution; a regenerated fixture changes
    # the signature and re-estimates. The query's own computation still
    # runs from parquet on every execution.
    from etl_data_processor_spark.ops.dedup import (
        session_memo,
        source_signature,
    )

    cust_path = f"{sf_dir}/customer.parquet"
    est_pairs = session_memo(
        spark,
        ("est_pairs", cust_path, source_signature(cust_path)),
        lambda: (
            cust.groupBy("c_name", "c_nationkey")
            .agg(F.count(F.lit(1)).alias("c"))
            .agg(F.sum(F.col("c") * F.col("c")).alias("p"))
            .collect()[0]["p"]
        ),
    )
    nbkt = max(nshuf, min(128 * nshuf, int(est_pairs) // 512))
    cand_a = cand_a.repartition(nbkt, "__v", "c_nationkey")
    cand_b = cand_b.repartition(nbkt, "__vb", "d_nationkey")
    pairs = (
        cand_a.join(
            cand_b.hint("shuffle_hash"),
            (F.col("__v") == F.col("__vb"))
            & (F.col("c_nationkey") == F.col("d_nationkey")),
        )
        .select("c_custkey", "d_id")
        # pair-dedup: multiple shared deletion variants. The explicit
        # pair-key repartition (r10) widens the dedup's REDUCE side to
        # nbkt: HashPartitioning on (c_custkey, d_id) — the full
        # distinct key — satisfies the aggregate's clustered
        # distribution, so the distinct plans no second exchange and
        # its hash map holds candidates/nbkt rows per task instead of
        # candidates/spark.sql.shuffle.partitions. Measured at sf3
        # (r10): after candidate-proportional nbkt fixed the JOIN side,
        # the residual 142 GB spill was ENTIRELY this 32-wide dedup
        # (1.1e9 pairs / 32 ~= 34M rows per reduce task). The r11
        # dedup rows are the bare 16-byte pair (was: pair + lv + ab +
        # same_seg) and include the 2 < lev <= 4 false candidates the
        # old pre-dedup filter dropped — strictly narrower rows, same
        # row count through the exchange (the filter ran above the
        # join, not below it). At the unreplicated fixtures nbkt ==
        # nshuf, so the dedup width matches the old plan.
        .repartition(nbkt, "c_custkey", "d_id")
        .distinct()
    )
    # Attribute re-attach + verify ONCE per distinct pair: the dedup
    # collapsed the ~170x variant multiplicity, so the levenshtein
    # verify (the r10 #1 CPU in the suite — it ran per candidate row)
    # now runs per pair, and with the THRESHOLD form (banded DP +
    # early-out, exact distance when <= 2, -1 past it) instead of the
    # full O(L^2) matrix. The attach joins move one skinny attr row per
    # source row — at test scale they broadcast; at 100 TB they are
    # key joins on the (post-dedup, multiplicity-free) pair set,
    # strictly cheaper than shipping the attrs through the variant
    # explode was.
    verified = (
        pairs
        .join(
            cust.select(
                "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
            ),
            "c_custkey",
        )
        .join(
            dirty.select("d_id", "d_name", "d_bal", "d_seg"), "d_id"
        )
        .select(
            F.levenshtein("c_name", "d_name", 2).alias("lv"),
            F.abs(F.col("c_acctbal") - F.col("d_bal")).alias("ab"),
            (F.col("c_mktsegment") == F.col("d_seg")).alias("same_seg"),
        )
        .filter(F.col("lv") >= 0)  # threshold form: -1 == lev > 2
    )
    pat = verified.select(
        F.when(F.col("lv") <= 1, 1).otherwise(0).alias("g1"),
        F.when(F.col("ab") <= 0.051, 1).otherwise(0).alias("g2"),
        F.when(F.col("same_seg"), 1).otherwise(0).alias("g3"),
    ).groupBy("g1", "g2", "g3").agg(F.count(F.lit(1)).alias("n"))

    # The pattern table is <= 2^3 rows — BOUNDED MODEL STATE (the BPE-
    # training discipline): collect it once and run the EM in the driver
    # with arithmetic mirroring the DataFrame E/M steps (tests/reference.py,
    # fs_estep/fs_mstep) token for token.
    # The earlier all-DataFrame form chained ~8 one-row aggregate jobs
    # (each a separate job barrier) and was the slowest bench key at
    # 6.6 s wall; the corpus-scale work (the candidate-pair pattern
    # count) is unchanged. The final log2 weight projection stays IN
    # SPARK with the learned params as literals, preserving the
    # JVM-vs-DuckDB libm pairing the oracle already proved.
    rows = [
        (r["g1"], r["g2"], r["g3"], r["n"]) for r in pat.collect()
    ]
    params = (0.1, 0.9, 0.9, 0.9, 0.1, 0.1, 0.1)  # lam, m1-3, u1-3

    def estep(p):
        lam, m1, m2, m3, u1, u2, u3 = p
        out = []
        for g1, g2, g3, n in rows:
            pm = (
                lam
                * (m1 if g1 == 1 else 1.0 - m1)
                * (m2 if g2 == 1 else 1.0 - m2)
                * (m3 if g3 == 1 else 1.0 - m3)
            )
            pu = (
                (1.0 - lam)
                * (u1 if g1 == 1 else 1.0 - u1)
                * (u2 if g2 == 1 else 1.0 - u2)
                * (u3 if g3 == 1 else 1.0 - u3)
            )
            out.append((g1, g2, g3, n, _pyfloor(pm / (pm + pu) * 1e12 + 0.5)))
        return out

    def mstep(e):
        S = sum(wq * n for _, _, _, n, wq in e)
        T = sum(n for _, _, _, n, _ in e)
        V = sum((1000000000000 - wq) * n for _, _, _, n, wq in e)
        Sg = [sum(wq * n for r_, n, wq in
                  ((r[i], r[3], r[4]) for r in e) if r_ == 1)
              for i in (0, 1, 2)]
        Vg = [sum((1000000000000 - wq) * n for r_, n, wq in
                  ((r[i], r[3], r[4]) for r in e) if r_ == 1)
              for i in (0, 1, 2)]

        def clamp(x):
            q = _pyfloor(x * 1e12 + 0.5) / 1e12
            return min(max(q, 1e-6), 0.999999)

        return (
            clamp(float(S) / (float(T) * 1e12)),
            clamp(float(Sg[0]) / float(S)),
            clamp(float(Sg[1]) / float(S)),
            clamp(float(Sg[2]) / float(S)),
            clamp(float(Vg[0]) / float(V)),
            clamp(float(Vg[1]) / float(V)),
            clamp(float(Vg[2]) / float(V)),
        )

    params = mstep(estep(params))       # p1
    params = mstep(estep(params))       # p2
    ef_rows = estep(params)             # final E-step under p2
    lam, m1v, m2v, m3v, u1v, u2v, u3v = params

    ef = spark.createDataFrame(
        ef_rows, "g1 int, g2 int, g3 int, n long, wq long"
    )

    def lr(g, m, u):
        return F.when(
            F.col(g) == 1, F.log2(F.lit(m) / F.lit(u))
        ).otherwise(
            F.log2((F.lit(1.0) - F.lit(m)) / (F.lit(1.0) - F.lit(u)))
        )

    out = ef.select(
        "g1", "g2", "g3", "n", "wq",
        F.lit(lam).alias("lam"),
        F.lit(m1v).alias("m1"), F.lit(m2v).alias("m2"),
        F.lit(m3v).alias("m3"),
        F.lit(u1v).alias("u1"), F.lit(u2v).alias("u2"),
        F.lit(u3v).alias("u3"),
    )
    weight = (
        lr("g1", m1v, u1v) + lr("g2", m2v, u2v) + lr("g3", m3v, u3v)
    )
    return out.select(
        F.col("g1").alias("g_name"), F.col("g2").alias("g_bal"),
        F.col("g3").alias("g_seg"), F.col("n").alias("n_pairs"),
        SIM.stable_round6(weight).alias("weight6"),
        (
            F.floor(F.col("wq").cast("double") / F.lit(1e6) + F.lit(0.5))
            .cast("double") / F.lit(1e6)
        ).alias("posterior6"),
        SIM.stable_round6(F.col("lam")).alias("lambda6"),
    )


# =====================================================================
# Benchmark contamination report: exact n-gram overlap (B22/B53 ext —
# the REPORT companion to q_decontaminate's LSH drop list; GPT-3 /
# The Pile style exact n-gram contamination accounting, public)
# =====================================================================

_CONTAM_N = 3          # n-gram order (13 in GPT-3; 3 here for fixture signal)
_CONTAM_BENCH = "src0"  # the held-out benchmark source
_CONTAM_TAU = 0.2      # contaminated-flag threshold on the overlap fraction

_CONTAM_ORACLE = f"""
WITH d AS (
    SELECT doc_id, source,
           list_filter(string_split(text, ' '), t -> t <> '') AS w
    FROM documents
),
grams AS (
    SELECT doc_id, source,
           list_aggregate(w[i:i+{_CONTAM_N}-1], 'string_agg', ' ') AS g
    FROM d, range(1, 4097) t(i)
    WHERE i + {_CONTAM_N} - 1 <= len(w)
),
bench AS (
    SELECT DISTINCT g FROM grams WHERE source = '{_CONTAM_BENCH}'
),
corpus AS (
    SELECT doc_id, g FROM grams
    WHERE source <> '{_CONTAM_BENCH}' GROUP BY doc_id, g
),
hits AS (
    SELECT c.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(COUNT(b.g) AS BIGINT) AS n_hits
    FROM corpus c LEFT JOIN bench b USING (g)
    GROUP BY c.doc_id
)
SELECT doc_id, n_grams, n_hits,
       CAST(FLOOR(CAST(n_hits AS DOUBLE) / CAST(n_grams AS DOUBLE)
                  * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0 AS overlap6,
       CAST(CASE WHEN CAST(n_hits AS DOUBLE) / CAST(n_grams AS DOUBLE)
                      > {_CONTAM_TAU} THEN 1 ELSE 0 END AS INTEGER)
         AS contaminated
FROM hits
"""


@q("q_contamination_ngrams", _CONTAM_ORACLE)
def q_contamination_ngrams(spark, sf_dir):
    """B66 #2: exact n-gram benchmark-contamination REPORT (the GPT-3 /
    The Pile accounting recipe, public): for every corpus document, the
    fraction of its DISTINCT word n-grams that appear anywhere in the
    held-out benchmark source — plus the binary contaminated flag at
    tau=0.2. Complements q_decontaminate (which LSH-drops near-dups):
    this is the exact-overlap audit a lab publishes next to its eval
    numbers. Plan: one tokenize pass fans each doc into distinct
    n-grams (slide a transform over the token array — no self-join);
    the benchmark gram set is DISTINCT-aggregated and broadcast into a
    left join (benchmark is eval-sized, i.e. tiny vs the corpus, the
    same asymmetry q_decontaminate exploits); per-doc counts are one
    hash agg. At 100 TB the broadcast becomes a bloom-filter
    pre-screen + shuffle join on gram hash — same plan family, and the
    n-gram explode stays linear (len-n+1 grams per doc).

    r11 (guide §4.2 + §2.4): gram construction moved from the JVM
    higher-order-function chain into Arrow passes, one per side — the
    filters on ``source`` push to the parquet scan, so the two passes
    read DISJOINT row sets (no duplicated work, no common subtree to
    cache). The per-doc dedup rides inside the corpus pass (each row
    is one document; doc_id unique at all SFs), which deletes the
    (doc_id, g) distinct exchange — the broadcast join now consumes
    map-side rows directly and the per-doc aggregate partial-aggregates
    to doc-count size before its (only) exchange. Exact strings cross
    the boundary; dedup/join/counts stay in the JVM."""
    from etl_data_processor_spark.ops.dedup import _parallelize
    from etl_data_processor_spark.ops.text import doc_grams_arrow

    # width-guard: the gram pass is the CPU-heavy stage, and a small
    # single-file corpus arrives as one partition (stress showed
    # max-task == wall); at 100 TB the scan is already wide and
    # _parallelize is a no-op.
    d = _cat(spark, sf_dir).documents.select("doc_id", "source", "text")
    bench = (
        doc_grams_arrow(
            _parallelize(d.filter(F.col("source") == _CONTAM_BENCH)),
            (_CONTAM_N,), "doc_id", "long", shape="doc_distinct",
        )
        .select("g")
        .distinct()
    )
    corpus = doc_grams_arrow(
        _parallelize(d.filter(F.col("source") != _CONTAM_BENCH)),
        (_CONTAM_N,), "doc_id", "long", shape="doc_distinct",
    )
    hits = (
        corpus.join(F.broadcast(bench.withColumn("__hit", F.lit(1))), "g",
                    "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("__hit").alias("n_hits"),
        )
    )
    frac = F.col("n_hits").cast("double") / F.col("n_grams").cast("double")
    return hits.select(
        "doc_id", "n_grams", "n_hits",
        SIM.stable_round6(frac).alias("overlap6"),
        F.when(frac > _CONTAM_TAU, 1).otherwise(0).alias("contaminated"),
    )


# =====================================================================
# Two-sample Kolmogorov–Smirnov drift (B52 ext — the rank-based drift
# test next to q_quality_drift_psi's binned one)
# =====================================================================

_KS_REF = "src0"   # reference source

_KS_ORACLE = f"""
WITH vc AS (
    SELECT source, n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c
    FROM documents GROUP BY source, n_chars
),
rc AS (SELECT v, c AS cr FROM vc WHERE source = '{_KS_REF}'),
nn AS (
    SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM vc GROUP BY source
),
nref AS (SELECT n AS n_ref FROM nn WHERE source = '{_KS_REF}'),
pts AS (
    SELECT s.source, p.v,
           COALESCE(sv.c, 0) AS cs, COALESCE(r.cr, 0) AS cr
    FROM (SELECT DISTINCT source FROM vc
          WHERE source <> '{_KS_REF}') s
    CROSS JOIN (SELECT DISTINCT v FROM vc) p
    LEFT JOIN vc sv ON sv.source = s.source AND sv.v = p.v
    LEFT JOIN rc r ON r.v = p.v
),
cum AS (
    SELECT source, v,
           SUM(cs) OVER (PARTITION BY source ORDER BY v) AS fs,
           SUM(cr) OVER (PARTITION BY source ORDER BY v) AS fr
    FROM pts
),
d AS (
    SELECT c.source, nn.n,
           MAX(ABS(c.fs * nref.n_ref - c.fr * nn.n)) AS dmax
    FROM cum c
    JOIN nn ON nn.source = c.source
    CROSS JOIN nref
    GROUP BY c.source, nn.n
)
SELECT d.source, d.n,
       CAST(FLOOR(CAST(d.dmax AS DOUBLE)
                  / (CAST(d.n AS DOUBLE) * CAST(nref.n_ref AS DOUBLE))
                  * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0 AS ks6,
       CAST(CASE WHEN CAST(d.dmax AS DOUBLE)
                      / (CAST(d.n AS DOUBLE) * CAST(nref.n_ref AS DOUBLE))
                 > {DR.KS_C05} * SQRT((CAST(d.n AS DOUBLE)
                                     + CAST(nref.n_ref AS DOUBLE))
                                    / (CAST(d.n AS DOUBLE)
                                       * CAST(nref.n_ref AS DOUBLE)))
            THEN 1 ELSE 0 END AS INTEGER) AS drifted
FROM d CROSS JOIN nref
"""


@q("q_ks_drift", _KS_ORACLE)
def q_ks_drift(spark, sf_dir):
    """B66 #2: EXACT two-sample Kolmogorov–Smirnov statistic of every
    source's document-length distribution against the reference source,
    with the alpha=0.05 rejection flag — the rank-based drift monitor
    that complements q_quality_drift_psi's binned PSI (KS needs no bin
    choice and catches shape drift PSI's 10 bins smooth away). The
    statistic is computed in EXACT integer arithmetic: D is maximized
    over cross-multiplied ECDF counts (fs*n_ref - fr*n_s — integers),
    and only the final normalization divides, so engines agree to the
    bit before the 1e-6 quantization. Plan: the corpus collapses to
    per-(source, length) value counts in one hash agg (the
    q_length_filter_adaptive pattern); the ECDF grid is
    |sources| x |distinct lengths| rows — value-distribution-sized, not
    corpus-sized; the only window runs per source on that tiny grid.
    At 100 TB the value-count table for an integer-valued metric is
    bounded by the metric's range, not the row count. The statistic is
    ops.drift.ks_kernel."""
    # value-distribution-sized; feeds the kernel's four branches
    vc = DR.value_counts(_cat(spark, sf_dir).documents).cache()
    return DR.ks_kernel(
        vc.filter(F.col("source") != _KS_REF),
        vc.filter(F.col("source") == _KS_REF).select("v", "c"),
    )


# =====================================================================
# Retrieval context assembly (B31/B32 capstone — RAG serving: fused
# retrieval -> chunk -> budgeted pack, composing q_hybrid_rrf,
# q_chunk_documents and q_pack_sequences' disciplines)
# =====================================================================

_RAG_TOP_DOCS = 3      # fused docs pulled per query
_RAG_CHUNK_W = 50      # words per chunk (non-overlapping)
_RAG_BUDGET = 96       # context token budget per query

_RAG_ORACLE = f"""
WITH {_HYBRID_CTES},
ranked AS ({_HYBRID_RANKED}),
sel AS (
    SELECT query_id, doc_id, fused_rank FROM ranked
    WHERE fused_rank <= {_RAG_TOP_DOCS}
),
dw AS (
    SELECT s.query_id, s.fused_rank, s.doc_id,
           list_filter(string_split(d.text, ' '), t -> t <> '') AS w
    FROM sel s JOIN documents d USING (doc_id)
),
chunks AS (
    SELECT query_id, fused_rank, doc_id,
           CAST(t.i AS INTEGER) AS chunk_id,
           CAST(LEAST({_RAG_CHUNK_W},
                      len(w) - t.i * {_RAG_CHUNK_W}) AS INTEGER)
             AS n_tokens
    FROM dw, range(0, 4097) t(i)
    WHERE t.i * {_RAG_CHUNK_W} < len(w)
),
packed AS (
    SELECT query_id, doc_id, chunk_id, n_tokens,
           CAST(SUM(n_tokens) OVER (
               PARTITION BY query_id
               ORDER BY fused_rank, chunk_id
           ) AS BIGINT) AS cum_tokens,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY fused_rank, chunk_id
           ) AS INTEGER) AS seq
    FROM chunks
)
SELECT query_id, seq, doc_id, chunk_id, n_tokens, cum_tokens
FROM packed WHERE cum_tokens <= {_RAG_BUDGET}
"""


@q("q_rag_context", _RAG_ORACLE)
def q_rag_context(spark, sf_dir):
    """B66 #2 capstone: retrieval-context assembly — the full RAG serving
    path in one declarative plan. Per query: hybrid-RRF top-3 documents
    (q_hybrid_rrf's exact fused ranking), split into 50-word
    non-overlapping chunks (q_chunk_documents' discipline, word grain),
    then packed GREEDILY in relevance order into a 96-token context
    budget (q_pack_sequences' running-sum gate): a chunk enters while
    the query's cumulative token count stays within budget. Output is
    the context manifest (query_id, seq, doc_id, chunk_id, n_tokens,
    cum_tokens) — exactly what a serving layer feeds the prompt
    builder. Plan shape: the fused ranking's corpus work is
    q_hybrid_rrf's (tf agg + query-bounded fusion); everything after
    joins the TOP-3 doc ids back to the corpus (a broadcast semi-join
    at scale), so chunk+pack run on queries x 3 documents — the
    context assembly itself is query-bounded, never corpus-bounded.
    The only windows partition by query_id over <= queries x docs x
    chunks rows."""
    fused = q_hybrid_rrf(spark, sf_dir).filter(
        F.col("fused_rank") <= _RAG_TOP_DOCS
    ).select("query_id", "doc_id", "fused_rank")
    d = _cat(spark, sf_dir).documents
    from etl_data_processor_spark.ops.text import tokenize

    dw = fused.join(d.select("doc_id", "text"), "doc_id").select(
        "query_id", "fused_rank", "doc_id",
        tokenize(F.col("text")).alias("w"),
    )
    n_chunks = F.ceil(F.size("w") / F.lit(_RAG_CHUNK_W)).cast("int")
    chunks = dw.select(
        "query_id", "fused_rank", "doc_id",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
        F.size("w").alias("__nw"),
    ).select(
        "query_id", "fused_rank", "doc_id", "chunk_id",
        F.least(
            F.lit(_RAG_CHUNK_W),
            F.col("__nw") - F.col("chunk_id") * _RAG_CHUNK_W,
        ).cast("int").alias("n_tokens"),
    )
    wq = Window.partitionBy("query_id").orderBy("fused_rank", "chunk_id")
    packed = chunks.select(
        "query_id", "doc_id", "chunk_id", "n_tokens",
        F.sum("n_tokens").over(wq).cast("long").alias("cum_tokens"),
        F.row_number().over(wq).alias("seq"),
    )
    return packed.filter(F.col("cum_tokens") <= _RAG_BUDGET).select(
        "query_id", "seq", "doc_id", "chunk_id", "n_tokens", "cum_tokens"
    )
