"""Round-6 extension batch #4 (B68): tokenizer-vocabulary audit,
statistically-sound eval aggregation, and pseudo-relevance-feedback
query expansion — the reporting/serving ops AROUND the training run.

House rules: deterministic, DuckDB-oracled, fixed-point quantization
before any cross-engine float comparison (sqrt/division ARE IEEE
correctly-rounded and engine-identical on identical operands; only
summation order is not — ops/exact), and 100 TB shapes: corpus work is
one explode + hash agg, model/report tables are vocabulary- or
group-sized.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from etl_data_processor_spark.ops import similarity as SIM
from etl_data_processor_spark.ops.text import tokenize
from etl_data_processor_spark.io import read_parquet_memo
from etl_data_processor_spark.registry import cat as _cat
from etl_data_processor_spark.registry import q

_SQL_TOKENS = "list_filter(string_split(trim(text), ' '), t -> t <> '')"


# =====================================================================
# Vocabulary pruning + OOV-rate audit (B31/B64 ext — the "can we ship
# this vocab?" report next to the BPE/unigram trainers)
# =====================================================================

_VOCAB_TOP = 256  # shipped vocabulary budget (most-frequent tokens)

_OOV_ORACLE = f"""
WITH toks AS (
    SELECT source, unnest({_SQL_TOKENS}) AS token FROM documents
),
freq AS (
    SELECT token, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY token
),
vocab AS (
    SELECT token FROM freq ORDER BY c DESC, token ASC LIMIT {_VOCAB_TOP}
),
st AS (
    SELECT t.source,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) FILTER (WHERE v.token IS NULL) AS BIGINT)
             AS n_oov
    FROM toks t LEFT JOIN vocab v USING (token)
    GROUP BY t.source
)
SELECT source, n_tokens, n_oov,
       CAST(FLOOR(CAST(n_oov AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                  * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0 AS oov6
FROM st
"""


@q("q_vocab_prune_oov", _OOV_ORACLE)
def q_vocab_prune_oov(spark, sf_dir):
    """B68: vocabulary-pruning audit — shipped-vocab = the 256 most
    frequent corpus tokens (count desc, token asc ties); per source,
    the out-of-vocabulary token rate that budget would cost. This is
    the go/no-go report a tokenizer team reads before freezing a vocab
    (high per-source OOV = that domain gets shredded into bytes).
    Plan: one token explode feeds BOTH the frequency aggregate and the
    per-source OOV count; the shipped vocab is top-k of the
    vocabulary-sized frequency table (TakeOrderedAndProject — never a
    global sort of the corpus) and broadcasts back into a left join.
    At 100 TB: two hash aggs + a vocab broadcast — the identical plan."""
    d = _cat(spark, sf_dir).documents
    toks = d.select(
        "source", F.explode(tokenize(F.col("text"))).alias("token")
    )
    freq = toks.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    vocab = freq.orderBy(F.desc("c"), F.asc("token")).limit(_VOCAB_TOP)
    st = (
        toks.join(
            F.broadcast(vocab.select("token", F.lit(1).alias("__v"))),
            "token",
            "left",
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count(F.when(F.col("__v").isNull(), 1)).alias("n_oov"),
        )
    )
    rate = F.col("n_oov").cast("double") / F.col("n_tokens").cast("double")
    return st.select(
        "source", "n_tokens", "n_oov", SIM.stable_round6(rate).alias("oov6")
    )


# =====================================================================
# Wilson-interval eval aggregation (B11/B52 ext — win rates with a
# defensible confidence bound, not bare means)
# =====================================================================

_WILSON_Z = 1.96       # 95% two-sided
_WILSON_THRESH = 50.0  # success = value > threshold

_WILSON_ORACLE = f"""
WITH st AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) FILTER (WHERE value > {_WILSON_THRESH}) AS BIGINT)
             AS wins
    FROM events GROUP BY event_type
),
w AS (
    SELECT event_type, n, wins,
           CAST(wins AS DOUBLE) / CAST(n AS DOUBLE) AS p,
           {_WILSON_Z} * {_WILSON_Z} / CAST(n AS DOUBLE) AS zz
    FROM st
),
ci AS (
    SELECT event_type, n, wins, p,
           (p + zz / 2.0
              - {_WILSON_Z}
                * SQRT((p * (1.0 - p) + zz / 4.0) / CAST(n AS DOUBLE)))
             / (1.0 + zz) AS lo,
           (p + zz / 2.0
              + {_WILSON_Z}
                * SQRT((p * (1.0 - p) + zz / 4.0) / CAST(n AS DOUBLE)))
             / (1.0 + zz) AS hi
    FROM w
)
SELECT event_type, n, wins,
       CAST(FLOOR(p * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0 AS p6,
       CAST(FLOOR(lo * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0 AS lo6,
       CAST(FLOOR(hi * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0 AS hi6,
       CAST(CASE WHEN lo > 0.5 THEN 1
                 WHEN hi < 0.5 THEN -1 ELSE 0 END AS INTEGER) AS verdict
FROM ci
"""


@q("q_eval_winrate_wilson", _WILSON_ORACLE)
def q_eval_winrate_wilson(spark, sf_dir):
    """B68: eval win rates with the Wilson score interval (the standard
    small-sample-safe binomial CI, public) — per event_type, the win
    rate vs a fixed threshold plus the 95% Wilson bounds and a
    three-way verdict (above / below / indistinguishable from 0.5).
    The statistically honest form of an eval dashboard: a bare mean of
    30 samples says nothing; the Wilson lower bound does. Determinism:
    p, the interval, and sqrt are all IEEE-correctly-rounded ops on
    identical operands (both engines mirror the expression tree token
    for token), then 1e-6 quantized. Scale: one corpus aggregate to
    |event_type| rows; everything after is constant-sized."""
    ev = _cat(spark, sf_dir).events
    st = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("value") > _WILSON_THRESH, 1)).alias("wins"),
    )
    nd = F.col("n").cast("double")
    p = F.col("wins").cast("double") / nd
    zz = F.lit(_WILSON_Z) * F.lit(_WILSON_Z) / nd
    root = F.sqrt(
        (p * (F.lit(1.0) - p) + zz / F.lit(4.0)) / nd
    )
    lo = (p + zz / F.lit(2.0) - F.lit(_WILSON_Z) * root) / (F.lit(1.0) + zz)
    hi = (p + zz / F.lit(2.0) + F.lit(_WILSON_Z) * root) / (F.lit(1.0) + zz)
    return st.select(
        "event_type", "n", "wins",
        SIM.stable_round6(p).alias("p6"),
        SIM.stable_round6(lo).alias("lo6"),
        SIM.stable_round6(hi).alias("hi6"),
        F.when(lo > 0.5, 1).when(hi < 0.5, -1).otherwise(0).alias("verdict"),
    )


# =====================================================================
# Rocchio pseudo-relevance-feedback expansion (B31/B58 ext — the
# second retrieval round on top of q_bm25 / q_hybrid_rrf's lexical leg)
# =====================================================================

_PRF_QUERIES = (0, 1, 2)
_PRF_FB_K = 5      # feedback depth (round-1 docs)
_PRF_EXP_T = 3     # expansion terms per query
_PRF_OUT_K = 10    # final result depth


def _bm25_sql(qterms_cte: str, out: str) -> str:
    """One BM25 round as SQL CTE text: score every doc against the
    per-query term sets in ``qterms_cte`` (query_id, token), emitting
    ``out`` (query_id, doc_id, sq). Mirrors the Spark scorer
    (ops/invindex.py:bm25_batch_scores_from_index) token for token
    (1e-12 per-term quantization, integer sums)."""
    return f"""
{out}_cand AS (
    SELECT tf.token, tf.doc_id, tf.tf
    FROM tf JOIN (SELECT DISTINCT token FROM {qterms_cte}) qt
      USING (token)
),
{out}_df AS (
    SELECT token, CAST(COUNT(*) AS BIGINT) AS df
    FROM {out}_cand GROUP BY token
),
{out} AS (
    SELECT q.query_id, c.doc_id,
           CAST(SUM(CAST(FLOOR(
               LN(1.0 + (CAST(st.n_docs AS DOUBLE) - CAST(d.df AS DOUBLE)
                         + 0.5) / (CAST(d.df AS DOUBLE) + 0.5))
               * (CAST(c.tf AS DOUBLE) * 2.2)
               / (CAST(c.tf AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE)
                           * CAST(st.n_docs AS DOUBLE)
                           / CAST(st.sum_dl AS DOUBLE)))
               * 1000000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS sq
    FROM {out}_cand c
    JOIN {qterms_cte} q USING (token)
    JOIN {out}_df d USING (token)
    JOIN dl ON dl.doc_id = c.doc_id
    CROSS JOIN st
    WHERE c.doc_id <> q.query_id
    GROUP BY q.query_id, c.doc_id
)"""


_PRF_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, unnest({_SQL_TOKENS}) AS token FROM documents
),
tf AS (
    SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
    FROM toks GROUP BY doc_id, token
),
dl AS (
    SELECT doc_id, CAST(len({_SQL_TOKENS}) AS BIGINT) AS dl FROM documents
),
st AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dl
),
q0 AS (
    SELECT DISTINCT doc_id AS query_id, token FROM toks
    WHERE doc_id IN {_PRF_QUERIES!r}
),
{_bm25_sql("q0", "r1")},
fb AS (
    SELECT query_id, doc_id FROM (
        SELECT query_id, doc_id,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY sq DESC, doc_id ASC
               ) AS rk
        FROM r1
    ) WHERE rk <= {_PRF_FB_K}
),
fbterms AS (
    SELECT f.query_id, t.token,
           CAST(SUM(t.tf) AS BIGINT) AS fb_tf
    FROM fb f JOIN tf t USING (doc_id)
    GROUP BY f.query_id, t.token
),
expdf AS (
    SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf
    WHERE token IN (SELECT DISTINCT token FROM fbterms)
    GROUP BY token
),
exp AS (
    SELECT query_id, token FROM (
        SELECT ft.query_id, ft.token,
               ROW_NUMBER() OVER (
                   PARTITION BY ft.query_id
                   ORDER BY CAST(FLOOR(
                       CAST(ft.fb_tf AS DOUBLE)
                       * LN(CAST(st.n_docs AS DOUBLE) / CAST(e.df AS DOUBLE))
                       * 1000000000000.0 + 0.5) AS BIGINT) DESC,
                   ft.token ASC
               ) AS rk
        FROM fbterms ft
        JOIN expdf e USING (token)
        CROSS JOIN st
        LEFT JOIN q0 ON q0.query_id = ft.query_id AND q0.token = ft.token
        WHERE q0.token IS NULL
    ) WHERE rk <= {_PRF_EXP_T}
),
q1 AS (
    SELECT query_id, token FROM q0
    UNION
    SELECT query_id, token FROM exp
),
{_bm25_sql("q1", "r2")}
SELECT query_id, doc_id,
       CAST(FLOOR(CAST(sq AS DOUBLE) / 1000000.0 + 0.5) AS DOUBLE)
           / 1000000.0 AS score6,
       CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY sq DESC, doc_id ASC
       ) AS INTEGER) AS final_rank
FROM r2 QUALIFY final_rank <= {_PRF_OUT_K}
"""

@q("q_prf_expand", _PRF_ORACLE)
def q_prf_expand(spark, sf_dir):
    """B68: Rocchio pseudo-relevance feedback (public classic): round-1
    BM25 retrieves 5 feedback docs per query; the 3 best non-query
    terms across them (by feedback-tf x idf, exact 1e-12 quantized,
    token-asc ties) expand the query; round-2 BM25 over the expanded
    term set returns the final top-10 — the standard recall-recovery
    loop every lexical search stack ships.

    SERVED from the index artifacts (VERDICT r8 item 6): both BM25
    rounds score through ops/invindex.py:bm25_batch_scores_from_index —
    posting-shard scans with the round's term IN-filter PUSHED, dl from
    the doclen sidecar — and expansion-term df aggregates the shards'
    per-block df column; the corpus text is read ONLY for the query
    docs and the 5 feedback docs per query (doc-id IN pushdown, the
    query-bounded seam every served key shares). The oracle is
    untouched: the shards are a lossless tf encoding and the scoring
    arithmetic is the corpus-scan scorer's to the bit, so served rows
    == scanned rows (the driver proves it every round). Between-round
    state (feedback ids, expansion terms) is queries x 5 / queries x 3
    rows — the driver-held state a search frontend owns."""
    from etl_data_processor_spark.ops.dedup import (
        artifact_location,
        source_signature,
    )
    from etl_data_processor_spark.ops.invindex import (
        BLOCK,
        bm25_batch_scores_from_index,
        doc_length_table,
        inverted_index_shards,
    )

    docs_path = f"{sf_dir}/documents.parquet"
    d = _cat(spark, sf_dir).documents
    qids = list(_PRF_QUERIES)

    # round 0: the query docs' own term sets (doc-id pushdown read)
    qrows = (
        d.filter(F.col("doc_id").isin(qids))
        .select("doc_id", tokenize(F.col("text")).alias("toks"))
        .collect()
    )
    q0 = {int(r["doc_id"]): sorted(set(r["toks"])) for r in qrows}

    r1 = bm25_batch_scores_from_index(spark, docs_path, q0)
    wfb = Window.partitionBy("query_id").orderBy(
        F.desc("sq"), F.asc("doc_id")
    )
    fb_rows = (
        r1.withColumn("rk", F.row_number().over(wfb))
        .filter(F.col("rk") <= _PRF_FB_K)
        .select("query_id", "doc_id")
        .collect()
    )
    fb_ids = sorted({int(r["doc_id"]) for r in fb_rows})
    fb = spark.createDataFrame(
        [(int(r["query_id"]), int(r["doc_id"])) for r in fb_rows],
        "query_id long, doc_id long",
    )
    # feedback docs are query-bounded (queries x 5): their ids push as
    # an IN-filter into the corpus scan — exactly the query-doc seam,
    # never a corpus-wide tokenize
    fbterms = (
        d.filter(F.col("doc_id").isin(fb_ids))
        .select(
            "doc_id", F.explode(tokenize(F.col("text"))).alias("token")
        )
        .join(F.broadcast(fb), "doc_id")
        .groupBy("query_id", "token")
        .agg(F.count(F.lit(1)).alias("fb_tf"))
    )
    # expansion-term df from the shard artifact's per-block df column —
    # a two-column artifact scan, not a corpus tf re-aggregate
    inverted_index_shards(spark, docs_path, BLOCK)
    sig = source_signature(docs_path)
    shards = read_parquet_memo(
        spark, artifact_location(spark, ("invindex", docs_path, BLOCK, sig))
    )
    expdf = (
        shards.select("token", "df")
        .join(F.broadcast(fbterms.select("token").distinct()), "token")
        .groupBy("token")
        .agg(F.sum("df").alias("df"))
    )
    dl = doc_length_table(spark, docs_path, nonempty=True)
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    rocchio_q = F.floor(
        F.col("fb_tf").cast("double")
        * F.log(
            F.col("n_docs").cast("double") / F.col("df").cast("double")
        )
        * F.lit(1e12)
        + F.lit(0.5)
    ).cast("long")
    wexp = Window.partitionBy("query_id").orderBy(
        F.desc("rq"), F.asc("token")
    )
    q0_df = F.broadcast(
        spark.createDataFrame(
            [(qid, t) for qid, ts in q0.items() for t in ts],
            "query_id long, token string",
        )
    )
    exp_rows = (
        fbterms.join(F.broadcast(expdf), "token")
        .crossJoin(F.broadcast(stats))
        .join(
            q0_df.select("query_id", "token", F.lit(1).alias("__orig")),
            ["query_id", "token"],
            "left",
        )
        .filter(F.col("__orig").isNull())
        .select("query_id", "token", rocchio_q.alias("rq"))
        .withColumn("rk", F.row_number().over(wexp))
        .filter(F.col("rk") <= _PRF_EXP_T)
        .select("query_id", "token")
        .collect()
    )
    # the expanded term sets are queries x (|q0| + 3) driver-held
    # strings — the state a search frontend owns between rounds; round
    # 2 pushes them as ONE IN-filter into the shard scan, so round 1
    # runs exactly once by construction (no cache dance needed)
    q1 = {
        qid: sorted(
            set(ts)
            | {r["token"] for r in exp_rows if r["query_id"] == qid}
        )
        for qid, ts in q0.items()
    }
    r2 = bm25_batch_scores_from_index(spark, docs_path, q1)
    wout = Window.partitionBy("query_id").orderBy(
        F.desc("sq"), F.asc("doc_id")
    )
    return (
        r2.withColumn("final_rank", F.row_number().over(wout))
        .filter(F.col("final_rank") <= _PRF_OUT_K)
        .select(
            "query_id", "doc_id",
            (
                F.floor(F.col("sq").cast("double") / F.lit(1e6) + F.lit(0.5))
                .cast("double") / F.lit(1e6)
            ).alias("score6"),
            "final_rank",
        )
    )
