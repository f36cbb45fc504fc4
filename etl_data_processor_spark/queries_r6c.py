"""Round-6 extension batch #3 (B67): data-selection and training-order
operators — the curation decisions BETWEEN cleaning and training.

The through-line is the selection layer of a 100 TB training-data
platform: score every document under a reference-domain language model
and bucket the corpus CCNet-style (q_ccnet_perplexity), select the
target-most documents by DSIR importance weights (q_dsir_select), train
the selection model itself with a distributed full-batch gradient-descent
loop whose every step is one exact corpus aggregate (q_quality_probe_gd),
and emit the deterministic curriculum schedule the trainer consumes
(q_curriculum_interleave).

House rules as ever: deterministic (no RNG / wall clock), DuckDB-oracled
on the same parquet, fixed-point quantization before any cross-engine
float comparison (per-term 1e-12/1e-9 integer sums — ops/exact), and
shaped for 100 TB: corpus-sized work is one explode + hash agg, model
state (LM tables, bucket distributions, probe weights) is vocabulary- or
constant-sized and broadcasts, and no per-row Python anywhere.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from etl_data_processor_spark.ops.relational import ranked_topk
from etl_data_processor_spark.ops.text import (
    char_poly_hash,
    char_poly_hash_sql,
    tokenize,
)
from etl_data_processor_spark.registry import cat as _cat
from etl_data_processor_spark.registry import q

# Shared oracle fragment: whitespace tokens with empties removed (mirrors
# ops.text.tokenize — the ADVICE r5 empty-token lesson).
_SQL_TOKENS = "list_filter(string_split(trim(text), ' '), t -> t <> '')"


# =====================================================================
# Curriculum interleave schedule (B41/B42 ext — the ORDER the trainer
# consumes, after q_corpus_mix decides the RATES)
# =====================================================================

_CURR_ORACLE = f"""
WITH d AS (
    SELECT doc_id, source, n_chars,
           len({_SQL_TOKENS}) AS n_tokens
    FROM documents
),
ranked AS (
    SELECT doc_id, source,
           n_chars * 1000000 // n_tokens AS diff_q,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY n_chars * 1000000 // n_tokens ASC, doc_id ASC
           ) AS INTEGER) AS batch_idx
    FROM d WHERE n_tokens > 0
),
srcdim AS (
    SELECT source,
           CAST(ROW_NUMBER() OVER (ORDER BY source ASC) AS INTEGER)
             AS src_pos
    FROM (SELECT DISTINCT source FROM d)
)
SELECT r.doc_id, r.source, r.batch_idx, s.src_pos, r.diff_q
FROM ranked r JOIN srcdim s USING (source)
"""


@q("q_curriculum_interleave", _CURR_ORACLE)
def q_curriculum_interleave(spark, sf_dir):
    """B67: deterministic curriculum schedule — easy-to-hard ordering
    interleaved round-robin across sources (curriculum-learning +
    source-mixing recipe, public). Difficulty is exact integer
    chars-per-token (floor(n_chars*1e6 / n_tokens)); within each source
    docs rank easy->hard (batch_idx), and the trainer consumes batches
    in (batch_idx, src_pos) order — one doc per source per round, so no
    source floods any training window. Scale shape (VERDICT r7 item 1):
    the per-source rank routes through ops/prefix.chunked_rank with
    series_cols=["source"] — a plain `ROW_NUMBER OVER (PARTITION BY
    source ORDER BY diff_q)` single-tasks each source's whole corpus
    slice (~20 sources at 100 TB = 20 tasks each sorting ~5 TB);
    equi-depth difficulty boundaries give monotone, tie-safe chunks
    within every source (offsets frame <= sources x 33 rows); the plain
    window survives as the DuckDB oracle. The source dimension is a
    tiny broadcast; the schedule key is arithmetic, so the global order
    never materializes on one node. Output: (doc_id, source,
    batch_idx, src_pos, diff_q)."""
    from etl_data_processor_spark.ops.prefix import (
        chunked_rank,
        equidepth_chunk,
    )

    d = _cat(spark, sf_dir).documents
    nt = F.size(tokenize(F.col("text")))
    base = d.select("doc_id", "source", "n_chars", nt.alias("n_tokens"))
    diff_q = F.expr("n_chars * 1000000 div n_tokens")
    scored = base.filter(F.col("n_tokens") > 0).select(
        "doc_id", "source", diff_q.alias("diff_q")
    )
    sb, chunk = equidepth_chunk(scored, "diff_q")
    ranked = chunked_rank(
        sb,
        [F.asc("diff_q"), F.asc("doc_id")],
        chunk,
        rank_col="batch_idx",
        series_cols=["source"],
    ).select(
        "doc_id", "source", "diff_q",
        F.col("batch_idx").cast("int").alias("batch_idx"),
    )
    srcdim = (
        base.select("source")
        .distinct()
        .withColumn(
            "src_pos",
            F.row_number().over(
                Window.partitionBy().orderBy(F.asc("source"))
            ),
        )
    )
    return ranked.join(F.broadcast(srcdim), "source").select(
        "doc_id", "source", "batch_idx", "src_pos", "diff_q"
    )


# =====================================================================
# DSIR importance-weight selection (B22/B41 ext — Xie et al. 2023,
# "Data Selection for Language Models via Importance Resampling")
# =====================================================================

_DSIR_REF = "src0"   # the target domain
_DSIR_BUCKETS = 64   # hashed-feature dimensionality
_DSIR_TOP_K = 200    # selection budget (docs)

_DSIR_HASH = char_poly_hash_sql("token")

_DSIR_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, source, unnest({_SQL_TOKENS}) AS token
    FROM documents
),
vocab AS (
    SELECT token,
           ({_DSIR_HASH}) % {_DSIR_BUCKETS} AS bucket
    FROM (SELECT DISTINCT token FROM toks)
),
bt AS (
    SELECT t.doc_id, t.source, v.bucket
    FROM toks t JOIN vocab v USING (token)
),
tgt AS (
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS c
    FROM bt WHERE source = '{_DSIR_REF}' GROUP BY bucket
),
raw AS (
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS c
    FROM bt WHERE source <> '{_DSIR_REF}' GROUP BY bucket
),
tot AS (
    SELECT (SELECT SUM(c) FROM tgt) AS nt, (SELECT SUM(c) FROM raw) AS nr
),
lr AS (
    SELECT g.i AS bucket,
           CAST(FLOOR(
               LN(((COALESCE(t.c, 0) + 1.0) / (tot.nt + {_DSIR_BUCKETS}.0))
                  / ((COALESCE(r.c, 0) + 1.0) / (tot.nr + {_DSIR_BUCKETS}.0)))
               * 1000000000000.0 + 0.5) AS BIGINT) AS lr_q
    FROM range(0, {_DSIR_BUCKETS}) g(i)
    LEFT JOIN tgt t ON t.bucket = g.i
    LEFT JOIN raw r ON r.bucket = g.i
    CROSS JOIN tot
),
scored AS (
    SELECT b.doc_id, b.source,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(lr.lr_q) AS BIGINT) AS lw_q
    FROM bt b JOIN lr ON b.bucket = lr.bucket
    WHERE b.source <> '{_DSIR_REF}'
    GROUP BY b.doc_id, b.source
)
SELECT doc_id, source, n_tokens,
       CAST(FLOOR(CAST(lw_q AS DOUBLE) / 1000000.0 + 0.5) AS DOUBLE)
           / 1000000.0 AS lw6,
       CAST(ROW_NUMBER() OVER (ORDER BY lw_q DESC, doc_id ASC) AS INTEGER)
         AS sel_rank
FROM scored
QUALIFY sel_rank <= {_DSIR_TOP_K}
"""


@q("q_dsir_select", _DSIR_ORACLE)
def q_dsir_select(spark, sf_dir):
    """B67: DSIR data selection (Xie et al. 2023, public): every
    non-target document scores an importance log-weight
    sum_tokens ln(p_target(bucket)/p_raw(bucket)) under two
    Laplace-smoothed hashed-unigram LMs (64 buckets, portable
    char-polynomial hash), and the top-200 by weight are selected —
    the "sample the raw corpus toward the target domain" step between
    dedup and training. Determinism: per-token log-ratio terms quantize
    to 1e-12 integers per bucket (the per-doc sum is then an exact
    integer — ops/exact), ranking ties break on doc_id. Scale shape:
    the token->bucket map is VOCABULARY-sized (char fold runs once per
    distinct token) and broadcasts; the two LMs come from ONE
    bucket-keyed conditional aggregate (64 rows, r10 — the earlier
    tgt/raw/totals branches re-ran the corpus explode); top-k is
    TakeOrderedAndProject (per-partition heaps + a k-row merge — never a
    single-partition window over the scored corpus), with sel_rank
    recovered on the <=k-row result by a broadcast self-join count. At
    the paper's scale the same plan selects from 100 TB with a raised
    k."""
    d = _cat(spark, sf_dir).documents
    toks = d.select(
        "doc_id",
        "source",
        F.explode(tokenize(F.col("text"))).alias("token"),
    )
    # The vocab broadcast-join stays (r10 note): hashing INLINE per
    # occurrence was tried and REJECTED — char_poly_hash is an
    # interpreted higher-order fold, so paying it per occurrence costs
    # more CPU than the vocabulary distinct + broadcast probe it
    # removes (its own docstring warns against hot-path use).
    vocab = (
        toks.select("token")
        .distinct()
        .select(
            "token",
            F.pmod(char_poly_hash(F.col("token")), F.lit(_DSIR_BUCKETS))
            .alias("bucket"),
        )
    )
    bt = toks.join(F.broadcast(vocab), "token").select(
        "doc_id", "source", "bucket"
    )
    # Both LMs from ONE bucket-keyed conditional aggregate (r10): the
    # earlier tgt/raw branches each re-ran the explode + vocab probe,
    # and the totals aggregate re-derived both again; this computes the
    # 64-row table once (map side collapses each partition to <= 64
    # rows before the exchange) and reads nt/nr off it.
    bc = bt.groupBy("bucket").agg(
        F.sum(F.when(F.col("source") == _DSIR_REF, 1).otherwise(0))
        .alias("ct"),
        F.sum(F.when(F.col("source") != _DSIR_REF, 1).otherwise(0))
        .alias("cr"),
    )
    tot = bc.agg(F.sum("ct").alias("nt"), F.sum("cr").alias("nr"))
    grid = spark.range(_DSIR_BUCKETS).select(
        F.col("id").cast("long").alias("bucket")
    )
    ratio = (
        (F.coalesce(F.col("ct"), F.lit(0)) + F.lit(1.0))
        / (F.col("nt") + F.lit(float(_DSIR_BUCKETS)))
    ) / (
        (F.coalesce(F.col("cr"), F.lit(0)) + F.lit(1.0))
        / (F.col("nr") + F.lit(float(_DSIR_BUCKETS)))
    )
    lr = (
        grid.join(bc, "bucket", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            F.floor(F.log(ratio) * F.lit(1e12) + F.lit(0.5))
            .cast("long")
            .alias("lr_q"),
        )
    )
    scored = (
        bt.filter(F.col("source") != _DSIR_REF)
        .join(F.broadcast(lr), "bucket")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("lr_q").alias("lw_q"),
        )
    )
    # top-k: TakeOrderedAndProject (per-partition heaps + a k-row merge),
    # NOT an unpartitioned row_number window — that plans Exchange
    # SinglePartition + a one-task sort of every scored doc, corpus-sized
    # at 100 TB (VERDICT r6 #1). Rank is recovered on the <=k-row result.
    sel = ranked_topk(
        scored,
        [("lw_q", "desc"), ("doc_id", "asc")],
        _DSIR_TOP_K,
        rank_col="sel_rank",
    )
    return sel.select(
        "doc_id", "source", "n_tokens",
        (
            F.floor(F.col("lw_q").cast("double") / F.lit(1e6) + F.lit(0.5))
            .cast("double") / F.lit(1e6)
        ).alias("lw6"),
        "sel_rank",
    )


# =====================================================================
# CCNet-style reference-LM perplexity bucketing (B31/B43 ext — the
# REFERENCE-trained, smoothed counterpart of q_text_lm_score's
# self-trained LM; Wenzek et al. 2020's head/middle/tail split)
# =====================================================================

_PPL_REF = "src0"

_PPL_ORACLE = f"""
WITH tok AS (
    SELECT doc_id, source, {_SQL_TOKENS} AS w FROM documents
),
refbg AS (
    SELECT w[i] || ' ' || w[i + 1] AS bg
    FROM tok, range(1, 4097) t(i)
    WHERE source = '{_PPL_REF}' AND i + 1 <= len(w)
),
lm AS (
    SELECT bg, CAST(COUNT(*) AS BIGINT) AS c12 FROM refbg GROUP BY bg
),
heads AS (
    SELECT string_split(bg, ' ')[1] AS w1, CAST(SUM(c12) AS BIGINT) AS c1
    FROM lm GROUP BY w1
),
vsz AS (
    SELECT CAST(COUNT(DISTINCT t.token) AS BIGINT) AS v FROM (
        SELECT unnest(w) AS token FROM tok WHERE source = '{_PPL_REF}'
    ) t
),
docbg AS (
    SELECT doc_id, source, w[i] AS w1, w[i] || ' ' || w[i + 1] AS bg
    FROM tok, range(1, 4097) t(i)
    WHERE source <> '{_PPL_REF}' AND i + 1 <= len(w)
),
terms AS (
    SELECT d.doc_id, d.source,
           CAST(FLOOR(-LN((COALESCE(lm.c12, 0) + 1.0)
                          / (COALESCE(h.c1, 0) + vsz.v))
                      * 1000000000000.0 + 0.5) AS BIGINT) AS nll_q
    FROM docbg d
    LEFT JOIN lm ON d.bg = lm.bg
    LEFT JOIN heads h ON d.w1 = h.w1
    CROSS JOIN vsz
),
scored AS (
    SELECT doc_id, source,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           SUM(nll_q) // COUNT(*) AS avg_q
    FROM terms GROUP BY doc_id, source
),
cuts AS (
    SELECT quantile_cont(avg_q, 0.33) AS p33,
           quantile_cont(avg_q, 0.66) AS p66
    FROM scored
)
SELECT s.doc_id, s.source, s.n_bigrams,
       CAST(FLOOR(CAST(s.avg_q AS DOUBLE) / 1000000.0 + 0.5) AS DOUBLE)
           / 1000000.0 AS nll6,
       CASE WHEN CAST(s.avg_q AS DOUBLE) <= c.p33 THEN 'head'
            WHEN CAST(s.avg_q AS DOUBLE) <= c.p66 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM scored s CROSS JOIN cuts c
"""


@q("q_ccnet_perplexity", _PPL_ORACLE)
def q_ccnet_perplexity(spark, sf_dir):
    """B67: CCNet-style perplexity bucketing (Wenzek et al. 2020,
    public): an add-one-smoothed bigram LM is trained on the REFERENCE
    source only, every other document scores its exact average negative
    log-likelihood -ln((c12+1)/(c1+V)) under it, and the corpus splits
    head/middle/tail at the 33rd/66th percentiles — the quality gate
    CCNet runs with KenLM. Differs from q_text_lm_score (self-trained,
    unsmoothed): the reference-trained + smoothed form handles OOV
    (unseen bigram -> (0+1)/(c1+V); unseen head -> uniform 1/V), which
    is the actual filtering use case. Determinism: per-bigram NLL terms
    quantize to 1e-12 integers before the per-doc sum; the per-doc
    average is integer division; both engines interpolate the same
    percentile on identical bigints. Scale shape: the LM (c12, heads, V)
    is reference-vocabulary-sized and broadcasts onto the corpus bigram
    stream; corpus work is one explode + one per-doc aggregate; the
    global percentile is one pass over the per-doc score table (swap in
    percentile_approx at 100 TB — q_percentile_exact's documented
    trade-off)."""
    d = _cat(spark, sf_dir).documents
    w = tokenize(F.col("text"))
    n = F.size(w)
    bigrams = F.zip_with(
        F.slice(w, 1, n - 1),
        F.slice(w, 2, n - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    ref = d.filter(F.col("source") == _PPL_REF)
    lm = (
        ref.select(F.explode(bigrams).alias("bg"))
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    heads = lm.groupBy(
        F.split("bg", " ").getItem(0).alias("w1")
    ).agg(F.sum("c12").alias("c1"))
    vsz = ref.select(F.explode(w).alias("token")).agg(
        F.countDistinct("token").alias("v")
    )
    docbg = d.filter(F.col("source") != _PPL_REF).select(
        "doc_id", "source", F.explode(bigrams).alias("bg")
    ).withColumn("w1", F.split("bg", " ").getItem(0))
    nll_q = F.floor(
        -F.log(
            (F.coalesce(F.col("c12"), F.lit(0)) + F.lit(1.0))
            / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("v"))
        )
        * F.lit(1e12)
        + F.lit(0.5)
    ).cast("long")
    scored = (
        docbg.join(F.broadcast(lm), "bg", "left")
        .join(F.broadcast(heads), "w1", "left")
        .crossJoin(F.broadcast(vsz))
        .select("doc_id", "source", nll_q.alias("nll_q"))
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.expr("sum(nll_q) div count(1)").alias("avg_q"),
        )
    )
    cuts = scored.agg(
        F.percentile("avg_q", F.lit(0.33)).alias("p33"),
        F.percentile("avg_q", F.lit(0.66)).alias("p66"),
    )
    a = F.col("avg_q").cast("double")
    return scored.crossJoin(F.broadcast(cuts)).select(
        "doc_id", "source", "n_bigrams",
        (
            F.floor(a / F.lit(1e6) + F.lit(0.5)).cast("double") / F.lit(1e6)
        ).alias("nll6"),
        F.when(a <= F.col("p33"), "head")
        .when(a <= F.col("p66"), "middle")
        .otherwise("tail")
        .alias("bucket"),
    )


# =====================================================================
# Distributed full-batch GD training of a linear quality probe (B35/B52
# ext — the ITERATIVE-ML-on-Spark capability: every step is one exact
# corpus aggregate; the model is driver-held bounded state)
# =====================================================================

_GD_REF = "src0"
_GD_STEPS = 3
_GD_LR = 0.5

# Feature block shared by both engines: exact per-row doubles derived
# from integers (IEEE division by constants is deterministic), so the
# only cross-engine risk is summation order — removed by the per-row
# 1e-9 fixed-point quantization + integer sums below.
_GD_F_SQL = f"""
    SELECT CAST(n_chars AS DOUBLE) / 500.0 AS x1,
           CAST(len(w) AS DOUBLE) / 100.0 AS x2,
           CAST(len(list_distinct(w)) AS DOUBLE)
               / CAST(len(w) AS DOUBLE) AS x3,
           CASE WHEN source = '{_GD_REF}' THEN 1.0 ELSE 0.0 END AS y
    FROM (SELECT source, n_chars, {_SQL_TOKENS} AS w FROM documents)
    WHERE len(w) > 0
"""


def _gd_step_sql(step: int, w_from: str) -> str:
    """One unrolled GD step: integer gradient sums under weights taken
    from CTE ``w_from`` (columns w0..w3), then the weight update. The
    arithmetic mirrors the Spark/driver side token for token."""
    pred = f"({w_from}.w0 + {w_from}.w1 * x1 + {w_from}.w2 * x2 + {w_from}.w3 * x3)"
    r = f"({pred} - y)"
    gq = "CAST(SUM(CAST(FLOOR({t} * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT)"
    return f"""
g{step} AS (
    SELECT {gq.format(t=r)} AS g0,
           {gq.format(t=f"(x1 * {r})")} AS g1,
           {gq.format(t=f"(x2 * {r})")} AS g2,
           {gq.format(t=f"(x3 * {r})")} AS g3,
           {gq.format(t=f"({r} * {r})")} AS mse_q
    FROM f, {w_from}
),
w{step} AS (
    SELECT
      {w_from}.w0 - {_GD_LR} * ((CAST(g0 AS DOUBLE) / 1000000000.0) / CAST(c.n AS DOUBLE)) AS w0,
      {w_from}.w1 - {_GD_LR} * ((CAST(g1 AS DOUBLE) / 1000000000.0) / CAST(c.n AS DOUBLE)) AS w1,
      {w_from}.w2 - {_GD_LR} * ((CAST(g2 AS DOUBLE) / 1000000000.0) / CAST(c.n AS DOUBLE)) AS w2,
      {w_from}.w3 - {_GD_LR} * ((CAST(g3 AS DOUBLE) / 1000000000.0) / CAST(c.n AS DOUBLE)) AS w3,
      g{step}.mse_q AS mse_q
    FROM g{step}, {w_from}, c
)"""


def _gd_out_sql(step: int) -> str:
    q6 = "CAST(FLOOR({x} * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0"
    return f"""
    SELECT CAST({step} AS INTEGER) AS step,
           {q6.format(x="w0")} AS w0_6, {q6.format(x="w1")} AS w1_6,
           {q6.format(x="w2")} AS w2_6, {q6.format(x="w3")} AS w3_6,
           CAST(FLOOR(CAST(mse_q AS DOUBLE) / 1000.0 / CAST(c.n AS DOUBLE)
                      + 0.5) AS DOUBLE) / 1000000.0 AS mse6
    FROM w{step}, c
"""


_GD_ORACLE = (
    f"WITH f AS ({_GD_F_SQL}),\n"
    "c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM f),\n"
    "w0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3),"
    + _gd_step_sql(1, "w0") + ","
    + _gd_step_sql(2, "w1") + ","
    + _gd_step_sql(3, "w2")
    + _gd_out_sql(1) + "UNION ALL" + _gd_out_sql(2)
    + "UNION ALL" + _gd_out_sql(3)
)


@q("q_quality_probe_gd", _GD_ORACLE)
def q_quality_probe_gd(spark, sf_dir):
    """B67: iterative ML training as a first-class engine op — a linear
    quality probe (predict reference-source membership from surface
    features) trained by 3 full-batch gradient-descent steps. Each step
    is ONE corpus aggregate: per-row gradient terms x_j*(pred-y)
    quantize to 1e-9 integers and sum exactly (order-independent —
    ops/exact), the driver holds the 4-float model (bounded state, the
    house .collect() rule) and embeds it as literals for the next step.
    The DuckDB oracle replays the identical unrolled arithmetic in CTEs,
    so the green differential proves every gradient BIT-exactly — the
    capability that makes distributed training loops (logreg probes,
    calibration fits) trustworthy on this engine. Scale: 3 narrow
    corpus scans (features are scan expressions; no shuffle at all —
    gradient partial-aggregates combine associatively), model state is
    4 doubles. Output: per-step weights (6dp) + training MSE."""
    out, _ws, _n = _gd_train(_gd_feats(_cat(spark, sf_dir).documents))
    return spark.createDataFrame(
        out,
        "step int, w0_6 double, w1_6 double, w2_6 double, w3_6 double, "
        "mse6 double",
    )


def _gd_feats(d):
    """The probe's feature block: exact per-row doubles from integers
    (mirrors _GD_F_SQL token for token)."""
    w = tokenize(F.col("text"))
    return d.select(
        (F.col("n_chars").cast("double") / F.lit(500.0)).alias("x1"),
        (F.size(w).cast("double") / F.lit(100.0)).alias("x2"),
        (
            F.size(F.array_distinct(w)).cast("double")
            / F.size(w).cast("double")
        ).alias("x3"),
        F.when(F.col("source") == _GD_REF, 1.0).otherwise(0.0).alias("y"),
    ).filter(F.size(w) > 0)


def _gd_train(feats):
    """The 3-step full-batch GD loop (bounded driver state); returns
    (per-step report rows, final weights, n) — shared by
    q_quality_probe_gd and q_probe_calibration (queries_r6h)."""
    import math

    def q9(t):
        return F.floor(t * F.lit(1e9) + F.lit(0.5)).cast("long")

    # Cache the feature frame across the GD steps (r10, guide §5): it is
    # 4 doubles + label per doc, but each step's aggregate otherwise
    # re-tokenizes the corpus (x2/x3 are token-array expressions) — 3
    # full text passes for 3 steps. All step sums are exact integers
    # (q9-quantized longs + counts), so the cached row order cannot
    # change any result. Unpersisted before return — no storage leak.
    feats = feats.cache()
    ws = [0.0, 0.0, 0.0, 0.0]
    n = None
    out = []
    for step in range(1, _GD_STEPS + 1):
        pred = (
            F.lit(ws[0])
            + F.lit(ws[1]) * F.col("x1")
            + F.lit(ws[2]) * F.col("x2")
            + F.lit(ws[3]) * F.col("x3")
        )
        r = pred - F.col("y")
        row = feats.agg(
            F.sum(q9(r)).alias("g0"),
            F.sum(q9(F.col("x1") * r)).alias("g1"),
            F.sum(q9(F.col("x2") * r)).alias("g2"),
            F.sum(q9(F.col("x3") * r)).alias("g3"),
            F.sum(q9(r * r)).alias("mse_q"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        n = row["n"]
        gq = [row["g0"], row["g1"], row["g2"], row["g3"]]
        ws = [
            ws[j] - _GD_LR * ((gq[j] / 1e9) / n) for j in range(4)
        ]
        out.append(
            (
                step,
                *(math.floor(wj * 1e6 + 0.5) / 1e6 for wj in ws),
                math.floor(row["mse_q"] / 1000.0 / n + 0.5) / 1e6,
            )
        )
    feats.unpersist()
    return out, ws, n
