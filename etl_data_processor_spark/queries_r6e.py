"""Round-6 extension batch #5 (B69): collocation statistics and
distributed iterative linear algebra over the embedding table.

q_collocations_pmi is the classic corpus-linguistics association
statistic (Church & Hanks 1990) the n-gram LM family was missing;
q_power_iteration is the linear-algebra sibling of q_quality_probe_gd's
GD loop — the top principal direction of the embedding matrix by two
power-method steps, every step one exact corpus aggregate, bit-exactly
replayed by the DuckDB oracle (the "all-but-the-top" embedding
post-processing recipe needs exactly this vector).

House rules: deterministic, DuckDB-oracled, per-term fixed-point
integer sums before any cross-engine float comparison, broadcast
model state, no per-row Python.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_data_processor_spark.ops import similarity as SIM
from etl_data_processor_spark.registry import cat as _cat
from etl_data_processor_spark.registry import q

_SQL_TOKENS = "list_filter(string_split(trim(text), ' '), t -> t <> '')"


# =====================================================================
# PMI collocations (B31 ext — Church & Hanks 1990 association strength;
# the statistic next to q_text_ngram_lm's conditional probability)
# =====================================================================

_PMI_MIN_C = 5    # minimum bigram count (PMI is unstable below)
_PMI_TOP = 20     # report depth

_PMI_ORACLE = f"""
WITH tok AS (
    SELECT {_SQL_TOKENS} AS w FROM documents
),
bg AS (
    SELECT w[i] AS a, w[i + 1] AS b, CAST(COUNT(*) AS BIGINT) AS c
    FROM tok, range(1, 4097) t(i)
    WHERE i + 1 <= len(w)
    GROUP BY a, b
),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM bg),
ua AS (SELECT a AS t, CAST(SUM(c) AS BIGINT) AS ca FROM bg GROUP BY a),
ub AS (SELECT b AS t, CAST(SUM(c) AS BIGINT) AS cb FROM bg GROUP BY b)
SELECT a, b, c,
       CAST(FLOOR(LN(CAST(c AS DOUBLE) * CAST(tot.n AS DOUBLE)
                     / (CAST(ua.ca AS DOUBLE) * CAST(ub.cb AS DOUBLE)))
                  * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0 AS pmi6,
       CAST(ROW_NUMBER() OVER (
           ORDER BY CAST(FLOOR(LN(CAST(c AS DOUBLE) * CAST(tot.n AS DOUBLE)
                     / (CAST(ua.ca AS DOUBLE) * CAST(ub.cb AS DOUBLE)))
                  * 1000000000000.0 + 0.5) AS BIGINT) DESC, a ASC, b ASC
       ) AS INTEGER) AS rank
FROM bg JOIN ua ON bg.a = ua.t JOIN ub ON bg.b = ub.t CROSS JOIN tot
WHERE c >= {_PMI_MIN_C}
QUALIFY rank <= {_PMI_TOP}
"""


@q("q_collocations_pmi", _PMI_ORACLE)
def q_collocations_pmi(spark, sf_dir):
    """B69: pointwise-mutual-information collocations (Church & Hanks
    1990, public) — the top-20 adjacent word pairs by
    ln(P(a,b) / (P(a)P(b))) with a min-count-5 stability gate, marginals
    taken over bigram STARTS/ENDS so the contingency table is exact.
    This is the association statistic (collocation finder) next to
    q_text_ngram_lm's conditional probability and q_text_bigrams' raw
    counts. Determinism: PMI ranks on the 1e-12-quantized statistic with
    (a, b) tiebreaks; the reported value is 1e-6-quantized from the same
    exact integer ratios. Scale: one corpus bigram explode into a
    vocabulary-sized aggregate; marginals re-aggregate the BIGRAM table
    (never the corpus); top-k is vocabulary-sized."""
    from etl_data_processor_spark.ops.dedup import _parallelize
    from etl_data_processor_spark.ops.text import doc_grams_arrow

    # width guard: the bigram pass is the CPU-heavy stage and a
    # small single-file scan arrives as one partition (stress: 3.6 s
    # max task at sf1); a no-op on wide scans at 100 TB
    d = _parallelize(_cat(spark, sf_dir).documents.select("text"))
    # r11 (guide §4.2): bigram construction via the keyless Arrow gram
    # pass (batch-aggregated "a b" occurrence counts — tokens contain no
    # whitespace, so substring_index splits the pair back exactly); the
    # zip_with struct explode + string-pair hash agg it replaces was
    # this key's dominant stage (6.4 executor-cpu-s at sf0.1).
    # The bigram table is vocabulary-sized and feeds FOUR consumers
    # (totals, both marginals, the scored join): cache it so the corpus
    # pass runs exactly once (plan-pinned). AQE sizes the cached width
    # from the table (the session lets it coalesce cached plans): a few
    # partitions at test scale, the agg's full width at 100 TB, where
    # the bigram table's growth is unbounded
    bg = (
        doc_grams_arrow(d, (2,), None, shape="batch_counts")
        .groupBy("g")
        .agg(F.sum("c").alias("c"))
        .select(
            F.substring_index(F.col("g"), " ", 1).alias("a"),
            F.substring_index(F.col("g"), " ", -1).alias("b"),
            "c",
        )
        .cache()
    )
    tot = bg.agg(F.sum("c").alias("n"))
    ua = bg.groupBy(F.col("a").alias("t")).agg(F.sum("c").alias("ca"))
    ub = bg.groupBy(F.col("b").alias("t")).agg(F.sum("c").alias("cb"))
    pmi = F.log(
        F.col("c").cast("double") * F.col("n").cast("double")
        / (F.col("ca").cast("double") * F.col("cb").cast("double"))
    )
    pmi_q = F.floor(pmi * F.lit(1e12) + F.lit(0.5)).cast("long")
    from etl_data_processor_spark.ops.relational import ranked_topk

    scored = (
        bg.filter(F.col("c") >= _PMI_MIN_C)
        .join(F.broadcast(ua), F.col("a") == F.col("t"))
        .drop("t")
        .join(F.broadcast(ub), F.col("b") == F.col("t"))
        .drop("t")
        .crossJoin(F.broadcast(tot))
        .select(
            "a", "b", "c",
            SIM.stable_round6(pmi).alias("pmi6"),
            pmi_q.alias("pmi_q"),
        )
    )
    # top-k: TakeOrderedAndProject over the (unbounded-growth) bigram
    # table, never a single-partition row_number window (VERDICT r6 #1);
    # rank recovered on the <=k rows by a broadcast self-join count
    return ranked_topk(
        scored,
        [("pmi_q", "desc"), ("a", "asc"), ("b", "asc")],
        _PMI_TOP,
        rank_col="rank",
    ).drop("pmi_q")


# =====================================================================
# Distributed power iteration: top principal direction of the embedding
# matrix (B32/B35 ext — the linear-algebra sibling of q_quality_probe_gd;
# the vector the "all-but-the-top" embedding post-process removes)
# =====================================================================

_PI_DIM = 64
_PI_STEPS = 2

# CTE prefix shared with q_emb_debias_abtt (queries_r6g): two unrolled
# power steps ending at (g2, n2) — the un-normalized direction and its
# integer-exact norm.
_PI_CTES = f"""e AS (SELECT vec_id, embedding FROM embeddings),
s1 AS (
    SELECT vec_id, embedding,
           list_reduce([x::DOUBLE for x in embedding], (a, b) -> a + b) AS s
    FROM e
),
g1 AS (
    SELECT r.d,
           CAST(SUM(CAST(FLOOR(embedding[r.d]::DOUBLE * s
                                * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT)
             AS gq
    FROM s1, range(1, {_PI_DIM} + 1) r(d) GROUP BY r.d
),
n1 AS (
    SELECT SQRT(CAST(SUM(CAST(gq AS HUGEINT) * CAST(gq AS HUGEINT))
                     AS DOUBLE)) AS nrm
    FROM g1
),
v1 AS (SELECT d, CAST(gq AS DOUBLE) / n1.nrm AS v FROM g1, n1),
v1l AS (SELECT list(v ORDER BY d) AS vl FROM v1),
s2 AS (
    SELECT vec_id, embedding,
           list_reduce([embedding[i]::DOUBLE * vl[i]
                        for i in range(1, {_PI_DIM} + 1)],
                       (a, b) -> a + b) AS s
    FROM e, v1l
),
g2 AS (
    SELECT r.d,
           CAST(SUM(CAST(FLOOR(embedding[r.d]::DOUBLE * s
                                * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT)
             AS gq
    FROM s2, range(1, {_PI_DIM} + 1) r(d) GROUP BY r.d
),
n2 AS (
    SELECT SQRT(CAST(SUM(CAST(gq AS HUGEINT) * CAST(gq AS HUGEINT))
                     AS DOUBLE)) AS nrm
    FROM g2
)"""

_PI_ORACLE = f"""
WITH {_PI_CTES}
SELECT CAST(g2.d AS INTEGER) AS dim,
       CAST(FLOOR(CAST(g2.gq AS DOUBLE) / n2.nrm * 1000000.0 + 0.5)
            AS DOUBLE) / 1000000.0 AS loading6
FROM g2, n2
"""


@q("q_power_iteration", _PI_ORACLE)
def q_power_iteration(spark, sf_dir):
    """B69: distributed power iteration — two power-method steps
    v <- normalize(X^T (X v)) from an all-ones start, yielding the top
    principal direction of the embedding matrix (the vector the
    "all-but-the-top" post-processing recipe, Mu & Viswanath 2018,
    projects out; also the first step of PCA whitening). Every step is
    ONE corpus pass: the per-row projection x_i.v folds in index order
    (IEEE-identical on both engines), per-dimension contributions
    x_id*s_i quantize to 1e-9 integers and hash-aggregate by dimension
    (order-free integer sums — ops/exact), and the 64-long gradient
    vector is bounded driver state; normalization divides by
    sqrt(sum gq^2) computed in exact integers (HUGEINT on the oracle,
    Python bigint on the driver) so both engines round the SAME integer
    to double. The DuckDB oracle replays the identical unrolled
    arithmetic — the green differential proves distributed matrix-vector
    products bit-exactly, the capability PCA/whitening/spectral methods
    need. Scale: 2 narrow corpus scans (no shuffle — per-dim partial
    aggregates combine), model state is 64 doubles."""
    gq, nrm = _power_gq(_cat(spark, sf_dir).embeddings)
    import math

    out = [
        (d, math.floor(float(gq[d]) / nrm * 1e6 + 0.5) / 1e6)
        for d in range(1, _PI_DIM + 1)
    ]
    return spark.createDataFrame(out, "dim int, loading6 double")


def _power_gq(emb):
    """Two power steps over an embeddings frame; returns the final
    un-normalized direction (per-dim 1e-9-quantized integer sums) and
    its exact-integer norm — the bounded model state q_power_iteration
    reports and q_emb_debias_abtt projects out."""
    import math

    xd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = emb.select(xd.alias("xd"))

    v = [1.0] * _PI_DIM
    gq = None
    for _ in range(_PI_STEPS):
        vlit = F.array(*[F.lit(float(x)) for x in v])
        s = F.aggregate(
            F.zip_with(F.col("xd"), vlit, lambda x, vv: x * vv),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        rows = (
            base.select(s.alias("s"), "xd")
            .select(
                F.explode(F.sequence(F.lit(1), F.lit(_PI_DIM))).alias("d"),
                F.floor(
                    F.element_at(F.col("xd"), F.col("d")) * F.col("s")
                    * F.lit(1e9) + F.lit(0.5)
                ).cast("long").alias("t"),
            )
            .groupBy("d")
            .agg(F.sum("t").alias("gq"))
            .collect()
        )
        gq = {r["d"]: r["gq"] for r in rows}
        nsq = sum(g * g for g in gq.values())  # exact Python bigint
        nrm = math.sqrt(float(nsq))
        v = [float(gq[d]) / nrm for d in range(1, _PI_DIM + 1)]

    return gq, nrm
