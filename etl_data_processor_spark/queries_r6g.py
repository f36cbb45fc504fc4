"""Round-6 extension batch #7 (B71): corpus-growth novelty accounting
and spectral embedding debias — composition layers over the dedup and
power-iteration machinery.

House rules: deterministic, DuckDB-oracled, fixed-point integer sums,
broadcast model state, no per-row Python.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_data_processor_spark.ops import similarity as SIM
from etl_data_processor_spark.ops import text as T
from etl_data_processor_spark.registry import cat as _cat
from etl_data_processor_spark.registry import q

_SQL_TOKENS = "list_filter(string_split(trim(text), ' '), t -> t <> '')"


# =====================================================================
# N-gram novelty curve (B22/B53 ext — the MARGINAL-value view of dedup:
# how much genuinely new text each document adds, in ingest order)
# =====================================================================

_NOV_N = 3  # n-gram order


_NOV_ORACLE = f"""
WITH d AS (
    SELECT doc_id, {_SQL_TOKENS} AS w FROM documents
),
grams AS (
    SELECT doc_id,
           list_aggregate(w[i:i+{_NOV_N}-1], 'string_agg', ' ') AS g
    FROM d, range(1, 4097) t(i)
    WHERE i + {_NOV_N} - 1 <= len(w)
    GROUP BY doc_id, g
),
firstseen AS (
    SELECT g, CAST(MIN(doc_id) AS BIGINT) AS first_doc FROM grams GROUP BY g
),
per_doc AS (
    SELECT gr.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(COUNT(*) FILTER (WHERE fs.first_doc = gr.doc_id) AS BIGINT)
             AS n_novel
    FROM grams gr JOIN firstseen fs USING (g)
    GROUP BY gr.doc_id
)
SELECT doc_id, n_grams, n_novel,
       CAST(FLOOR(CAST(n_novel AS DOUBLE) / CAST(n_grams AS DOUBLE)
                  * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0 AS novelty6
FROM per_doc
"""


@q("q_ngram_novelty", _NOV_ORACLE)
def q_ngram_novelty(spark, sf_dir):
    """B71: corpus-growth novelty accounting — for every document (in
    doc_id ingest order), the fraction of its DISTINCT word trigrams
    never seen in any EARLIER document. This is the marginal-value view
    of dedup: a crawl whose novelty curve collapses toward 0 has stopped
    adding information (the dashboard statistic next to
    q_dedup_*'s removal decisions, and the exact form of the
    "dedupe saturates" curves in the public dedup papers). Semantics via
    first-occurrence: a gram is novel IN the doc that carries its
    minimum doc_id — computed with one hash aggregate, NO ordered scan
    or window, so ingest-order semantics cost nothing at 100 TB. Plan
    (r10): one gram explode (distinct per doc) -> min-agg per gram ->
    the novel count per doc READ OFF the min-agg itself (group the
    gram->first_doc table by first_doc), left-joined to the per-doc
    gram counts — doc-keyed tables only; the former gram-keyed
    self-join re-shuffled the distinct gram stream twice more.

    r11 (guide §4.2 + §2.4): the JVM higher-order gram construction
    (interpreted per gram) moved into Arrow passes, and the per-doc
    dedup moved INSIDE the pass (each input row is one document —
    doc_id is unique at all SFs — so per-row set-dedup IS the old
    ``.distinct()``), deleting the (doc_id, g) distinct exchange
    entirely. The per-doc gram totals come from a second, counts-only
    pass over the (cheap, pruned) scan rather than re-shuffling the
    gram stream a second time: two text scans in exchange for one
    full gram-stream exchange — at 100 TB grams outweigh the raw text
    ~3x, so the trade wins by construction and measured ~2x in CPU
    here. Only exact strings/integers cross the boundary; min-agg,
    join, and the one division stay in the JVM."""
    from etl_data_processor_spark.ops.dedup import _parallelize

    d = _parallelize(
        _cat(spark, sf_dir).documents.select("doc_id", "text")
    )
    grams = T.doc_grams_arrow(
        d, (_NOV_N,), "doc_id", "long", shape="doc_distinct"
    )
    # n_novel(doc) == |{grams whose min doc_id is doc}| read off the
    # firstseen table (r10). Exact: both counts are the same integers,
    # docs whose grams were all seen earlier get 0 via the left join.
    firstseen = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    novel = firstseen.groupBy(F.col("first_doc").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_novel")
    )
    per_doc = (
        T.doc_grams_arrow(
            d, (_NOV_N,), "doc_id", "long", shape="doc_counts"
        )
        .join(novel, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce(F.col("n_novel"), F.lit(0).cast("long")).alias(
                "n_novel"
            ),
        )
    )
    frac = F.col("n_novel").cast("double") / F.col("n_grams").cast("double")
    return per_doc.select(
        "doc_id", "n_grams", "n_novel",
        SIM.stable_round6(frac).alias("novelty6"),
    )


# =====================================================================
# All-but-the-top embedding debias report (B32 ext — Mu & Viswanath
# 2018: project out the dominant direction, composed on B69's
# power-iteration machinery)
# =====================================================================

from etl_data_processor_spark.queries_r6e import (  # noqa: E402
    _PI_CTES,
    _PI_DIM,
    _power_gq,
)

_ABTT_ORACLE = f"""
WITH {_PI_CTES},
v2l AS (
    SELECT list(CAST(gq AS DOUBLE) / n2.nrm ORDER BY d) AS vl
    FROM g2, n2
),
stats AS (
    SELECT d.source,
           list_reduce([e.embedding[i]::DOUBLE * vl[i]
                        for i in range(1, {_PI_DIM} + 1)],
                       (a, b) -> a + b) AS proj,
           list_reduce([e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE
                        for i in range(1, {_PI_DIM} + 1)],
                       (a, b) -> a + b) AS nsq
    FROM e JOIN documents d ON e.vec_id = d.doc_id, v2l
),
agg AS (
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(ABS(proj) * 1000000000.0 + 0.5) AS BIGINT))
                AS BIGINT) AS pq,
           CAST(SUM(CAST(FLOOR(SQRT(nsq) * 1000000000.0 + 0.5) AS BIGINT))
                AS BIGINT) AS bq,
           CAST(SUM(CAST(FLOOR(SQRT(GREATEST(nsq - proj * proj, 0.0))
                                * 1000000000.0 + 0.5) AS BIGINT))
                AS BIGINT) AS aq
    FROM stats GROUP BY source
)
SELECT source, n,
       CAST(FLOOR(CAST(pq AS DOUBLE) / 1000.0 / CAST(n AS DOUBLE) + 0.5)
            AS DOUBLE) / 1000000.0 AS mean_absproj6,
       CAST(FLOOR(CAST(bq AS DOUBLE) / 1000.0 / CAST(n AS DOUBLE) + 0.5)
            AS DOUBLE) / 1000000.0 AS mean_norm_before6,
       CAST(FLOOR(CAST(aq AS DOUBLE) / 1000.0 / CAST(n AS DOUBLE) + 0.5)
            AS DOUBLE) / 1000000.0 AS mean_norm_after6
FROM agg
"""


@q("q_emb_debias_abtt", _ABTT_ORACLE)
def q_emb_debias_abtt(spark, sf_dir):
    """B71: "all-but-the-top" embedding debias report (Mu & Viswanath
    2018, public): compute the corpus's dominant direction (B69's two
    power steps — the SAME bit-exact machinery, shared CTE prefix on the
    oracle side and the `_power_gq` helper on the Spark side), project
    it out of every embedding, and report per source the mean |x.v|
    (how much of the nuisance direction that source carries) plus mean
    vector norm before/after removal — the go/no-go report for shipping
    the debiased embedding table. Determinism: per-row projections and
    norms fold in index order; ||x - (x.v)v||^2 = ||x||^2 - (x.v)^2
    (v unit) is computed with the identical expression tree both sides,
    clamped at 0 against v's last-ulp non-unitness; all three per-row
    stats quantize to 1e-9 integers before per-source sums. Scale: the
    power direction is 64 doubles of driver state; the report pass is
    one co-keyed doc⋈embedding join + one per-source aggregate."""
    import math

    emb = _cat(spark, sf_dir).embeddings
    gq, nrm = _power_gq(emb)
    v = [float(gq[d]) / nrm for d in range(1, _PI_DIM + 1)]
    vlit = F.array(*[F.lit(x) for x in v])

    d = _cat(spark, sf_dir).documents.select(
        F.col("doc_id").alias("vec_id"), "source"
    )
    xd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    proj = F.aggregate(
        F.zip_with(xd, vlit, lambda x, vv: x * vv),
        F.lit(0.0), lambda a, x: a + x,
    )
    nsq = F.aggregate(
        F.transform(xd, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
    )

    def q9(t):
        return F.floor(t * F.lit(1e9) + F.lit(0.5)).cast("long")

    stats = emb.join(d, "vec_id").select(
        "source", proj.alias("proj"), nsq.alias("nsq")
    )
    agg = stats.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(q9(F.abs(F.col("proj")))).alias("pq"),
        F.sum(q9(F.sqrt(F.col("nsq")))).alias("bq"),
        F.sum(
            q9(
                F.sqrt(
                    F.greatest(
                        F.col("nsq") - F.col("proj") * F.col("proj"),
                        F.lit(0.0),
                    )
                )
            )
        ).alias("aq"),
    )

    def mean6(c):
        return (
            F.floor(
                c.cast("double") / F.lit(1e3) / F.col("n").cast("double")
                + F.lit(0.5)
            ).cast("double") / F.lit(1e6)
        )

    return agg.select(
        "source", "n",
        mean6(F.col("pq")).alias("mean_absproj6"),
        mean6(F.col("bq")).alias("mean_norm_before6"),
        mean6(F.col("aq")).alias("mean_norm_after6"),
    )
