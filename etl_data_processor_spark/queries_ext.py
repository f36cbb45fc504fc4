"""Round-2 extension batch: next-tier engine surface beyond SURVEY.md §2's
round-1 registry. Each entry is a first-class operator with a DuckDB oracle:

- interval merge (gaps-and-islands overlap coalescing)
- per-group top-k (rank-filtered window, no global sort)
- bigram language-model conditional probabilities
- embedding int8 quantization (symmetric, integer-exact audit stats)
- sparse TF cosine pairs via rare-term inverted-index join
- snapshot diff (added/removed/changed between table versions)
- skew diagnosis (heavy-hitter keys + share/ratio stats)
- winsorized aggregation (exact-percentile clipping)
- deterministic per-group sampling (hash-ranked top-k per group)
- multimodal dimension probe (stub/real decode switch, same schema)
- data-quality constraint audit (referential/unique/range/domain checks)
- incremental aggregate-state maintenance (mergeable partial states)

Reference parity: the reference (main.py:1-422) has none of these; they are
north-star scope (SURVEY.md §2 Part B extensions) — the operations a
large-scale training-data pipeline needs beyond round 1's families.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from etl_data_processor_spark.registry import q, cat as _cat
from etl_data_processor_spark.ops import sampling as S
from etl_data_processor_spark.ops.exact import dec
from etl_data_processor_spark.ops.similarity import stable_round6

_SQL_ROUND6 = "CAST(FLOOR(({x}) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0"


# =====================================================================
# Interval merge (gaps-and-islands)
# =====================================================================

@q(
    "q_interval_merge",
    """
    WITH iv AS (
        SELECT user_id, event_id, epoch_us(ts) AS s, epoch_us(ts) + 600000000 AS e
        FROM events
    ),
    flagged AS (
        SELECT user_id, s, e,
               CASE WHEN MAX(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                         >= s
                    THEN 0 ELSE 1 END AS is_new
        FROM iv
    ),
    islands AS (
        SELECT user_id, s, e,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY s, e
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        FROM flagged
    )
    SELECT user_id, CAST(island AS BIGINT) AS island,
           MIN(s) AS start_us, MAX(e) AS end_us, COUNT(*) AS n_events
    FROM islands GROUP BY user_id, island
    """,
)
def q_interval_merge(spark, sf_dir):
    """Merge overlapping intervals per key (gaps-and-islands): each event
    opens a 10-minute interval; intervals that touch coalesce into one.
    The classic overlap-coalescing op (uptime stitching, ad-session
    unioning, IP-lease merging) that plain groupBy cannot express: an
    interval belongs with its neighbors only if the RUNNING max end reaches
    its start, so the island id is a running sum over that flag. All µs
    integer arithmetic — engine-exact. ONE shuffle on user_id; both windows
    and the final aggregate reuse the same hash partitioning (same plan
    economy as q_sessionize, which merges by fixed GAP; this merges by
    interval OVERLAP — the two are different operators)."""
    ev = _cat(spark, sf_dir).events
    us = F.unix_micros(F.col("ts"))
    iv = ev.select(
        "user_id", "event_id", us.alias("s"), (us + F.lit(600_000_000)).alias("e")
    )
    w_order = Window.partitionBy("user_id").orderBy("s", "event_id")
    prev_max_e = F.max("e").over(
        w_order.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.select(
        "user_id",
        "s",
        "e",
        F.when(prev_max_e >= F.col("s"), 0).otherwise(1).alias("is_new"),
    )
    w_run = Window.partitionBy("user_id").orderBy("s", "e").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    islands = flagged.withColumn(
        "island", F.sum("is_new").over(w_run).cast("long")
    )
    return islands.groupBy("user_id", "island").agg(
        F.min("s").alias("start_us"),
        F.max("e").alias("end_us"),
        F.count(F.lit(1)).alias("n_events"),
    )


# =====================================================================
# Per-group top-k
# =====================================================================

@q(
    "q_topk_per_group",
    """
    SELECT o_orderpriority, o_orderkey, o_totalprice, CAST(rk AS INTEGER) AS rk
    FROM (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rk
        FROM orders
    ) WHERE rk <= 3
    """,
)
def q_topk_per_group(spark, sf_dir):
    """Top-3 orders per priority class — the per-GROUP top-k companion to
    q_topk's global TakeOrderedAndProject. The rank-filter plan never
    globally sorts: one hash shuffle on the group key, a per-partition sort,
    and Spark pushes the rk<=3 bound into the window as a group limit
    (WindowGroupLimit) so each partition keeps only k rows per group before
    the filter — at 100 TB this is the difference between shuffling every
    group's full contents and shuffling k rows per group."""
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        _cat(spark, sf_dir)
        .orders.select("o_orderpriority", "o_orderkey", "o_totalprice")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
    )


# =====================================================================
# Bigram language-model conditional probabilities
# =====================================================================

@q(
    "q_text_ngram_lm",
    f"""
    WITH bg AS (
        SELECT bigram, COUNT(*) AS c12 FROM (
            SELECT unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS bigram
            FROM (SELECT string_split(text, ' ') AS w FROM documents)
        ) GROUP BY bigram
    ),
    parts AS (
        SELECT string_split(bigram, ' ')[1] AS w1,
               string_split(bigram, ' ')[2] AS w2, c12
        FROM bg
    ),
    heads AS (SELECT w1, SUM(c12) AS c1 FROM parts GROUP BY w1)
    SELECT p.w1, p.w2, p.c12, CAST(h.c1 AS BIGINT) AS c1,
           {_SQL_ROUND6.format(x="p.c12 * 1.0 / h.c1")} AS cond_p
    FROM parts p JOIN heads h ON p.w1 = h.w1
    QUALIFY ROW_NUMBER() OVER (ORDER BY p.c12 DESC, p.w1, p.w2) <= 50
    """,
)
def q_text_ngram_lm(spark, sf_dir):
    """Bigram language-model estimation: P(w2|w1) = c(w1,w2) / c(w1·) with
    the denominator summed over bigram STARTS (so the probabilities per w1
    sum to exactly 1) — the n-gram LM counting pass of corpus analytics,
    one step past q_text_bigrams' raw counts. The conditional is an exact
    integer ratio evaluated identically on both engines, stable-rounded.
    Plan: explode → bigram agg → re-agg on w1 (vocabulary-sized, broadcast
    back) → top-50. The second aggregation input is the bigram TABLE, not
    the corpus — at 100 TB the corpus is scanned once."""
    d = _cat(spark, sf_dir).documents
    words = F.split("text", " ")
    n = F.size(words)
    bigrams = F.zip_with(
        F.slice(words, 1, n - 1),
        F.slice(words, 2, n - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    bg = (
        d.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    parts = bg.select(
        F.split("bigram", " ").getItem(0).alias("w1"),
        F.split("bigram", " ").getItem(1).alias("w2"),
        "c12",
    )
    heads = parts.groupBy("w1").agg(F.sum("c12").alias("c1"))
    return (
        parts.join(F.broadcast(heads), "w1")
        .select(
            "w1",
            "w2",
            "c12",
            "c1",
            stable_round6(F.col("c12") * F.lit(1.0) / F.col("c1")).alias(
                "cond_p"
            ),
        )
        .orderBy(F.desc("c12"), F.asc("w1"), F.asc("w2"))
        .limit(50)
    )


# =====================================================================
# Embedding int8 quantization
# =====================================================================

@q(
    "q_emb_quantize",
    """
    WITH v AS (
        SELECT vec_id, label, embedding,
               list_max(list_transform(embedding,
                        x -> abs(CAST(x AS DOUBLE)))) AS mx
        FROM embeddings
    ),
    qd AS (
        SELECT vec_id, label, mx,
               list_transform(embedding,
                   x -> CAST(FLOOR(CAST(x AS DOUBLE) / mx * 127.0 + 0.5)
                             AS BIGINT)) AS qv
        FROM v WHERE mx > 0
    )
    SELECT vec_id, label,
           CAST(FLOOR(mx * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0 AS scale_q6,
           CAST(list_sum(qv) AS BIGINT) AS sum_q,
           CAST(len(list_filter(qv, x -> abs(x) >= 127)) AS BIGINT) AS n_sat
    FROM qd
    """,
)
def q_emb_quantize(spark, sf_dir):
    """Symmetric int8 quantization of the embedding column — the
    vector-compression step before an at-scale ANN index ships (4x memory
    cut; IVF/LSH recall barely moves). Per vector: scale = max|x|, q_i =
    round-half-up(x_i/scale*127). Quantized values are INTEGERS, so the
    audit stats (sum of codes, saturation count) are engine-exact with no
    float-summation escape hatch; the scale is stable-rounded. Pure array
    expressions (transform/aggregate/filter) — JVM-side, no Python, no
    shuffle at all: a narrow map over the corpus, which is the only
    acceptable shape for a 100 TB recompression pass."""
    e = _cat(spark, sf_dir).embeddings
    xd = lambda x: x.cast("double")  # noqa: E731
    v = e.select(
        "vec_id",
        "label",
        "embedding",
        F.array_max(
            F.transform("embedding", lambda x: F.abs(xd(x)))
        ).alias("mx"),
    ).filter(F.col("mx") > 0)
    qv = F.transform(
        "embedding",
        lambda x: F.floor(xd(x) / F.col("mx") * F.lit(127.0) + F.lit(0.5)).cast(
            "long"
        ),
    )
    qd = v.select("vec_id", "label", "mx", qv.alias("qv"))
    return qd.select(
        "vec_id",
        "label",
        stable_round6(F.col("mx")).alias("scale_q6"),
        F.aggregate(
            "qv", F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("sum_q"),
        F.size(F.filter("qv", lambda x: F.abs(x) >= 127))
        .cast("long")
        .alias("n_sat"),
    )


# =====================================================================
# Sparse cosine pairs via rare-term inverted index
# =====================================================================

@q(
    "q_tfidf_cosine_pairs",
    f"""
    WITH tf AS (
        SELECT doc_id, token, COUNT(*) AS tf FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
        ) GROUP BY doc_id, token
    ),
    nd AS (SELECT COUNT(*) AS n_docs FROM documents),
    rare AS (
        SELECT token FROM tf CROSS JOIN nd GROUP BY token, n_docs
        HAVING COUNT(*) <= GREATEST(20, n_docs // 10)
    ),
    rtf AS (SELECT tf.* FROM tf JOIN rare USING (token)),
    nrm AS (SELECT doc_id, SUM(tf * tf) AS ss FROM rtf GROUP BY doc_id),
    dots AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, SUM(a.tf * b.tf) AS dot
        FROM rtf a JOIN rtf b ON a.token = b.token AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b, CAST(dot AS BIGINT) AS dot,
           {_SQL_ROUND6.format(x="dot / (SQRT(na.ss) * SQRT(nb.ss))")} AS cosine
    FROM dots JOIN nrm na ON na.doc_id = id_a JOIN nrm nb ON nb.doc_id = id_b
    QUALIFY ROW_NUMBER() OVER (ORDER BY dot DESC, id_a, id_b) <= 100
    """,
)
def q_tfidf_cosine_pairs(spark, sf_dir):
    """SPARSE document similarity: cosine over term-frequency vectors
    restricted to rare terms, pairs generated through an inverted-index
    self-join on the term — the classic sparse counterpart to the
    dense-embedding q_cosine_* family. Rare-term blocking is the scale
    lever: a term shared by d documents contributes d^2 candidate pairs,
    so capping df bounds the join quadratically while common terms
    (stopwords) carry no similarity signal anyway. The cap is RELATIVE —
    df <= max(20, n_docs/10) — so selectivity holds at any corpus size
    (a fixed cap silently empties as the corpus grows: every term's df
    scales with it). Dot products are exact integer sums; only the final
    normalization touches floats (stable-rounded). Top-100 pairs by
    integer dot with deterministic tiebreak."""
    d = _cat(spark, sf_dir).documents
    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    nd = d.agg(F.count(F.lit(1)).alias("n_docs"))
    rare = (
        tf.groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(nd))
        .filter(
            F.col("df")
            <= F.greatest(F.lit(20), F.expr("n_docs div 10"))
        )
    )
    rtf = tf.join(F.broadcast(rare.select("token")), "token")
    nrm = rtf.groupBy("doc_id").agg(F.sum(F.col("tf") * F.col("tf")).alias("ss"))
    a = rtf.select(
        F.col("token"), F.col("doc_id").alias("id_a"), F.col("tf").alias("tf_a")
    )
    b = rtf.select(
        F.col("token"), F.col("doc_id").alias("id_b"), F.col("tf").alias("tf_b")
    )
    dots = (
        a.join(b, "token")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("tf_a") * F.col("tf_b")).alias("dot"))
    )
    na = nrm.select(F.col("doc_id").alias("id_a"), F.col("ss").alias("ss_a"))
    nb = nrm.select(F.col("doc_id").alias("id_b"), F.col("ss").alias("ss_b"))
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            "dot",
            stable_round6(
                F.col("dot") / (F.sqrt("ss_a") * F.sqrt("ss_b"))
            ).alias("cosine"),
        )
        .orderBy(F.desc("dot"), F.asc("id_a"), F.asc("id_b"))
        .limit(100)
    )


# =====================================================================
# Snapshot diff
# =====================================================================

@q(
    "q_snapshot_diff",
    """
    WITH v1 AS (SELECT c_custkey AS k, c_acctbal AS bal FROM customer),
    v2 AS (
        SELECT c_custkey AS k,
               CASE WHEN c_custkey % 13 = 0 THEN c_acctbal + 100.0
                    ELSE c_acctbal END AS bal
        FROM customer WHERE c_custkey % 97 <> 0
        UNION ALL
        SELECT c_custkey + 1000000 AS k, c_acctbal AS bal
        FROM customer WHERE c_custkey % 31 = 0
    )
    SELECT COALESCE(v1.k, v2.k) AS k,
           CASE WHEN v1.k IS NULL THEN 'added'
                WHEN v2.k IS NULL THEN 'removed'
                ELSE 'changed' END AS change
    FROM v1 FULL OUTER JOIN v2 ON v1.k = v2.k
    WHERE v1.k IS NULL OR v2.k IS NULL OR v1.bal <> v2.bal
    """,
)
def q_snapshot_diff(spark, sf_dir):
    """Table-version diff: classify every key as added / removed / changed
    between two snapshots — the audit op behind CDC validation, replication
    checks, and incremental-build invalidation (the complement of
    q_cdc_upsert, which APPLIES changes; this one RECOVERS them). The
    second snapshot is derived deterministically (drop every 97th key,
    shift every 13th balance, add every 31st key under an offset). ONE
    full outer join on the key, unchanged rows filtered out — at 100 TB
    both sides shuffle once on the key; with pre-bucketed snapshots
    (``bucketBy``, as in io.ensure_bucketed_join_tables) even that
    exchange disappears. The +100.0 balance
    shift is exact in doubles, so 'changed' is bit-deterministic."""
    c = _cat(spark, sf_dir).customer
    v1 = c.select(F.col("c_custkey").alias("k"), F.col("c_acctbal").alias("bal"))
    v2 = (
        c.filter(F.col("c_custkey") % 97 != 0)
        .select(
            F.col("c_custkey").alias("k"),
            F.when(
                F.col("c_custkey") % 13 == 0, F.col("c_acctbal") + F.lit(100.0)
            )
            .otherwise(F.col("c_acctbal"))
            .alias("bal"),
        )
        .unionByName(
            c.filter(F.col("c_custkey") % 31 == 0).select(
                (F.col("c_custkey") + F.lit(1000000)).alias("k"),
                F.col("c_acctbal").alias("bal"),
            )
        )
    )
    j = v1.alias("v1").join(
        v2.alias("v2"), F.col("v1.k") == F.col("v2.k"), "full_outer"
    )
    return j.select(
        F.coalesce(F.col("v1.k"), F.col("v2.k")).alias("k"),
        F.when(F.col("v1.k").isNull(), F.lit("added"))
        .when(F.col("v2.k").isNull(), F.lit("removed"))
        .otherwise(F.lit("changed"))
        .alias("change"),
        F.col("v1.bal").alias("b1"),
        F.col("v2.bal").alias("b2"),
    ).filter(
        F.col("v1.k").isNull()
        | F.col("v2.k").isNull()
        | (F.col("b1") != F.col("b2"))
    ).select("k", "change")


# =====================================================================
# Skew diagnosis
# =====================================================================

@q(
    "q_skew_diagnose",
    f"""
    WITH per_key AS (
        SELECT l_suppkey AS key, COUNT(*) AS n FROM lineitem GROUP BY l_suppkey
    ),
    tot AS (SELECT SUM(n) AS total, COUNT(*) AS n_keys FROM per_key)
    SELECT key, CAST(n AS BIGINT) AS n,
           {_SQL_ROUND6.format(x="n * 1.0 / total")} AS share_q6,
           {_SQL_ROUND6.format(x="n * 1.0 * n_keys / total")} AS ratio_to_avg_q6
    FROM per_key CROSS JOIN tot
    QUALIFY ROW_NUMBER() OVER (ORDER BY n DESC, key) <= 10
    """,
)
def q_skew_diagnose(spark, sf_dir):
    """Join/agg skew diagnosis: the top-10 heaviest keys with their corpus
    share and ratio-to-average — the measurement that DECIDES between a
    plain shuffle join, AQE skew splitting, and an explicit salted join
    (q_salted_join is the cure; this is the diagnosis). One partial+final
    aggregate on the key, a 2-value scalar frame broadcast back, top-10.
    At 100 TB this is the cheapest possible full-data pass (map-side
    combine reduces each partition to its distinct keys) and the output is
    bounded, so it runs as a pre-flight check before any heavy join."""
    li = _cat(spark, sf_dir).lineitem
    per_key = li.groupBy(F.col("l_suppkey").alias("key")).agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = per_key.agg(
        F.sum("n").alias("total"), F.count(F.lit(1)).alias("n_keys")
    )
    return (
        per_key.crossJoin(F.broadcast(tot))
        .select(
            "key",
            "n",
            stable_round6(F.col("n") * F.lit(1.0) / F.col("total")).alias(
                "share_q6"
            ),
            stable_round6(
                F.col("n") * F.lit(1.0) * F.col("n_keys") / F.col("total")
            ).alias("ratio_to_avg_q6"),
        )
        .orderBy(F.desc("n"), F.asc("key"))
        .limit(10)
    )


# =====================================================================
# Winsorized aggregation
# =====================================================================

@q(
    "q_winsorize",
    f"""
    WITH pct AS (
        SELECT o_orderpriority,
               {_SQL_ROUND6.format(x="quantile_cont(o_totalprice, 0.05)")} AS p05,
               {_SQL_ROUND6.format(x="quantile_cont(o_totalprice, 0.95)")} AS p95
        FROM orders GROUP BY o_orderpriority
    )
    SELECT o.o_orderpriority, COUNT(*) AS n,
           CAST(SUM(CAST(LEAST(GREATEST(o_totalprice, p05), p95)
                         AS DECIMAL(18,4))) AS DOUBLE) AS winsorized_sum,
           CAST(SUM(CASE WHEN o_totalprice < p05 OR o_totalprice > p95
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
    FROM orders o JOIN pct p ON o.o_orderpriority = p.o_orderpriority
    GROUP BY o.o_orderpriority
    """,
)
def q_winsorize(spark, sf_dir):
    """Winsorized (outlier-clipped) aggregation: clip each order's price to
    its priority class's [p5, p95] band, then aggregate — the robust-stats
    pass that keeps a handful of fat-finger rows from dominating a revenue
    rollup (quality-score clamping in corpus curation is the same op).
    The percentile bounds are stable-rounded BEFORE clipping so a final-ulp
    interpolation difference between engines cannot flip a boundary row,
    and the clipped sum runs in DECIMAL(18,4) — exact, order-independent.
    Plan: one exact-percentile agg per class (group-bounded sort), bounds
    broadcast back onto the fact, one grouped sum. At 100 TB swap the exact
    percentile for percentile_approx and nothing else changes."""
    o = _cat(spark, sf_dir).orders
    pct = o.groupBy("o_orderpriority").agg(
        stable_round6(F.percentile("o_totalprice", F.lit(0.05))).alias("p05"),
        stable_round6(F.percentile("o_totalprice", F.lit(0.95))).alias("p95"),
    )
    clipped = F.least(F.greatest(F.col("o_totalprice"), F.col("p05")), F.col("p95"))
    return (
        o.join(F.broadcast(pct), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec(clipped)).cast("double").alias("winsorized_sum"),
            F.sum(
                F.when(
                    (F.col("o_totalprice") < F.col("p05"))
                    | (F.col("o_totalprice") > F.col("p95")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_clipped"),
        )
    )


# =====================================================================
# Deterministic per-group sampling
# =====================================================================

@q(
    "q_group_sample_topk",
    f"""
    SELECT doc_id, lang, source, CAST(rk AS INTEGER) AS rk
    FROM (
        SELECT doc_id, lang, source,
               ROW_NUMBER() OVER (PARTITION BY lang, source
                                  ORDER BY {S.hash32_sql('doc_id')}, doc_id) AS rk
        FROM documents
    ) WHERE rk <= 2
    """,
)
def q_group_sample_topk(spark, sf_dir):
    """Deterministic per-group sampling: exactly k=2 docs per (lang,
    source) cell, chosen by portable-hash rank — the bounded-output cousin
    of q_sample_stratified (which keeps a FRACTION per stratum; this keeps
    a COUNT, the eval-set / debugging-sample contract). The hash order is
    engine- and layout-independent (ops/sampling.py mixer), so the sample
    is reproducible anywhere; the rank filter becomes a per-group limit
    inside the window (no global sort, k rows per group cross the wire)."""
    d = _cat(spark, sf_dir).documents
    w = Window.partitionBy("lang", "source").orderBy(
        S.hash32(F.col("doc_id")), F.col("doc_id")
    )
    return (
        d.select("doc_id", "lang", "source")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 2)
    )


# =====================================================================
# Multimodal dimension probe
# =====================================================================

@q(
    "q_multimodal_dims",
    """
    SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(-1 AS BIGINT) AS width, CAST(-1 AS BIGINT) AS height,
           CAST(0 AS BIGINT) AS decoded
    FROM documents
    """,
)
def q_multimodal_dims(spark, sf_dir):
    """The stub/real decode switch as a gate-checked query: run
    image_dims_extractor (ops/multimodal.py) over text-derived blobs in
    PROBED mode. Text bytes are not decodable images, so the per-row error
    isolation yields (-1, -1, decoded=0) whether or not a codec library is
    present — the oracle is therefore valid in BOTH modes, which is exactly
    the same-schema/same-fallback contract VERDICT r1 #4 asked to pin. The
    n_bytes column is computed Spark-side from the real blob, proving the
    Arrow plumbing runs; decode-dependent values stay deterministic."""
    from etl_data_processor_spark.ops.multimodal import (
        image_dims_extractor,
        to_blob,
    )

    d = _cat(spark, sf_dir).documents
    blobs = d.select("doc_id", to_blob(F.col("text")).alias("blob"))
    return image_dims_extractor(blobs)


# =====================================================================
# Data-quality constraint audit
# =====================================================================

@q(
    "q_constraints",
    """
    SELECT 'orders_fk_customer' AS constraint, COUNT(*) AS n_checked,
           CAST(SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violations
    FROM orders LEFT JOIN customer ON o_custkey = c_custkey
    UNION ALL
    SELECT 'customer_pk_unique', COUNT(*),
           CAST(COUNT(*) - COUNT(DISTINCT c_custkey) AS BIGINT) FROM customer
    UNION ALL
    SELECT 'lineitem_ranges', COUNT(*),
           CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50
                           OR l_discount < 0 OR l_discount > 0.1
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'orders_status_domain', COUNT(*),
           CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P')
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'documents_text_nonempty', COUNT(*),
           CAST(SUM(CASE WHEN text IS NULL OR trim(text) = ''
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM documents
    """,
)
def q_constraints(spark, sf_dir):
    """Data-quality constraint audit (dbt-test / Deequ shape): referential
    integrity, key uniqueness, range bounds, value domains, and non-empty
    checks, each emitted as (constraint, n_checked, n_violations) — the
    pre-flight gate a production pipeline runs before publishing a table.
    Every per-table group of checks folds into ONE conditional-sum scan of
    that table (range + domain checks are free riders on the same pass);
    the referential check is a broadcast LEFT join counted on the miss
    side. All counts are integers — engine-exact. At 100 TB: one scan per
    audited table and one bounded join, nothing else."""
    cat = _cat(spark, sf_dir)
    o, c, li, d = cat.orders, cat.customer, cat.lineitem, cat.documents
    fk = (
        o.join(F.broadcast(c.select("c_custkey")),
               o["o_custkey"] == c["c_custkey"], "left")
        .agg(
            F.count(F.lit(1)).alias("n_checked"),
            F.sum(F.when(F.col("c_custkey").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_violations"),
        )
        .select(F.lit("orders_fk_customer").alias("constraint"), "n_checked", "n_violations")
    )
    pk = c.agg(
        F.count(F.lit(1)).alias("n_checked"),
        (F.count(F.lit(1)) - F.countDistinct("c_custkey"))
        .cast("long")
        .alias("n_violations"),
    ).select(F.lit("customer_pk_unique").alias("constraint"), "n_checked", "n_violations")
    rng = li.agg(
        F.count(F.lit(1)).alias("n_checked"),
        F.sum(
            F.when(
                (F.col("l_quantity") < 1)
                | (F.col("l_quantity") > 50)
                | (F.col("l_discount") < 0)
                | (F.col("l_discount") > 0.1),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_violations"),
    ).select(F.lit("lineitem_ranges").alias("constraint"), "n_checked", "n_violations")
    dom = o.agg(
        F.count(F.lit(1)).alias("n_checked"),
        F.sum(
            F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_violations"),
    ).select(F.lit("orders_status_domain").alias("constraint"), "n_checked", "n_violations")
    txt = d.agg(
        F.count(F.lit(1)).alias("n_checked"),
        F.sum(
            F.when(
                F.col("text").isNull() | (F.trim("text") == ""), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_violations"),
    ).select(F.lit("documents_text_nonempty").alias("constraint"), "n_checked", "n_violations")
    return fk.unionByName(pk).unionByName(rng).unionByName(dom).unionByName(txt)


# =====================================================================
# Incremental aggregate-state maintenance
# =====================================================================

@q(
    "q_agg_incremental",
    """
    SELECT l_returnflag,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 4) AS DOUBLE)
               AS total
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_incremental(spark, sf_dir):
    """Incremental (materialized-view) aggregate maintenance: the fact table
    arrives as independent shards, each shard reduces to a PARTIAL state
    (count + exact decimal sum) on its own, and the view merges states —
    never re-reading closed shards. The oracle recomputes from ALL raw rows,
    so the gate proves merge(partials) == full recompute EXACTLY: decimal
    addition is associative (a float sum would drift with the regroup,
    which is why the state carries DECIMAL and rounds only at the edge —
    same discipline as ops/exact.dsum and the q_ts_rollup_cascade
    sums-of-sums proof). This is the nightly-rollup / streaming-OVERWRITE
    pattern at 100 TB: new data costs one shard pass + a state-sized merge."""
    li = _cat(spark, sf_dir).lineitem
    # shards: deterministic split of the fact (stands in for daily arrivals)
    shard = (F.col("l_orderkey") % 4).alias("__shard")
    partials = (
        li.select("l_returnflag", "l_extendedprice", shard)
        .groupBy("l_returnflag", "__shard")
        .agg(
            F.count(F.lit(1)).alias("pn"),
            F.sum(dec("l_extendedprice")).alias("psum"),  # exact state
        )
    )
    return partials.groupBy("l_returnflag").agg(
        F.sum("pn").alias("n"),
        F.round(F.sum("psum"), 4).cast("double").alias("total"),
    )


# =====================================================================
# Exponentially weighted moving average (closed form)
# =====================================================================

@q(
    "q_ts_ewma",
    f"""
    WITH o AS (
        SELECT user_id, value,
               ROW_NUMBER() OVER w AS rn,
               COUNT(*) OVER (PARTITION BY user_id) AS n
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    )
    SELECT user_id, CAST(MAX(n) AS BIGINT) AS n,
           {_SQL_ROUND6.format(
               x="SUM(CASE WHEN rn = 1 THEN POW(0.9, n - 1) "
                 "ELSE 0.1 * POW(0.9, n - rn) END * value)")} AS ewma
    FROM o GROUP BY user_id
    """,
)
def q_ts_ewma(spark, sf_dir):
    """Exponentially weighted moving average (alpha = 0.1) of each user's
    value stream — the online-smoothing op (load averaging, metric
    smoothing, momentum) whose textbook form is a sequential recurrence
    s_t = a*x_t + (1-a)*s_(t-1). Recurrences don't distribute; the closed
    form does: s_n = (1-a)^(n-1)*x_1 + sum a*(1-a)^(n-i)*x_i, turning the
    scan into ONE window (row_number) + one weighted-sum aggregate on the
    same user_id partitioning — a single shuffle, same plan economy as
    q_sessionize. pow() ulps and double summation order are absorbed by
    stable rounding (weights decay geometrically, so the sum is
    well-conditioned)."""
    ev = _cat(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros(F.col("ts")), F.col("event_id")
    )
    o = ev.select(
        "user_id",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("user_id"))
        .alias("n"),
    )
    weight = F.when(
        F.col("rn") == 1, F.pow(F.lit(0.9), F.col("n") - 1)
    ).otherwise(F.lit(0.1) * F.pow(F.lit(0.9), F.col("n") - F.col("rn")))
    return o.groupBy("user_id").agg(
        F.max("n").cast("long").alias("n"),
        stable_round6(F.sum(weight * F.col("value"))).alias("ewma"),
    )


# =====================================================================
# Robust z-score outlier detection (median / MAD)
# =====================================================================

@q(
    "q_robust_zscore",
    f"""
    WITH med AS (
        SELECT event_type,
               {_SQL_ROUND6.format(x="quantile_cont(value, 0.5)")} AS med
        FROM events GROUP BY event_type
    ),
    mad AS (
        SELECT e.event_type,
               {_SQL_ROUND6.format(x="quantile_cont(abs(e.value - m.med), 0.5)")} AS mad
        FROM events e JOIN med m ON e.event_type = m.event_type
        GROUP BY e.event_type
    )
    SELECT e.event_type, m.med, d.mad, COUNT(*) AS n,
           CAST(SUM(CASE WHEN abs(e.value - m.med) > 3 * 1.4826 * d.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM events e
    JOIN med m ON e.event_type = m.event_type
    JOIN mad d ON e.event_type = d.event_type
    GROUP BY e.event_type, m.med, d.mad
    """,
)
def q_robust_zscore(spark, sf_dir):
    """Robust outlier detection: median + MAD (median absolute deviation)
    per group, then count rows beyond 3 robust standard deviations
    (1.4826*MAD ~ sigma under normality) — the outlier gate that, unlike
    mean/stddev z-scores, is not itself dragged by the outliers it hunts
    (quality-score anomaly sweeps in corpus curation use exactly this).
    Both medians are stable-rounded BEFORE reuse so interpolation ulps
    can't flip a boundary row. Plan: two exact-percentile aggregates
    (the second over |x - med| with med broadcast back) + one conditional
    count — three passes over the group, all on the same partitioning; at
    100 TB swap percentile for percentile_approx, shape unchanged."""
    ev = _cat(spark, sf_dir).events
    med = ev.groupBy("event_type").agg(
        stable_round6(F.percentile("value", F.lit(0.5))).alias("med")
    )
    with_med = ev.join(F.broadcast(med), "event_type")
    mad = with_med.groupBy("event_type").agg(
        stable_round6(
            F.percentile(F.abs(F.col("value") - F.col("med")), F.lit(0.5))
        ).alias("mad")
    )
    return (
        with_med.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(
                    F.abs(F.col("value") - F.col("med"))
                    > F.lit(3) * F.lit(1.4826) * F.col("mad"),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
        )
    )


# =====================================================================
# Exact-arithmetic correlation
# =====================================================================

@q(
    "q_corr_exact",
    f"""
    WITH s AS (
        SELECT l_returnflag,
               COUNT(*) AS n,
               SUM(CAST(l_quantity AS DECIMAL(19,4))) AS sx,
               SUM(CAST(l_extendedprice AS DECIMAL(19,4))) AS sy,
               SUM(CAST(l_quantity AS DECIMAL(12,4))
                   * CAST(l_quantity AS DECIMAL(19,4))) AS sxx,
               SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                   * CAST(l_extendedprice AS DECIMAL(19,4))) AS syy,
               SUM(CAST(l_quantity AS DECIMAL(12,4))
                   * CAST(l_extendedprice AS DECIMAL(19,4))) AS sxy
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           {_SQL_ROUND6.format(
               x="(n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / "
                 "(SQRT(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * "
                 "SQRT(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))")}
               AS corr_qty_price
    FROM s
    """,
)
def q_corr_exact(spark, sf_dir):
    """Pearson correlation per group in EXACT arithmetic: the five moment
    sums run as DECIMAL (associative — partition order can't move them),
    and only the final closed-form ratio touches doubles, on operands that
    are bit-identical across engines. The builtin corr() is a float
    accumulator whose result depends on partition order — unusable under a
    differential gate and quietly nondeterministic at 100 TB; moment sums
    in decimal are the scalable fix (same one-pass partial+final plan,
    five extra columns of map-side combine)."""
    li = _cat(spark, sf_dir).lineitem
    # Oracle uses DECIMAL(19,4) operands: DuckDB multiplies in the INPUT's
    # physical width (int64 for p<=18 -> overflow), so p=19 forces int128.
    # Spark widens products itself, so (12,4) keeps its result at (25,8) —
    # both sides are exact integers at scale 8, hence equal
    x = F.col("l_quantity").cast("decimal(12,4)")
    y = F.col("l_extendedprice").cast("decimal(12,4)")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    corr = (nd * d("sxy") - d("sx") * d("sy")) / (
        F.sqrt(nd * d("sxx") - d("sx") * d("sx"))
        * F.sqrt(nd * d("syy") - d("sy") * d("sy"))
    )
    return s.select(
        "l_returnflag", "n", stable_round6(corr).alias("corr_qty_price")
    )


# =====================================================================
# Z-order (Morton) curve value
# =====================================================================

def _zorder_oracle() -> str:
    from etl_data_processor_spark.io import zorder_value_sql

    zx = "o_custkey % 65536"
    zy = "date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) % 65536"
    return f"""
    SELECT o_orderkey, {zorder_value_sql(f'({zx})', f'({zy})')} AS zval
    FROM orders
    """


@q("q_zorder_value", _zorder_oracle())
def q_zorder_value(spark, sf_dir):
    """The Morton (Z-order) interleave itself, oracle-checked bit-for-bit:
    customer key x order epoch-day quantized to 16 bits each, interleaved
    into one 32-bit curve position (io.py::zorder_value — the sort key of
    a two-key z-order file layout). Pure shift/mask Column arithmetic,
    narrow plan, no shuffle; the DuckDB side is emitted by zorder_value_sql
    from the SAME bit schedule so the two cannot drift. The curve is what
    gives a two-key layout row-group locality in BOTH keys (SCALE.md
    round-2 notes); checking it exactly here puts the curve's key math
    under the differential gate."""
    from etl_data_processor_spark.io import zorder_value

    o = _cat(spark, sf_dir).orders
    x = F.col("o_custkey") % 65536
    y = (
        F.datediff(
            F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
        )
        % 65536
    )
    return o.select("o_orderkey", zorder_value(x, y).alias("zval"))


# =====================================================================
# Bigram-LM document score (perplexity-style quality signal)
# =====================================================================

@q(
    "q_text_lm_score",
    f"""
    WITH docbg AS (
        SELECT doc_id,
               unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS bigram
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
    ),
    bg AS (SELECT bigram, COUNT(*) AS c12 FROM docbg GROUP BY bigram),
    heads AS (
        SELECT string_split(bigram, ' ')[1] AS w1, SUM(c12) AS c1
        FROM bg GROUP BY w1
    ),
    lm AS (
        SELECT bigram, -ln(c12 * 1.0 / c1) AS nll
        FROM bg JOIN heads ON string_split(bigram, ' ')[1] = heads.w1
    )
    SELECT d.doc_id, COUNT(*) AS n_bigrams,
           {_SQL_ROUND6.format(x="SUM(lm.nll) / COUNT(*)")} AS avg_nll
    FROM docbg d JOIN lm ON d.bigram = lm.bigram
    GROUP BY d.doc_id
    """,
)
def q_text_lm_score(spark, sf_dir):
    """Perplexity-style document scoring under the corpus's own bigram LM:
    avg over a doc's bigrams of -ln P(w2|w1) — the statistical quality
    signal next to q_text_quality's surface ratios (KenLM-filter shape:
    high avg-NLL = improbable word sequences = boilerplate/garble). Self-
    trained, so every doc bigram exists in the LM (no smoothing branch to
    diverge on). The LM table is vocabulary-sized and BROADCASTS onto the
    per-doc bigram stream — the corpus itself is exploded once and never
    shuffled except the final per-doc aggregate, which reuses the explode's
    doc_id grouping. ln() runs on exact integer ratios; per-doc averages
    stable-rounded."""
    d = _cat(spark, sf_dir).documents
    words = F.split("text", " ")
    n = F.size(words)
    bigrams = F.zip_with(
        F.slice(words, 1, n - 1),
        F.slice(words, 2, n - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    docbg = d.select("doc_id", F.explode(bigrams).alias("bigram"))
    bg = docbg.groupBy("bigram").agg(F.count(F.lit(1)).alias("c12"))
    heads = bg.groupBy(
        F.split("bigram", " ").getItem(0).alias("w1")
    ).agg(F.sum("c12").alias("c1"))
    lm = bg.join(
        F.broadcast(heads),
        F.split(F.col("bigram"), " ").getItem(0) == F.col("w1"),
    ).select(
        "bigram", (-F.log(F.col("c12") * F.lit(1.0) / F.col("c1"))).alias("nll")
    )
    return (
        docbg.join(F.broadcast(lm), "bigram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            stable_round6(F.sum("nll") / F.count(F.lit(1))).alias("avg_nll"),
        )
    )


# =====================================================================
# Permissive parsing with corrupt-record accounting
# =====================================================================

@q(
    "q_permissive_parse",
    """
    WITH raw AS (
        SELECT event_id,
               CASE WHEN event_id % 37 = 0
                    THEN substr(props, 1, length(props) - 2)
                    ELSE props END AS j
        FROM events
    )
    SELECT CAST(SUM(CASE WHEN json_valid(j) THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
           CAST(SUM(CASE WHEN json_valid(j) THEN 0 ELSE 1 END) AS BIGINT) AS n_corrupt,
           CAST(SUM(CASE WHEN json_valid(j)
                         THEN CAST(j ->> 'k' AS BIGINT) ELSE 0 END)
                AS BIGINT) AS total_k
    FROM raw
    """,
)
def q_permissive_parse(spark, sf_dir):
    """Permissive semi-structured parsing (reference A3, main.py:98-103:
    skip malformed records, never fail the run): every 37th event's JSON is
    deterministically corrupted, then parsed with from_json — bad rows
    yield NULL structs that are COUNTED, not thrown, and the aggregate
    consumes only the good rows. This is the PERMISSIVE-mode contract as an
    oracle-checked query (the readers' mode flag is exercised in
    tests/test_io.py; this pins the same semantics in the expression
    layer). One narrow parse + one global aggregate; at 100 TB malformed
    data costs accounting, not job retries."""
    ev = _cat(spark, sf_dir).events
    # truncation (not appended garbage): Spark's Jackson parser accepts
    # trailing content after a complete object, so an APPENDED corruption
    # would silently parse — a cut-off record is malformed to every engine
    j = F.when(
        F.col("event_id") % 37 == 0,
        F.substring(F.col("props"), 1, F.length("props") - 2),
    ).otherwise(F.col("props"))
    parsed = ev.select(
        F.from_json(j, "k BIGINT", {"mode": "PERMISSIVE"}).alias("p")
    )
    good = F.col("p").isNotNull() & F.col("p.k").isNotNull()
    return parsed.agg(
        F.sum(F.when(good, 1).otherwise(0)).cast("long").alias("n_good"),
        F.sum(F.when(good, 0).otherwise(1)).cast("long").alias("n_corrupt"),
        F.sum(F.when(good, F.col("p.k")).otherwise(0))
        .cast("long")
        .alias("total_k"),
    )


# =====================================================================
# Count-min sketch (mergeable frequency estimation)
# =====================================================================

def _cms_oracle() -> str:
    h = S.hash32_sql("user_id + r * 2654435769", seed=7)
    return f"""
    WITH tall AS (
        SELECT user_id, UNNEST(range(0, 4)) AS r FROM events
    ),
    b AS (SELECT user_id, r, ({h}) % 256 AS bucket FROM tall),
    sketch AS (SELECT r, bucket, COUNT(*) AS cnt FROM b GROUP BY r, bucket),
    truec AS (
        SELECT user_id, COUNT(*) AS true_cnt FROM events GROUP BY user_id
        QUALIFY ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, user_id) <= 10
    ),
    probes AS (
        SELECT t.user_id, t.true_cnt, p.r, ({S.hash32_sql("t.user_id + p.r * 2654435769", seed=7)}) % 256 AS bucket
        FROM truec t CROSS JOIN (SELECT UNNEST(range(0, 4)) AS r) p
    )
    SELECT p.user_id, CAST(MAX(p.true_cnt) AS BIGINT) AS true_cnt,
           CAST(MIN(COALESCE(s.cnt, 0)) AS BIGINT) AS est_cnt
    FROM probes p LEFT JOIN sketch s ON p.r = s.r AND p.bucket = s.bucket
    GROUP BY p.user_id
    """


@q("q_sketch_cms", _cms_oracle())
def q_sketch_cms(spark, sf_dir):
    """Count-min sketch heavy-hitter estimation, fully ORACLE-CHECKED —
    possible because the sketch lives in tall form over the portable hash
    mixer, so both engines build bit-identical counters (the HLL family is
    rows-only precisely because its registers aren't portable). d=4 rows x
    w=256 buckets over events.user_id; output = the 10 true-heaviest users
    with true vs estimated counts (est >= true always; equality when no
    collision). At 100 TB the sketch is <= d*w counter rows per group
    REGARDLESS of input size — the frequency analog of the HLL pattern:
    materialize per-slice, merge by summing counters per (cms_row,
    bucket), never re-read raw data."""
    from etl_data_processor_spark.ops.sketches import cms_estimate, cms_partial

    ev = _cat(spark, sf_dir).events
    sketch = cms_partial(ev, [], F.col("user_id"), depth=4, width=256)
    top = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("true_cnt"))
        .orderBy(F.desc("true_cnt"), F.asc("user_id"))
        .limit(10)
    )
    est = cms_estimate(sketch, top.select("user_id"), "user_id", depth=4, width=256)
    return top.join(est, "user_id").select(
        "user_id",
        F.col("true_cnt").cast("long").alias("true_cnt"),
        F.col("est_cnt").cast("long").alias("est_cnt"),
    )
