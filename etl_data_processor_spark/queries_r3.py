"""Round-3 extension queries: tolerance-bounded as-of join, HDR-histogram
mergeable quantile sketch, and grid-blocked spatial radius join.

All arithmetic is integer-exact or epoch-difference based so DuckDB
reproduces every cell bit-for-bit (the ops/exact discipline).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_data_processor_spark.ops.sampling import hash32_sql
from etl_data_processor_spark.registry import cat as _cat
from etl_data_processor_spark.registry import q


# =====================================================================
# B10 ext: as-of join with tolerance (pandas merge_asof's knob)
# =====================================================================

@q(
    "q_join_asof_tol",
    """
    SELECT p.event_id,
           (SELECT b.value FROM events b
            WHERE b.user_id = p.user_id AND b.event_type = 'click'
              AND b.ts <= p.ts
              AND epoch(p.ts) - epoch(b.ts) <= 3600
            ORDER BY b.ts DESC, b.event_id DESC LIMIT 1) AS value_asof
    FROM events p WHERE p.event_type = 'purchase'
    """,
)
def q_join_asof_tol(spark, sf_dir):
    """Backward as-of join with a 1-hour tolerance: a purchase only
    attributes to a click at most 3600 s older, else NULL. Same
    one-shuffle union+window plan as q_join_asof — the tolerance check
    runs on the carried last-match alone (if the LATEST prior click is
    out of window, every prior click is), no second pass. Epoch
    DIFFERENCES cancel any session-timezone shift (io.py NTZ note)."""
    from etl_data_processor_spark.ops.asof import asof_join_backward

    ev = _cat(spark, sf_dir).events
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    joined = asof_join_backward(
        purchases,
        clicks,
        key="user_id",
        ts="ts",
        value_cols=["value"],
        tiebreak="event_id",
        tolerance=3600.0,
    )
    return joined.select("event_id", "value_asof")


# =====================================================================
# B13 ext: HDR-histogram quantile sketch (mergeable, order-independent)
# =====================================================================

# bucket = e*16 + sub where e = floor(log2 c) via the INTEGER identity
# length(bin(c)) - 1 (no float log), sub = 16 sub-buckets linearly within
# [2^e, 2^(e+1)) — the HdrHistogram layout: ~6% relative error, a few
# hundred buckets for any positive BIGINT range, and counts merge by plain
# addition (order-independent integer sums -> safe under any partitioning).
_HDR_BUCKET_SPARK = (
    "CAST((CAST(length(bin(c)) AS INT) - 1) * 16 "
    "+ CAST((c - shiftleft(CAST(1 AS BIGINT), CAST(length(bin(c)) AS INT) - 1)) * 16 "
    "DIV shiftleft(CAST(1 AS BIGINT), CAST(length(bin(c)) AS INT) - 1) AS INT) AS INT)"
)
_HDR_LOWER_SPARK = (
    "shiftleft(CAST(1 AS BIGINT), CAST(bucket DIV 16 AS INT)) "
    "+ CAST(bucket % 16 AS BIGINT) "
    "* shiftleft(CAST(1 AS BIGINT), CAST(bucket DIV 16 AS INT)) DIV 16"
)


@q(
    "q_sketch_quantile_hdr",
    """
    WITH base AS (
        SELECT CAST(l_extendedprice * 100 AS BIGINT) AS c
        FROM lineitem WHERE l_extendedprice > 0
    ),
    bk AS (
        SELECT CAST((length(bin(c)) - 1) * 16
               + ((c - (CAST(1 AS BIGINT) << (length(bin(c)) - 1))) * 16)
                 // (CAST(1 AS BIGINT) << (length(bin(c)) - 1)) AS INT)
               AS bucket
        FROM base
    ),
    sk AS (SELECT bucket, COUNT(*) AS cnt FROM bk GROUP BY bucket),
    cum AS (
        SELECT bucket, SUM(cnt) OVER (ORDER BY bucket) AS cum FROM sk
    ),
    tot AS (SELECT SUM(cnt) AS n FROM sk),
    sel AS (
        SELECT p.p, MIN(c.bucket) AS bucket
        FROM (VALUES (50), (90), (99)) p(p), cum c, tot t
        WHERE c.cum * 100 >= p.p * t.n
        GROUP BY p.p
    )
    SELECT p,
           ((CAST(1 AS BIGINT) << (bucket // 16))
            + (CAST(bucket % 16 AS BIGINT)
               * (CAST(1 AS BIGINT) << (bucket // 16))) // 16) AS est_cents
    FROM sel ORDER BY p
    """,
)
def q_sketch_quantile_hdr(spark, sf_dir):
    """HDR-histogram quantile sketch — the MERGEABLE quantile estimator
    completing the sketch family (CMS counts, HLL cardinality, SimHash
    similarity, + quantiles): prices bucket into log2-major/16-linear-minor
    bins via pure INTEGER arithmetic (length(bin(c)), shifts, integer
    div — no float log), the sketch is the tall (bucket, count) frame
    whose counts merge by addition under ANY split (pinned in pytest),
    and p50/p90/p99 recover as the first bucket where cum*100 >= p*n
    (lower-bound estimate, <= 1/16 octave error ≈ 6%, pinned vs exact in
    pytest). At 100 TB: one partial+final agg into a few hundred rows per
    slice, stored once, merged at read time — the materialize-once
    pattern; no shuffle of raw values, unlike exact percentiles."""
    lin = (
        _cat(spark, sf_dir)
        .lineitem.filter(F.col("l_extendedprice") > 0)
        .select(F.expr("CAST(l_extendedprice * 100 AS BIGINT)").alias("c"))
    )
    sk = (
        lin.select(F.expr(_HDR_BUCKET_SPARK).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    from pyspark.sql import Window

    # the sketch is a few hundred rows: a single-partition cumulative
    # window over it is driver-scale work, not a data-scale sort
    cum = sk.withColumn(
        "cum", F.sum("cnt").over(Window.orderBy("bucket"))
    )
    tot = sk.agg(F.sum("cnt").alias("n"))
    ps = spark.createDataFrame([(50,), (90,), (99,)], "p int")
    sel = (
        cum.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ps))
        .filter(F.col("cum") * 100 >= F.col("p") * F.col("n"))
        .groupBy("p")
        .agg(F.min("bucket").alias("bucket"))
    )
    return sel.select(
        "p", F.expr(_HDR_LOWER_SPARK).alias("est_cents")
    ).orderBy("p")


# =====================================================================
# New family: spatial radius join by grid blocking
# =====================================================================

@q(
    "q_spatial_radius_join",
    """
    WITH pts AS (
        SELECT c_custkey AS id,
               c_custkey % 1000 AS x,
               (c_custkey * 7919) % 1000 AS y
        FROM customer WHERE c_custkey < 1500
    )
    SELECT a.id AS a_id, b.id AS b_id,
           (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
    FROM pts a JOIN pts b ON a.id < b.id
    WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 225
    ORDER BY a_id, b_id
    """,
)
def q_spatial_radius_join(spark, sf_dir):
    """Spatial radius join (all point pairs within L2 distance 15) by GRID
    BLOCKING — the geospatial join pattern (H3/S2 cell bucketing reduced
    to a square grid): each point lands in a 16x16 cell (cell edge >=
    radius), the LEFT side explodes to its 3x3 cell neighborhood, and a
    plain equi-join on the cell key yields candidates, with the exact
    integer d2 filter last. A pair is found exactly once (b's home cell
    appears once in a's neighborhood). Never all-pairs: cost is
    density-bounded per cell — the oracle IS the all-pairs definition,
    which this must match exactly. Coordinates are closed-form from
    c_custkey so both engines build identical points."""
    from etl_data_processor_spark.ops.spatial import radius_join_grid

    ck = F.col("c_custkey")
    pts = (
        _cat(spark, sf_dir)
        .customer.filter(ck < 1500)
        .select(
            ck.alias("id"),
            (ck % 1000).alias("x"),
            ((ck * 7919) % 1000).alias("y"),
        )
    )
    return radius_join_grid(pts, radius=15, cell=16).orderBy("a_id", "b_id")


# =====================================================================
# B31 ext: positional phrase search over an inverted index
# =====================================================================

@q(
    "q_phrase_search",
    """
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
    SELECT doc_id, COUNT(*) AS n_hits
    FROM d, UNNEST(range(1, len(ws))) AS t(i)
    WHERE ws[CAST(t.i AS INTEGER)] = 'value'
      AND ws[CAST(t.i AS INTEGER) + 1] = 'table'
    GROUP BY doc_id ORDER BY doc_id
    """,
)
def q_phrase_search(spark, sf_dir):
    """Exact PHRASE search ("value table") via a POSITIONAL inverted
    index — the lexical-retrieval primitive BM25 (bag-of-words) cannot
    answer: postings are (doc, position, term) from ONE posexplode pass,
    filtered to the query's terms only (term-set pushdown — at 100 TB the
    materialized index is term-partitioned and only two terms' postings
    are read). Adjacent matching is the posting-list MERGE, expressed as
    a lead window over the filtered postings: a 'value' posting whose
    very next surviving posting is 'table' at pos+1 is a hit (nothing
    else can sit between two adjacent positions) — a single scan + one
    doc_id shuffle, where the naive two-branch self-join scans the corpus
    twice (plan-audited). Oracle = direct adjacent-pair scan of the
    token arrays."""
    from pyspark.sql import Window

    docs = _cat(spark, sf_dir).documents.select("doc_id", "text")
    toks = docs.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "w")
    ).filter(F.col("w").isin("value", "table"))
    win = Window.partitionBy("doc_id").orderBy("pos")
    merged = toks.select(
        "doc_id",
        "pos",
        "w",
        F.lead("w").over(win).alias("nw"),
        F.lead("pos").over(win).alias("npos"),
    )
    return (
        merged.filter(
            (F.col("w") == "value")
            & (F.col("nw") == "table")
            & (F.col("npos") == F.col("pos") + 1)
        )
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .orderBy("doc_id")
    )


# =====================================================================
# B45 ext: event-sequence pattern matching (MATCH_RECOGNIZE-lite)
# =====================================================================

@q(
    "q_event_pattern",
    """
    WITH seqs AS (
        SELECT user_id,
               COUNT(*) AS n_events,
               string_agg(substr(event_type, 1, 1), ''
                          ORDER BY ts, event_id) AS seq
        FROM events GROUP BY user_id
    )
    SELECT user_id, n_events,
           regexp_matches(seq, 'vc.*p') AS matched
    FROM seqs ORDER BY user_id
    """,
)
def q_event_pattern(spark, sf_dir):
    """Sequence-pattern matching over event streams (SQL MATCH_RECOGNIZE
    re-expressed): each user's ordered event history folds into a
    type-initial string (deterministic (ts, event_id) order), and the
    funnel pattern 'view immediately followed by click, then eventually
    purchase' is one regex over it. One shuffle on user_id; per-user
    strings stay session-sized. The regex engine differs (Java vs RE2)
    but the pattern uses the common core, and every cell is
    value-checked against DuckDB."""
    ev = _cat(spark, sf_dir).events
    seqs = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "ts", "event_id",
                            F.substring("event_type", 1, 1).alias("c"),
                        )
                    )
                ),
                lambda s: s["c"],
            ),
            "",
        ).alias("seq"),
    )
    return seqs.select(
        "user_id", "n_events", F.col("seq").rlike("vc.*p").alias("matched")
    ).orderBy("user_id")


# =====================================================================
# B33 ext: REAL audio decode path (PCM — no codec library required)
# =====================================================================

@q(
    "q_audio_pcm_features",
    """
    WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 100),
    samples AS (
        SELECT doc_id, CAST(t.i AS BIGINT) AS n,
               ((doc_id * 7 + CAST(t.i AS BIGINT) * 13) % 200) - 100 AS w
        FROM ids, UNNEST(range(0, 1024)) AS t(i)
    ),
    nxt AS (
        SELECT doc_id, n, w,
               LEAD(w) OVER (PARTITION BY doc_id ORDER BY n) AS w2
        FROM samples
    )
    SELECT doc_id, CAST(n // 256 AS INT) AS frame_idx,
           CAST(SUM(w * w) AS BIGINT) AS sumsq,
           CAST(COUNT(*) FILTER (
               WHERE n % 256 < 255 AND (w >= 0) <> (w2 >= 0)
           ) AS BIGINT) AS zc
    FROM nxt
    GROUP BY doc_id, frame_idx
    ORDER BY doc_id, frame_idx
    """,
)
def q_audio_pcm_features(spark, sf_dir):
    """The multimodal audio path with a REAL binary decode (VERDICT's
    multimodal family, upgraded from stub-only): deterministic int16 PCM
    blobs are synthesized into a genuine ``binary`` column
    (np.tobytes), then DECODED back (np.frombuffer) and reduced to
    per-frame integer features — energy and zero-crossings — in an
    Arrow-batched mapInPandas stage. Because PCM is pure struct layout,
    the whole binary round-trip is value-checked: the oracle recomputes
    the features from the closed-form waveform in SQL. The plumbing
    (binary column, frame explode, batch shape) is exactly what a
    codec-backed mp3/wav path would use."""
    from etl_data_processor_spark.ops.multimodal import (
        pcm_frame_features,
        pcm_synthesize,
    )

    docs = _cat(spark, sf_dir).documents.filter(F.col("doc_id") < 100)
    blobs = pcm_synthesize(docs, id_col="doc_id", n_samples=1024)
    return pcm_frame_features(blobs, frame=256).orderBy("doc_id", "frame_idx")


# =====================================================================
# New family: statistics at scale — deterministic Poisson bootstrap
# =====================================================================

# Poisson(1) CDF cut points scaled to the portable hash's 2^32 range:
# P(0)=e^-1, P(1)=e^-1, P(2)=e^-1/2, P(3)=e^-1/6, w=4 takes the tail.
_POIS_T = [1580030168, 3160060337, 3950075421, 4213413783]
_N_REPS = 40


@q(
    "q_bootstrap_poisson",
    f"""
    WITH rows_x AS (
        SELECT (l_orderkey * 8 + l_linenumber) AS rk,
               CAST(l_quantity * 100 AS BIGINT) AS x
        FROM lineitem
    ),
    reps AS (
        SELECT rk, x, CAST(t.i AS BIGINT) AS b,
               {hash32_sql("(rk * 64 + t.i)")} AS h
        FROM rows_x, UNNEST(range(0, {_N_REPS})) AS t(i)
    ),
    wtd AS (
        SELECT b,
               CASE WHEN h < {_POIS_T[0]} THEN 0
                    WHEN h < {_POIS_T[1]} THEN 1
                    WHEN h < {_POIS_T[2]} THEN 2
                    WHEN h < {_POIS_T[3]} THEN 3
                    ELSE 4 END AS w,
               x
        FROM reps
    )
    SELECT b,
           CAST(SUM(w) AS BIGINT) AS sw,
           CAST(SUM(w * x) AS BIGINT) AS swx
    FROM wtd GROUP BY b ORDER BY b
    """,
)
def q_bootstrap_poisson(spark, sf_dir):
    """Deterministic POISSON BOOTSTRAP (the large-scale bootstrap:
    resampling-with-replacement becomes an independent Poisson(1) weight
    per (row, replicate), so ALL {_N_REPS} replicates compute in ONE
    pass — no per-replicate shuffle, the only exchange is the final
    {_N_REPS}-group aggregate). Weights are drawn from the portable
    hash32 mixer on (row-key*64 + replicate) against fixed integer CDF
    cut points, so the 'randomness' is reproducible bit-for-bit on any
    engine and under any partitioning — df.sample could never oracle.
    Output is the integer-exact per-replicate (Σw, Σw·x_cents); the CI
    derivation (replicate means -> percentile interval around the true
    mean) is pinned in pytest, keeping every oracle cell integer."""
    from etl_data_processor_spark.ops.sampling import hash32

    lin = _cat(spark, sf_dir).lineitem.select(
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("rk"),
        F.expr("CAST(l_quantity * 100 AS BIGINT)").alias("x"),
    )
    reps = lin.withColumn(
        "b", F.explode(F.array(*[F.lit(i) for i in range(_N_REPS)]))
    )
    h = hash32(F.col("rk") * 64 + F.col("b"))
    w = (
        F.when(h < _POIS_T[0], 0)
        .when(h < _POIS_T[1], 1)
        .when(h < _POIS_T[2], 2)
        .when(h < _POIS_T[3], 3)
        .otherwise(4)
    )
    return (
        reps.withColumn("w", w)
        .groupBy(F.col("b").cast("long").alias("b"))
        .agg(
            F.sum("w").alias("sw"),
            F.sum(F.col("w") * F.col("x")).alias("swx"),
        )
        .orderBy("b")
    )


# =====================================================================
# New family: model-eval metrics at scale (quality-classifier eval)
# =====================================================================
# Deterministic "classifier": score = hash32(doc_id) % 1000; ground truth
# correlates with the score plus hash noise — both closed-form, so the
# confusion counts and rank sums are integer-exact on both engines. This
# is the eval loop of a corpus quality filter: score once, sweep
# thresholds / compute AUC in ONE aggregation pass, never per-threshold
# scans.

_EVAL_N = 2000


def _eval_scored(spark, sf_dir):
    from etl_data_processor_spark.ops.sampling import hash32

    doc = F.col("doc_id")
    sc = hash32(doc) % 1000
    noise = hash32(doc + 1000003) % 1000
    return (
        _cat(spark, sf_dir)
        .documents.filter(doc < _EVAL_N)
        .select(
            "doc_id",
            sc.alias("sc"),
            ((sc * 2 + noise) >= 1500).alias("label"),
        )
    )


@q(
    "q_eval_pr_curve",
    "WITH " + 'scored AS (\n        SELECT doc_id,\n               ((xor(((xor(((((doc_id)::BIGINT + 0) % 4294967296) * 73244475) % 4294967296, (((((doc_id)::BIGINT + 0) % 4294967296) * 73244475) % 4294967296) >> 16)) * 591119335) % 4294967296, (((xor(((((doc_id)::BIGINT + 0) % 4294967296) * 73244475) % 4294967296, (((((doc_id)::BIGINT + 0) % 4294967296) * 73244475) % 4294967296) >> 16)) * 591119335) % 4294967296) >> 13)) % 1000) AS sc,\n               (((xor(((xor(((((doc_id)::BIGINT + 0) % 4294967296) * 73244475) % 4294967296, (((((doc_id)::BIGINT + 0) % 4294967296) * 73244475) % 4294967296) >> 16)) * 591119335) % 4294967296, (((xor(((((doc_id)::BIGINT + 0) % 4294967296) * 73244475) % 4294967296, (((((doc_id)::BIGINT + 0) % 4294967296) * 73244475) % 4294967296) >> 16)) * 591119335) % 4294967296) >> 13)) % 1000) * 2 + ((xor(((xor(((((doc_id + 1000003)::BIGINT + 0) % 4294967296) * 73244475) % 4294967296, (((((doc_id + 1000003)::BIGINT + 0) % 4294967296) * 73244475) % 4294967296) >> 16)) * 591119335) % 4294967296, (((xor(((((doc_id + 1000003)::BIGINT + 0) % 4294967296) * 73244475) % 4294967296, (((((doc_id + 1000003)::BIGINT + 0) % 4294967296) * 73244475) % 4294967296) >> 16)) * 591119335) % 4294967296) >> 13)) % 1000)) >= 1500 AS label\n        FROM documents WHERE doc_id < 2000\n    )' + """
    SELECT CAST(t.i AS BIGINT) AS thr,
           CAST(COUNT(*) FILTER (WHERE label AND sc >= t.i) AS BIGINT) AS tp,
           CAST(COUNT(*) FILTER (WHERE NOT label AND sc >= t.i) AS BIGINT) AS fp,
           CAST(COUNT(*) FILTER (WHERE label AND sc < t.i) AS BIGINT) AS fn
    FROM scored, UNNEST(range(0, 1000, 100)) AS t(i)
    GROUP BY thr ORDER BY thr
    """,
)
def q_eval_pr_curve(spark, sf_dir):
    """Precision/recall THRESHOLD SWEEP for a quality classifier in one
    pass: scores computed once, every threshold's confusion counts from
    conditional aggregates over a 10-row broadcast threshold frame — at
    100 TB this is one scan + one 10-group aggregate, not 10 scans.
    Output is the raw integer (tp, fp, fn) per threshold (precision/
    recall are ratios of these — kept integer so the oracle is exact)."""
    thrs = spark.createDataFrame([(i,) for i in range(0, 1000, 100)], "thr long")
    scored = _eval_scored(spark, sf_dir)
    return (
        scored.crossJoin(F.broadcast(thrs))
        .groupBy("thr")
        .agg(
            F.count_if(F.col("label") & (F.col("sc") >= F.col("thr"))).alias("tp"),
            F.count_if(~F.col("label") & (F.col("sc") >= F.col("thr"))).alias("fp"),
            F.count_if(F.col("label") & (F.col("sc") < F.col("thr"))).alias("fn"),
        )
        .orderBy("thr")
    )


@q(
    "q_eval_auc",
    "WITH " + 'scored AS (\n        SELECT doc_id,\n               ((xor(((xor(((((doc_id)::BIGINT + 0) % 4294967296) * 73244475) % 4294967296, (((((doc_id)::BIGINT + 0) % 4294967296) * 73244475) % 4294967296) >> 16)) * 591119335) % 4294967296, (((xor(((((doc_id)::BIGINT + 0) % 4294967296) * 73244475) % 4294967296, (((((doc_id)::BIGINT + 0) % 4294967296) * 73244475) % 4294967296) >> 16)) * 591119335) % 4294967296) >> 13)) % 1000) AS sc,\n               (((xor(((xor(((((doc_id)::BIGINT + 0) % 4294967296) * 73244475) % 4294967296, (((((doc_id)::BIGINT + 0) % 4294967296) * 73244475) % 4294967296) >> 16)) * 591119335) % 4294967296, (((xor(((((doc_id)::BIGINT + 0) % 4294967296) * 73244475) % 4294967296, (((((doc_id)::BIGINT + 0) % 4294967296) * 73244475) % 4294967296) >> 16)) * 591119335) % 4294967296) >> 13)) % 1000) * 2 + ((xor(((xor(((((doc_id + 1000003)::BIGINT + 0) % 4294967296) * 73244475) % 4294967296, (((((doc_id + 1000003)::BIGINT + 0) % 4294967296) * 73244475) % 4294967296) >> 16)) * 591119335) % 4294967296, (((xor(((((doc_id + 1000003)::BIGINT + 0) % 4294967296) * 73244475) % 4294967296, (((((doc_id + 1000003)::BIGINT + 0) % 4294967296) * 73244475) % 4294967296) >> 16)) * 591119335) % 4294967296) >> 13)) % 1000)) >= 1500 AS label\n        FROM documents WHERE doc_id < 2000\n    )' + """,
    ranked AS (
        SELECT label,
               ROW_NUMBER() OVER (ORDER BY sc, doc_id) AS r
        FROM scored
    )
    SELECT CAST(SUM(CASE WHEN label THEN r ELSE 0 END) AS BIGINT) AS rank_sum_pos,
           CAST(COUNT(*) FILTER (WHERE label) AS BIGINT) AS n_pos,
           CAST(COUNT(*) FILTER (WHERE NOT label) AS BIGINT) AS n_neg
    FROM ranked
    """,
)
def q_eval_auc(spark, sf_dir):
    """AUC via the Mann-Whitney rank-sum identity:
    AUC = (Σ ranks(positives) − n₁(n₁+1)/2) / (n₁·n₀) — ONE global rank
    window + one aggregate instead of the O(n²) pairwise definition.
    Ranks are tie-broken by doc_id so both engines rank identically (the
    tie-broken estimator equals randomized tie handling in expectation);
    the output is the integer (rank_sum, n_pos, n_neg) triple — the AUC
    ratio itself is derived in pytest, keeping every oracle cell exact.
    The global rank is ops/prefix.chunked_rank over score-decile chunks
    (scores are already integer-binned 0..999, so chunk = sc div 100 is
    monotone and tie-safe) — within-chunk row_number + offset join, no
    data-sized single-partition WindowExec (the registry-wide plan audit
    in tests/test_plans.py caught the old global-window form); the plain
    window survives as the DuckDB oracle cross-check."""
    from etl_data_processor_spark.ops.prefix import chunked_rank

    scored = _eval_scored(spark, sf_dir)
    chunk = F.floor(F.col("sc") / F.lit(100)).cast("int")
    ranked = chunked_rank(
        scored, [F.col("sc"), F.col("doc_id")], chunk, rank_col="r"
    )
    return ranked.agg(
        F.sum(F.when(F.col("label"), F.col("r")).otherwise(0)).alias(
            "rank_sum_pos"
        ),
        F.count_if("label").alias("n_pos"),
        F.count_if(~F.col("label")).alias("n_neg"),
    )


# =====================================================================
# New family: training-data mixture / epoching (corpus composition)
# =====================================================================

@q(
    "q_data_mixture",
    "WITH d AS (SELECT doc_id, source, "
    "CAST(substr(source, 4) AS INT) % 4 AS base, "
    "CASE WHEN (xor(((xor(((((doc_id * 31)::BIGINT + 0) % 4294967296) * 73244475) % 4294967296, (((((doc_id * 31)::BIGINT + 0) % 4294967296) * 73244475) % 4294967296) >> 16)) * 591119335) % 4294967296, (((xor(((((doc_id * 31)::BIGINT + 0) % 4294967296) * 73244475) % 4294967296, (((((doc_id * 31)::BIGINT + 0) % 4294967296) * 73244475) % 4294967296) >> 16)) * 591119335) % 4294967296) >> 13)) < 2147483648 THEN 1 ELSE 0 END AS extra "
    "FROM documents) "
    "SELECT source, "
    "CAST(COUNT(*) AS BIGINT) AS n_docs, "
    "CAST(COUNT(*) FILTER (WHERE base + extra > 0) AS BIGINT) AS n_docs_sampled, "
    "CAST(SUM(base + extra) AS BIGINT) AS n_rows "
    "FROM d GROUP BY source ORDER BY source",
)
def q_data_mixture(spark, sf_dir):
    """Training-data MIXTURE materialization (the data-mixing step of an
    LLM corpus build): each source gets a fractional epoch multiplier
    (here 0.5 + srcnum%4 epochs, i.e. 0.5/1.5/2.5/3.5): every doc emits
    floor(T) full copies plus one extra copy for a deterministic
    hash-selected T-frac fraction — so the ACHIEVED mixture matches the
    target in expectation per source and EXACTLY under the portable
    hash, reproducible on any engine/partitioning (df.sample could
    never oracle). The mixture is physically EXPLODED (copies tagged by
    epoch index — what the training shuffle consumes); the query reports
    per-source (docs, docs sampled, emitted rows). Scale: explode is
    narrow (no shuffle), the only exchange is the per-source count."""
    from etl_data_processor_spark.ops.sampling import hash32

    docs = _cat(spark, sf_dir).documents.select("doc_id", "source")
    base = (
        F.substring("source", 4, 10).cast("int") % 4
    )  # floor(epochs): srcN -> N%4
    extra = F.when(hash32(F.col("doc_id") * 31) < F.lit(1 << 31), 1).otherwise(0)
    planned = docs.withColumn("copies", (base + extra).cast("int"))
    mixed = planned.withColumn(
        "epoch",
        F.explode(
            F.when(
                F.col("copies") >= 1, F.sequence(F.lit(1), F.col("copies"))
            ).otherwise(F.array())
        ),
    )
    per_src = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    sampled = mixed.groupBy("source").agg(
        F.countDistinct("doc_id").alias("n_docs_sampled"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    return (
        per_src.join(sampled, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce("n_docs_sampled", F.lit(0)).alias("n_docs_sampled"),
            F.coalesce("n_rows", F.lit(0)).alias("n_rows"),
        )
        .orderBy("source")
    )


@q(
    "q_image_tile_stats",
    """
    WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 60),
    px AS (
        SELECT doc_id, CAST(t.i AS BIGINT) AS n,
               (doc_id * 3 + CAST(t.i AS BIGINT) * 7) % 256 AS v
        FROM ids, UNNEST(range(0, 3072)) AS t(i)
    )
    SELECT doc_id,
           CAST((n // 96) // 16 AS INT) AS ty,
           CAST(((n // 3) % 32) // 16 AS INT) AS tx,
           CAST(n % 3 AS INT) AS c,
           CAST(SUM(v) AS BIGINT) AS s
    FROM px
    GROUP BY doc_id, ty, tx, c
    ORDER BY doc_id, ty, tx, c
    """,
)
def q_image_tile_stats(spark, sf_dir):
    """REAL image-side multimodal compute (no codec needed): raw 32x32x3
    RGB frames synthesize into genuine binary columns, decode back via
    np.frombuffer + reshape, and patchify into 16x16 tiles with per-tile
    per-channel byte sums (the ViT-patchify / brightness-filter
    plumbing). The closed-form pixel function lets DuckDB recompute every
    tile sum exactly — the whole binary round-trip is value-checked,
    like the PCM audio path."""
    from etl_data_processor_spark.ops.multimodal import (
        rgb_synthesize,
        rgb_tile_stats,
    )

    docs = _cat(spark, sf_dir).documents.filter(F.col("doc_id") < 60)
    frames = rgb_synthesize(docs, id_col="doc_id")
    return rgb_tile_stats(frames).orderBy("doc_id", "ty", "tx", "c")


# =====================================================================
# New family: privacy ops — stable pseudonymization (PII vault shape)
# =====================================================================

@q(
    "q_pii_tokenize",
    "WITH c AS (SELECT 'U' || CAST((xor(((xor(((((c_custkey)::BIGINT + 0) % 4294967296) * 73244475) % 4294967296, (((((c_custkey)::BIGINT + 0) % 4294967296) * 73244475) % 4294967296) >> 16)) * 591119335) % 4294967296, (((xor(((((c_custkey)::BIGINT + 0) % 4294967296) * 73244475) % 4294967296, (((((c_custkey)::BIGINT + 0) % 4294967296) * 73244475) % 4294967296) >> 16)) * 591119335) % 4294967296) >> 13)) AS VARCHAR) AS utok, c_mktsegment "
    "FROM customer), "
    "o AS (SELECT 'U' || CAST((xor(((xor(((((o_custkey)::BIGINT + 0) % 4294967296) * 73244475) % 4294967296, (((((o_custkey)::BIGINT + 0) % 4294967296) * 73244475) % 4294967296) >> 16)) * 591119335) % 4294967296, (((xor(((((o_custkey)::BIGINT + 0) % 4294967296) * 73244475) % 4294967296, (((((o_custkey)::BIGINT + 0) % 4294967296) * 73244475) % 4294967296) >> 16)) * 591119335) % 4294967296) >> 13)) AS VARCHAR) AS utok, "
    "CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents FROM orders) "
    "SELECT c.c_mktsegment AS segment, "
    "CAST(COUNT(*) AS BIGINT) AS n_orders, "
    "CAST(SUM(o.cents) AS BIGINT) AS rev_cents "
    "FROM o JOIN c ON o.utok = c.utok "
    "GROUP BY segment ORDER BY segment",
)
def q_pii_tokenize(spark, sf_dir):
    """Stable PSEUDONYMIZATION (the PII-vault shape): the raw key column
    is replaced by an irreversible portable-hash token BEFORE any
    downstream processing, and because tokenization is deterministic and
    applied independently per table, tokenized tables still JOIN exactly
    as the raw tables did — the property that makes privacy-safe
    analytics pipelines possible. This query proves it: customer and
    orders are tokenized separately, joined on the token, and the
    per-segment revenue equals the raw-key join bit-for-bit (the oracle
    computes the same tokens in SQL; pytest cross-checks vs the raw
    join). Narrow map per table; the join shuffles tokens, never raw
    identifiers."""
    from etl_data_processor_spark.ops.sampling import hash32

    cat = _cat(spark, sf_dir)
    c = cat.customer.select(
        F.concat(F.lit("U"), hash32(F.col("c_custkey")).cast("string")).alias(
            "utok"
        ),
        "c_mktsegment",
    )
    o = cat.orders.select(
        F.concat(F.lit("U"), hash32(F.col("o_custkey")).cast("string")).alias(
            "utok"
        ),
        F.expr("CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)").alias("cents"),
    )
    return (
        o.join(c, "utok")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("rev_cents"),
        )
        .orderBy("segment")
    )


# =====================================================================
# New family: optimizer-adjacent — histogram join-cardinality profile
# =====================================================================

@q(
    "q_join_cardinality_hist",
    """
    WITH ob AS (
        SELECT o_custkey AS k, o_custkey % 16 AS b FROM orders
    ),
    cb AS (
        SELECT c_custkey AS k, c_custkey % 16 AS b FROM customer
    ),
    os AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS n1,
                  CAST(COUNT(DISTINCT k) AS BIGINT) AS d1 FROM ob GROUP BY b),
    cs AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS n2,
                  CAST(COUNT(DISTINCT k) AS BIGINT) AS d2 FROM cb GROUP BY b),
    act AS (
        SELECT ob.b, CAST(COUNT(*) AS BIGINT) AS actual
        FROM ob JOIN cb ON ob.k = cb.k GROUP BY ob.b
    )
    SELECT os.b, n1, d1, n2, d2, COALESCE(actual, 0) AS actual
    FROM os JOIN cs ON os.b = cs.b LEFT JOIN act ON os.b = act.b
    ORDER BY os.b
    """,
)
def q_join_cardinality_hist(spark, sf_dir):
    """Optimizer-adjacent join-cardinality PROFILE: per key-hash bucket,
    the (row count, distinct count) histogram of both join sides plus the
    ACTUAL per-bucket join output — the statistics a cost-based planner
    estimates |A⋈B| from (est_b = n1·n2/max(d1,d2)); pytest pins that
    the classic estimator lands within 2x of actual on every bucket
    (uniform fixture). At 100 TB these per-bucket stats are one agg per
    side over the (tiny) bucket key — what an ANALYZE TABLE pass stores;
    the actual-join column is the validation scan a planner never runs.
    All outputs are exact integers."""
    cat = _cat(spark, sf_dir)
    ob = cat.orders.select(
        F.col("o_custkey").alias("k"), (F.col("o_custkey") % 16).alias("b")
    )
    cb = cat.customer.select(
        F.col("c_custkey").alias("k"), (F.col("c_custkey") % 16).alias("b")
    )
    os_ = ob.groupBy("b").agg(
        F.count(F.lit(1)).alias("n1"), F.countDistinct("k").alias("d1")
    )
    cs = cb.groupBy("b").agg(
        F.count(F.lit(1)).alias("n2"), F.countDistinct("k").alias("d2")
    )
    act = (
        ob.join(cb, "k")
        .groupBy(ob["b"].alias("b"))
        .agg(F.count(F.lit(1)).alias("actual"))
    )
    return (
        os_.join(cs, "b")
        .join(act, "b", "left")
        .select(
            "b", "n1", "d1", "n2", "d2",
            F.coalesce("actual", F.lit(0)).alias("actual"),
        )
        .orderBy("b")
    )


# =====================================================================
# B57 ext: bloom point-lookup path, oracle-gated
# =====================================================================

@q(
    "q_tableformat_point",
    """
    SELECT c_custkey, c_mktsegment
    FROM customer
    WHERE c_custkey IN (7, 123, 777, 1001, 999999)
    ORDER BY c_custkey
    """,
)
def q_tableformat_point(spark, sf_dir):
    """Oracle-gated bloom POINT lookups: customers land in 4 interleaved
    appends (ids mod 4 — every group's min/max spans the whole key range,
    so range stats alone cannot skip anything) each committed with a
    bloom filter; read_point probes 5 keys (one absent) and the union
    must equal the plain SQL filter — proving no false negatives through
    the whole log-pruned read path. The probe opens bloom-admitting
    groups only (typically 1 of 4; asserted <= 2 to absorb rare fp)."""
    import tempfile

    from etl_data_processor_spark import tableformat as TF

    c = _cat(spark, sf_dir).customer.select("c_custkey", "c_mktsegment")
    t = tempfile.mkdtemp(prefix="tf_point_")
    for r in range(4):
        TF.append(
            c.filter(F.col("c_custkey") % 4 == r),
            t,
            stats_cols=["c_custkey"],
            bloom_cols=["c_custkey"],
        )
    out = None
    for key in (7, 123, 777, 1001, 999999):
        opened, total = TF.point_group_count(t, "c_custkey", key)
        assert total == 4 and opened <= 2, (key, opened)
        part = TF.read_point(spark, t, "c_custkey", key)
        out = part if out is None else out.unionByName(part)
    return out.orderBy("c_custkey")


# =====================================================================
# B45 ext: absence detection (interval anti-join / CEP "no event within")
# =====================================================================

@q(
    "q_absence_detect",
    """
    SELECT c.event_id
    FROM events c
    WHERE c.event_type = 'click' AND NOT EXISTS (
        SELECT 1 FROM events p
        WHERE p.user_id = c.user_id AND p.event_type = 'purchase'
          AND p.ts >= c.ts AND epoch(p.ts) - epoch(c.ts) <= 3600
    )
    ORDER BY c.event_id
    """,
)
def q_absence_detect(spark, sf_dir):
    """ABSENCE detection — the complex-event-processing primitive 'alert
    when X is NOT followed by Y within T' (abandoned carts, missed
    heartbeats): clicks with no same-user purchase in the following hour,
    expressed as an interval LEFT ANTI join (key equi-condition + time
    band — one shuffle on user_id, band-bounded state)."""
    ev = _cat(spark, sf_dir).events
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", F.col("user_id").alias("cu"), F.col("ts").alias("cts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("ts").alias("pts")
    )
    cond = (
        (F.col("cu") == F.col("pu"))
        & (F.col("pts") >= F.col("cts"))
        & (
            F.col("pts").cast("double") - F.col("cts").cast("double")
            <= F.lit(3600.0)
        )
    )
    return (
        clicks.join(purchases, cond, "left_anti")
        .select("event_id")
        .orderBy("event_id")
    )


# =====================================================================
# New surface: native WITH RECURSIVE (Spark 4.1)
# =====================================================================

@q(
    "q_recursive_cte",
    """
    WITH RECURSIVE up AS (
        SELECT p_partkey AS node, p_partkey AS cur, 0 AS dist FROM part
        UNION ALL
        SELECT node, cur // 8, dist + 1 FROM up WHERE cur >= 8
    )
    SELECT node AS p_partkey, cur AS root, CAST(dist AS INTEGER) AS depth
    FROM up WHERE cur < 8
    """,
)
def q_recursive_cte(spark, sf_dir):
    """NATIVE ``WITH RECURSIVE`` (new SQL surface in Spark 4.x): the same
    part-forest closure q_hierarchy_closure computes by pointer doubling,
    expressed directly as a recursive CTE and executed by Spark's
    recursion operator — per-LEVEL iteration, one join round per depth
    step. Kept alongside the doubling implementation deliberately: the
    native form is the ergonomic path, the O(log d) doubling form is the
    100 TB path when depth is large; the gate proves they agree with the
    oracle's own recursive evaluation (all three compute one closure).
    Tables come from the engine Catalog as temp views (events-nanos-safe)."""
    from etl_data_processor_spark.io import Catalog

    Catalog(spark, sf_dir).register_temp_views()
    return spark.sql(
        """
        WITH RECURSIVE up AS (
            SELECT p_partkey AS node, p_partkey AS cur, 0 AS dist FROM part
            UNION ALL
            SELECT node, cur DIV 8, CAST(dist + 1 AS INT) FROM up WHERE cur >= 8
        )
        SELECT node AS p_partkey, cur AS root, CAST(dist AS INT) AS depth
        FROM up WHERE cur < 8
        """
    )


@q(
    "q_sql_udf",
    """
    SELECT CASE WHEN p_retailprice < 1200 THEN 'low'
                WHEN p_retailprice < 1800 THEN 'mid'
                ELSE 'high' END AS band,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM part GROUP BY band ORDER BY band
    """,
)
def q_sql_udf(spark, sf_dir):
    """SQL-defined scalar UDF (Spark 4 ``CREATE FUNCTION ... RETURN``):
    declarative UDFs that Catalyst INLINES into the plan — unlike Python
    UDFs they stay inside codegen with zero serialization cost, so this
    is the right first tool for reusable business logic. The banding
    function is defined once and used in a grouped aggregate; the oracle
    inlines the identical CASE (which is exactly what Catalyst does —
    the plan shows no UDF node at all)."""
    from etl_data_processor_spark.io import Catalog

    Catalog(spark, sf_dir).register_temp_views()
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION price_band(p DECIMAL(12,2)) "
        "RETURNS STRING RETURN CASE WHEN p < 1200 THEN 'low' "
        "WHEN p < 1800 THEN 'mid' ELSE 'high' END"
    )
    return spark.sql(
        "SELECT price_band(p_retailprice) AS band, COUNT(*) AS n "
        "FROM part GROUP BY band ORDER BY band"
    )


# =====================================================================
# B42 ext: explainable curation — per-rule removal manifest
# =====================================================================

@q(
    "q_curation_manifest",
    """
    WITH d AS (
        SELECT doc_id, text,
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm,
               list_filter(string_split(text, ' '), x -> x <> '') AS ws
        FROM documents
    ),
    flags AS (
        SELECT doc_id,
               doc_id <> MIN(doc_id) OVER (PARTITION BY norm) AS f_exact_dup,
               len(ws) < 10 AS f_too_short,
               len(list_distinct(ws)) * 2 < len(ws) AS f_repetitive,
               contains(text, 'value table') AS f_contaminated
        FROM d
    )
    SELECT doc_id, f_exact_dup, f_too_short, f_repetitive, f_contaminated,
           NOT (f_exact_dup OR f_too_short OR f_repetitive OR f_contaminated)
               AS keep
    FROM flags ORDER BY doc_id
    """,
)
def q_curation_manifest(spark, sf_dir):
    """EXPLAINABLE curation: instead of silently dropping documents, emit
    a per-document MANIFEST of which rule fired — exact-duplicate (not
    the canonical min-id of its normalized text), too-short (<10 tokens),
    repetitive (distinct/total token ratio < 0.5), benchmark-contaminated
    (contains the probe phrase) — plus the final keep bit. Provenance is
    what makes corpus curation auditable (why did doc X disappear between
    corpus v1 and v2?) and lets rules be tuned independently; the keep
    rate per rule is one aggregate away. One window shuffle on the
    normalized-text key; every other flag is a narrow expression."""
    docs = _cat(spark, sf_dir).documents.select("doc_id", "text")
    from pyspark.sql import Window

    from etl_data_processor_spark.ops.dedup import normalize_text

    ws = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    flagged = docs.select(
        "doc_id",
        (
            F.col("doc_id")
            != F.min("doc_id").over(
                Window.partitionBy(normalize_text(F.col("text")))
            )
        ).alias("f_exact_dup"),
        (F.size(ws) < 10).alias("f_too_short"),
        (F.size(F.array_distinct(ws)) * 2 < F.size(ws)).alias("f_repetitive"),
        F.col("text").contains("value table").alias("f_contaminated"),
    )
    return flagged.withColumn(
        "keep",
        ~(
            F.col("f_exact_dup")
            | F.col("f_too_short")
            | F.col("f_repetitive")
            | F.col("f_contaminated")
        ),
    ).orderBy("doc_id")


@q(
    "q_distribution_match",
    "WITH counts AS ("
    "    SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY source"
    "), tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM counts), "
    "plan AS ("
    # target share: lang-agnostic synthetic target = uniform 1/20 per source;
    # keep_frac = min(1, target_share * total / n) in 2^32 fixed point
    "    SELECT source, n, "
    "           LEAST(CAST(4294967296 AS BIGINT), "
    "                 (CAST(4294967296 AS BIGINT) * total) // (20 * n)) AS thr "
    "    FROM counts, tot"
    ") "
    "SELECT d.source, "
    "       CAST(COUNT(*) AS BIGINT) AS n_in, "
    "       CAST(COUNT(*) FILTER (WHERE (xor(((xor(((((d.doc_id)::BIGINT + 0) % 4294967296) * 73244475) % 4294967296, (((((d.doc_id)::BIGINT + 0) % 4294967296) * 73244475) % 4294967296) >> 16)) * 591119335) % 4294967296, (((xor(((((d.doc_id)::BIGINT + 0) % 4294967296) * 73244475) % 4294967296, (((((d.doc_id)::BIGINT + 0) % 4294967296) * 73244475) % 4294967296) >> 16)) * 591119335) % 4294967296) >> 13)) < p.thr) AS BIGINT) AS n_kept "
    "FROM documents d JOIN plan p ON d.source = p.source "
    "GROUP BY d.source ORDER BY d.source",
)
def q_distribution_match(spark, sf_dir):
    """DISTRIBUTION MATCHING (importance resampling): downsample each
    source to a target corpus mix — keep_frac_s = min(1, target_share ·
    N / n_s) — with the portable hash as the sampling decision, so the
    kept SET is identical on any engine/partitioning and monotone in the
    fraction (ops/sampling's contract). The keep threshold is computed in
    2^32 integer fixed point (no float fractions), making even the
    per-source kept COUNTS exactly reproducible — this is how a corpus is
    rebalanced to a reference domain mix without a shuffle: counts are
    one tiny aggregate, the keep decision is a narrow scan-stage filter."""
    from etl_data_processor_spark.ops.sampling import hash32

    docs = _cat(spark, sf_dir).documents.select("doc_id", "source")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").alias("total"))
    plan = (
        counts.crossJoin(F.broadcast(total))
        .select(
            "source",
            F.least(
                F.lit(1 << 32).cast("long"),
                # integer DIV on both engines: a double quotient could
                # round across the keep threshold at the boundary
                F.expr("CAST(4294967296 * total DIV (20 * n) AS BIGINT)"),
            ).alias("thr"),
        )
    )
    return (
        docs.join(F.broadcast(plan), "source")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_in"),
            F.count_if(hash32(F.col("doc_id")) < F.col("thr")).alias("n_kept"),
        )
        .orderBy("source")
    )


# =====================================================================
# B44 ext: quantile normalization (map group distributions onto global)
# =====================================================================

@q(
    "q_quantile_normalize",
    """
    WITH v AS (
        SELECT l_orderkey, l_linenumber, l_returnflag AS g,
               CAST(FLOOR(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS c
        FROM lineitem WHERE l_orderkey < 2000
    ),
    ranked AS (
        SELECT *,
               ROW_NUMBER() OVER (
                   PARTITION BY g ORDER BY c, l_orderkey, l_linenumber
               ) AS r,
               COUNT(*) OVER (PARTITION BY g) AS ng,
               COUNT(*) OVER () AS n
        FROM v
    ),
    gl AS (
        SELECT c AS gc,
               ROW_NUMBER() OVER (ORDER BY c, l_orderkey, l_linenumber) AS gr
        FROM v
    )
    SELECT ranked.l_orderkey, ranked.l_linenumber, ranked.g,
           ranked.c, gl.gc AS qnorm_c
    FROM ranked JOIN gl
      ON gl.gr = (ranked.r * ranked.n + ranked.ng - 1) // ranked.ng
    ORDER BY ranked.l_orderkey, ranked.l_linenumber
    """,
)
def q_quantile_normalize(spark, sf_dir):
    """QUANTILE NORMALIZATION — map every group's value distribution onto
    the GLOBAL distribution (the batch-effect remover / feature scaler):
    a row at within-group rank r of n_g becomes the global value at
    nearest rank ceil(r·N/n_g), all in exact integer rank arithmetic
    with deterministic (value, key) tie order on both engines. Plan
    (reworked by the registry-wide plan audit): BOTH ranks run through
    ops/prefix chunked forms over equi-depth value chunks — the grouped
    rank as chunked_cumsum of ones per (g, chunk), the global rank as
    chunked_rank — and the group/total counts are hash aggregates joined
    back, so no WindowExec anywhere touches a data-sized frame; the
    plain-window form survives as the DuckDB oracle cross-check."""
    from etl_data_processor_spark.ops.prefix import (
        chunked_cumsum,
        chunked_rank,
        equidepth_chunk,
    )

    v = (
        _cat(spark, sf_dir)
        .lineitem.filter(F.col("l_orderkey") < 2000)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_returnflag").alias("g"),
            F.expr(
                "CAST(FLOOR(l_extendedprice * 100.0 + 0.5) AS BIGINT)"
            ).alias("c"),
        )
    )
    order = [F.col("c"), F.col("l_orderkey"), F.col("l_linenumber")]
    vb, chunk = equidepth_chunk(v, "c")
    vb = vb.withColumn("__one", F.lit(1).cast("long"))
    grouped = chunked_cumsum(
        vb, ["g"], order, "__one", chunk, out_col="r"
    ).drop("__one", "__bs")
    ng = v.groupBy("g").agg(F.count(F.lit(1)).alias("ng"))
    n = v.agg(F.count(F.lit(1)).alias("n"))
    ranked = grouped.join(F.broadcast(ng), "g").crossJoin(F.broadcast(n))
    gb, gchunk = equidepth_chunk(v, "c")
    glob = chunked_rank(gb, order, gchunk, rank_col="gr").select(
        F.col("c").alias("gc"), "gr"
    )
    target = F.expr("CAST((r * n + ng - 1) DIV ng AS BIGINT)")
    return (
        ranked.withColumn("__t", target)
        .join(glob, F.col("__t") == F.col("gr"))
        .select("l_orderkey", "l_linenumber", "g", "c", F.col("gc").alias("qnorm_c"))
        .orderBy("l_orderkey", "l_linenumber")
    )


@q(
    "q_median_of_means",
    "WITH b AS ("
    "    SELECT (xor(((xor(((((l_orderkey * 8 + l_linenumber)::BIGINT + 0) % 4294967296) * 73244475) % 4294967296, (((((l_orderkey * 8 + l_linenumber)::BIGINT + 0) % 4294967296) * 73244475) % 4294967296) >> 16)) * 591119335) % 4294967296, (((xor(((((l_orderkey * 8 + l_linenumber)::BIGINT + 0) % 4294967296) * 73244475) % 4294967296, (((((l_orderkey * 8 + l_linenumber)::BIGINT + 0) % 4294967296) * 73244475) % 4294967296) >> 16)) * 591119335) % 4294967296) >> 13)) % 16 AS bucket, "
    "           CAST(FLOOR(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS c "
    "    FROM lineitem"
    ") "
    "SELECT CAST(bucket AS BIGINT) AS bucket, "
    "       CAST(SUM(c) AS BIGINT) AS s, "
    "       CAST(COUNT(*) AS BIGINT) AS n "
    "FROM b GROUP BY bucket ORDER BY bucket",
)
def q_median_of_means(spark, sf_dir):
    """MEDIAN-OF-MEANS robust mean estimation (heavy-tail-safe, the
    sub-Gaussian estimator): rows split into 16 DETERMINISTIC buckets by
    the portable hash (so the split is identical on any engine or
    partitioning — random assignment could never oracle), each bucket's
    exact integer (sum, count) is one aggregate pass, and the estimate is
    the median of the 16 bucket means — one outlier bucket cannot move
    it. Output is the integer partials (the ratio/median derivation is
    pinned in pytest, keeping oracle cells exact); at 100 TB this is one
    partial+final agg into 16 rows, same cost as a plain mean."""
    from etl_data_processor_spark.ops.sampling import hash32

    lin = _cat(spark, sf_dir).lineitem.select(
        (hash32(F.col("l_orderkey") * 8 + F.col("l_linenumber")) % 16).alias(
            "bucket"
        ),
        F.expr("CAST(FLOOR(l_extendedprice * 100.0 + 0.5) AS BIGINT)").alias("c"),
    )
    return (
        lin.groupBy(F.col("bucket").cast("long").alias("bucket"))
        .agg(F.sum("c").alias("s"), F.count(F.lit(1)).alias("n"))
        .orderBy("bucket")
    )


@q(
    "q_null_semantics",
    """
    WITH t AS (
        SELECT CASE WHEN o_orderkey % 3 = 0 THEN NULL
                    ELSE o_orderkey % 5 END AS k,
               CASE WHEN o_orderkey % 7 = 0 THEN NULL
                    ELSE CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)
               END AS v
        FROM orders WHERE o_orderkey < 5000
    )
    SELECT k,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(v) AS BIGINT) AS n_vals,
           CAST(SUM(v) AS BIGINT) AS sum_v,
           CAST(COUNT(*) FILTER (WHERE v IS NULL) AS BIGINT) AS n_null_v
    FROM t GROUP BY k ORDER BY k NULLS FIRST
    """,
)
def q_null_semantics(spark, sf_dir):
    """NULL-semantics matrix in one query — the SQL corners engines get
    subtly wrong: NULL group keys form their OWN group (never merged with
    any value), COUNT(*) counts rows while COUNT(v) skips NULLs, SUM
    ignores NULLs (and is NULL only for an all-NULL group), and NULLS
    FIRST ordering is explicit. Every cell value-checked against DuckDB
    — an engine disagreeing on any of these corrupts every downstream
    aggregate silently."""
    o = _cat(spark, sf_dir).orders.filter(F.col("o_orderkey") < 5000)
    t = o.select(
        F.when(F.col("o_orderkey") % 3 == 0, None)
        .otherwise(F.col("o_orderkey") % 5)
        .alias("k"),
        F.when(F.col("o_orderkey") % 7 == 0, None)
        .otherwise(
            F.expr("CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)")
        )
        .alias("v"),
    )
    return (
        t.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("v").alias("n_vals"),
            F.sum("v").alias("sum_v"),
            F.count_if(F.col("v").isNull()).alias("n_null_v"),
        )
        .orderBy(F.col("k").asc_nulls_first())
    )


@q(
    "q_collation_lcase",
    """
    SELECT lower(p_brand) AS brand_ci,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT lower(p_type)) AS BIGINT) AS n_types_ci
    FROM part
    GROUP BY brand_ci ORDER BY brand_ci
    """,
)
def q_collation_lcase(spark, sf_dir):
    """Spark 4 COLLATIONS: grouping and distinct-counting under the
    UTF8_LCASE collation — case-insensitivity as a COLUMN TYPE property
    instead of lower() sprinkled through every expression (the collation
    survives joins/aggregations and keeps comparisons codegen-native).
    The oracle expresses the same semantics with explicit lower(); the
    output canonicalizes to lowercase so both engines emit identical
    group labels."""
    p = _cat(spark, sf_dir).part.selectExpr(
        "p_brand COLLATE UTF8_LCASE AS brand",
        "p_type COLLATE UTF8_LCASE AS ptype",
    )
    return (
        # cast strips the collation from the OUTPUT type (comparisons above
        # already ran collated); the driver compares plain strings
        p.groupBy(F.expr("CAST(lower(brand) AS STRING)").alias("brand_ci"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("ptype").alias("n_types_ci"),
        )
        .orderBy("brand_ci")
    )


@q(
    "q_k_anonymity",
    """
    WITH qi AS (
        SELECT c_nationkey,
               CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
               c_mktsegment
        FROM customer
    ),
    g AS (
        SELECT c_nationkey, bal_band, c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM qi GROUP BY ALL
    )
    SELECT c_nationkey, bal_band, c_mktsegment, n, n < 5 AS violates_k5
    FROM g ORDER BY c_nationkey, bal_band, c_mktsegment
    """,
)
def q_k_anonymity(spark, sf_dir):
    """K-ANONYMITY audit (privacy family, next to q_pii_tokenize): group
    by the quasi-identifier tuple (nation, coarse balance band, segment)
    and flag equivalence classes smaller than k=5 — the rows a release
    must suppress or generalize further, since a quasi-identifier
    combination shared by <k people re-identifies them. One aggregate
    pass; the generalization lattice search is iterating this query
    with coarser bands. Banding uses floor division so both engines
    agree exactly on class boundaries."""
    qi = _cat(spark, sf_dir).customer.select(
        "c_nationkey",
        F.expr("CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT)").alias("bal_band"),
        "c_mktsegment",
    )
    return (
        qi.groupBy("c_nationkey", "bal_band", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("violates_k5", F.col("n") < 5)
        .orderBy("c_nationkey", "bal_band", "c_mktsegment")
    )


@q(
    "q_funnel_maxgap",
    """
    WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
    v AS (SELECT user_id, MIN(us) AS t1 FROM e
          WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, MIN(us) AS t2
          FROM e JOIN v ON e.user_id = v.user_id
          WHERE event_type = 'click' AND us > t1
            AND us - t1 <= 86400000000 GROUP BY e.user_id),
    p AS (SELECT e.user_id, MIN(us) AS t3
          FROM e JOIN c ON e.user_id = c.user_id
          WHERE event_type = 'purchase' AND us > t2
            AND us - t2 <= 86400000000 GROUP BY e.user_id)
    SELECT (SELECT COUNT(*) FROM v) AS n_view,
           (SELECT COUNT(*) FROM c) AS n_click_24h,
           (SELECT COUNT(*) FROM p) AS n_purchase_24h
    """,
)
def q_funnel_maxgap(spark, sf_dir):
    """Strict-sequence funnel with a MAX-GAP constraint: each stage must
    follow the previous first-completion within 24 h (integer-µs band),
    the product-analytics form of 'conversion within the attribution
    window' — q_funnel's unconstrained chain overcounts late organic
    conversions. Same plan shape: per-stage conditional MIN aggregates
    over one event scan each, stage frames shrink and broadcast; the gap
    predicate rides the same join."""
    ev = _cat(spark, sf_dir).events
    gap = 86_400_000_000  # 24 h in µs
    e = ev.select("user_id", "event_type", F.unix_micros("ts").alias("us"))
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("t1"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(F.broadcast(v), "user_id")
        .filter((F.col("us") > F.col("t1")) & (F.col("us") - F.col("t1") <= gap))
        .groupBy("user_id")
        .agg(F.min("us").alias("t2"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(c), "user_id")
        .filter((F.col("us") > F.col("t2")) & (F.col("us") - F.col("t2") <= gap))
        .groupBy("user_id")
        .agg(F.min("us").alias("t3"))
    )
    return (
        v.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_click_24h")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_purchase_24h")))
    )


@q(
    "q_ts_interpolate",
    """
    WITH pts AS (
        SELECT user_id, epoch_us(ts) AS t,
               CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS vc
        FROM events WHERE event_type = 'click' AND user_id < 10
    ),
    iv AS (
        SELECT user_id, t AS t0, vc AS v0,
               LEAD(t) OVER (PARTITION BY user_id ORDER BY t) AS t1,
               LEAD(vc) OVER (PARTITION BY user_id ORDER BY t) AS v1
        FROM pts
    ),
    bounds AS (
        SELECT user_id,
               CAST(CEIL(MIN(t) / 3600000000.0) AS BIGINT) AS h_lo,
               CAST(FLOOR(MAX(t) / 3600000000.0) AS BIGINT) AS h_hi
        FROM pts GROUP BY user_id
    ),
    grid AS (
        SELECT user_id, unnest(range(h_lo, h_hi + 1)) * 3600000000 AS g
        FROM bounds WHERE h_lo <= h_hi
    )
    SELECT grid.user_id, grid.g // 1000000 AS g_epoch,
           CASE WHEN iv.t0 = grid.g THEN iv.v0
                ELSE (iv.v0 * (iv.t1 - grid.g) + iv.v1 * (grid.g - iv.t0))
                     // (iv.t1 - iv.t0) END AS interp_c
    FROM grid JOIN iv
      ON grid.user_id = iv.user_id
     AND grid.g >= iv.t0 AND grid.g < iv.t1
    ORDER BY grid.user_id, g_epoch
    """,
)
def q_ts_interpolate(spark, sf_dir):
    """LINEAR-INTERPOLATION resampling onto an hourly grid — the third
    fill mode beside LOCF (q_ts_fill) and zero-fill (q_ts_gapfill), the
    TimescaleDB ``interpolate``: per-user click values become (t0, t1)
    hold intervals via one lead window, the hourly grid generates from
    per-user bounds with sequence+explode, and each interior grid point
    joins its covering interval with the weighted-average value computed
    as (v0·(t1−g) + v1·(g−t0)) // (t1−t0) — all NONNEGATIVE BIGINT, so
    floor-div equals truncation and both engines agree exactly (a signed
    delta formula would hit the DIV-vs-// negative-rounding divergence).
    One window shuffle + one band join on the user key."""
    from pyspark.sql import Window

    us = 3_600_000_000  # 1 hour in µs
    pts = (
        _cat(spark, sf_dir)
        .events.filter((F.col("event_type") == "click") & (F.col("user_id") < 10))
        .select(
            "user_id",
            F.unix_micros("ts").alias("t"),
            F.expr("CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)").alias("vc"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("t")
    iv = pts.select(
        "user_id",
        F.col("t").alias("t0"),
        F.col("vc").alias("v0"),
        F.lead("t").over(w).alias("t1"),
        F.lead("vc").over(w).alias("v1"),
    )
    bounds = pts.groupBy("user_id").agg(
        F.ceil(F.min("t") / us).cast("long").alias("h_lo"),
        F.floor(F.max("t") / us).cast("long").alias("h_hi"),
    )
    grid = (
        bounds.filter(F.col("h_lo") <= F.col("h_hi"))
        .select(
            "user_id", F.explode(F.sequence("h_lo", "h_hi")).alias("h")
        )
        .select("user_id", (F.col("h") * us).alias("g"))
    )
    interp = F.when(F.col("t0") == F.col("g"), F.col("v0")).otherwise(
        F.expr("(v0 * (t1 - g) + v1 * (g - t0)) DIV (t1 - t0)")
    )
    return (
        grid.join(
            iv,
            (grid["user_id"] == iv["user_id"])
            & (F.col("g") >= F.col("t0"))
            & (F.col("g") < F.col("t1")),
        )
        .select(
            grid["user_id"],
            F.expr("g DIV 1000000").alias("g_epoch"),
            interp.alias("interp_c"),
        )
        .orderBy("user_id", "g_epoch")
    )


@q(
    "q_regexp_extract_all",
    """
    SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS n
    FROM (
        SELECT unnest(regexp_extract_all(text, '[a-z]{5,}')) AS w
        FROM documents WHERE doc_id < 200
    )
    GROUP BY w ORDER BY n DESC, w LIMIT 20
    """,
)
def q_regexp_extract_all(spark, sf_dir):
    """Multi-match regex extraction (``regexp_extract_all`` — the
    one-row-to-many regex surface beside single-match extract and
    replace): every >=5-letter token per document explodes to rows and
    aggregates to the top-20 vocabulary. Spark and DuckDB both evaluate
    the pattern with their regex engines over the common syntax core;
    TakeOrdered caps the result without a global sort."""
    docs = _cat(spark, sf_dir).documents.filter(F.col("doc_id") < 200)
    words = docs.select(
        F.explode(
            F.expr("regexp_extract_all(text, '[a-z]{5,}', 0)")
        ).alias("word")
    )
    return (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(20)
    )


@q(
    "q_ts_derivative",
    """
    WITH pts AS (
        SELECT user_id, event_id, epoch_us(ts) AS t,
               CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS vc
        FROM events WHERE event_type = 'click' AND user_id < 50
    ),
    d AS (
        SELECT user_id, event_id, t, vc,
               LAG(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS t0,
               LAG(vc) OVER (PARTITION BY user_id ORDER BY t, event_id) AS v0
        FROM pts
    )
    SELECT user_id, event_id,
           CASE WHEN vc - v0 >= 0
                THEN ((vc - v0) * 3600000000000) // (t - t0)
                ELSE -(((v0 - vc) * 3600000000000) // (t - t0)) END
               AS rate_mc_per_h
    FROM d WHERE t0 IS NOT NULL AND t > t0
    ORDER BY user_id, event_id
    """,
)
def q_ts_derivative(spark, sf_dir):
    """Discrete DERIVATIVE over irregular samples (the monitoring 'rate()'
    primitive): consecutive-point delta scaled to milli-cents per hour in
    pure integers — with the SIGN factored out before the floor division,
    because Spark's DIV truncates toward zero while DuckDB's // floors
    toward −∞, and a signed numerator silently diverges by one unit on
    every negative slope (the same trap q_ts_interpolate dodges by
    construction). One lag window per series, no joins."""
    from pyspark.sql import Window

    pts = (
        _cat(spark, sf_dir)
        .events.filter((F.col("event_type") == "click") & (F.col("user_id") < 50))
        .select(
            "user_id",
            "event_id",
            F.unix_micros("ts").alias("t"),
            F.expr("CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)").alias("vc"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    d = pts.select(
        "user_id",
        "event_id",
        "t",
        "vc",
        F.lag("t").over(w).alias("t0"),
        F.lag("vc").over(w).alias("v0"),
    ).filter(F.col("t0").isNotNull() & (F.col("t") > F.col("t0")))
    rate = F.when(
        F.col("vc") - F.col("v0") >= 0,
        F.expr("(vc - v0) * 3600000000000 DIV (t - t0)"),
    ).otherwise(-F.expr("(v0 - vc) * 3600000000000 DIV (t - t0)"))
    return d.select(
        "user_id", "event_id", rate.alias("rate_mc_per_h")
    ).orderBy("user_id", "event_id")


@q(
    "q_table_checksum",
    "WITH c AS ("
    "    SELECT o_orderkey, "
    "           CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents "
    "    FROM orders"
    ") "
    "SELECT CAST(COUNT(*) AS BIGINT) AS n_rows, "
    "       CAST(SUM(xor(((xor(((((o_orderkey * 131 + cents)::BIGINT + 0) % 4294967296) * 73244475) % 4294967296, (((((o_orderkey * 131 + cents)::BIGINT + 0) % 4294967296) * 73244475) % 4294967296) >> 16)) * 591119335) % 4294967296, (((xor(((((o_orderkey * 131 + cents)::BIGINT + 0) % 4294967296) * 73244475) % 4294967296, (((((o_orderkey * 131 + cents)::BIGINT + 0) % 4294967296) * 73244475) % 4294967296) >> 16)) * 591119335) % 4294967296) >> 13)) AS BIGINT) AS checksum "
    "FROM c",
)
def q_table_checksum(spark, sf_dir):
    """ORDER-INDEPENDENT table checksum — the replica-comparison
    primitive (is this table bit-identical on the other cluster/engine?)
    this whole oracle harness is built on, packaged as an in-engine op:
    each row canonicalizes to an integer, mixes through the portable
    hash, and SUMS — addition commutes, so the checksum is independent
    of partitioning, ordering, and engine, while any single changed row
    shifts it. One aggregate pass, 16 bytes of answer; at true 100 TB
    sum the hashes modulo 2^63 per partition (the partials stay
    mergeable) — at fixture scale the raw sum is exact and both engines
    agree on every bit."""
    from etl_data_processor_spark.ops.sampling import hash32

    o = _cat(spark, sf_dir).orders.select(
        "o_orderkey",
        F.expr("CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)").alias(
            "cents"
        ),
    )
    row_hash = hash32(F.col("o_orderkey") * 131 + F.col("cents"))
    return o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(row_hash).alias("checksum"),
    )
