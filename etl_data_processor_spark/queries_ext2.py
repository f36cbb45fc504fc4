"""Round-2 extension batch #2: analytics / set-similarity / recursive /
pandas-exact operator families, each with a DuckDB oracle.

- cohort retention (first-touch cohort day x day-offset active users)
- Markov event transitions (lag sequence -> conditional probabilities)
- OHLC time-series resample (arg_min/arg_max open/close per bucket)
- ratio-to-report (share of group total via window sum)
- exact weighted median (cumulative-weight window, integer cents)
- seasonal anomaly cells (hour-of-day baseline, integer cross-multiply)
- 2D skyline / Pareto frontier (two-phase distributed: local per-salt
  skyline -> global pass over the tiny candidate union)
- binned range join (the range-join-optimization plan: interval -> bin
  explode, point -> bin, equi-join + residual — no BNL/cartesian)
- BPE-ish regex token accounting (reference-free tokenizer proxy)
- prefix-filter exact Jaccard join (AllPairs/PPJoin: recall 1 by the
  prefix-filtering lemma, precision 1 by exact verify — the *exact*
  counterpart to MinHash-LSH dedup)
- containment join (|A∩B|/|A| — quote/subset detection, both directions)
- hierarchy closure by pointer doubling (root + depth in O(log d) rounds,
  oracle = recursive CTE)
- per-group z-score via applyInPandas with an *exact-moments* oracle
  (integer centi-unit sums -> identical IEEE op sequence in pandas and
  DuckDB — the first fully ORACLED pandas-UDF operator)

Reference parity: none of these exist in the reference (main.py:1-422);
they are north-star scope (SURVEY.md §2 Part B extensions, family B56).
"""

from __future__ import annotations

import math

from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from etl_data_processor_spark.registry import q, cat as _cat
from etl_data_processor_spark.ops import iterate
from etl_data_processor_spark.ops.dedup import word_shingles
from etl_data_processor_spark.ops.sampling import hash32_sql
from etl_data_processor_spark.ops.similarity import stable_round6
from etl_data_processor_spark.queries_north import _DUCK_SHINGLES

_ROUND6 = "CAST(FLOOR(({x}) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0"


def _cents(col: str):
    """Positive money double -> exact integer cents (engine-independent:
    FLOOR(x*100+0.5) is the same IEEE sequence on both engines)."""
    return F.floor(F.col(col) * F.lit(100.0) + F.lit(0.5)).cast("long")


_CENTS_SQL = "CAST(FLOOR({c} * 100.0 + 0.5) AS BIGINT)"


# =====================================================================
# Cohort retention
# =====================================================================

@q(
    "q_cohort_retention",
    """
    WITH firsts AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
        FROM events GROUP BY user_id
    ),
    act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
    SELECT f.cohort_day,
           CAST(date_diff('day', f.cohort_day, a.day) AS INTEGER) AS day_offset,
           COUNT(DISTINCT a.user_id) AS n_users
    FROM act a JOIN firsts f ON a.user_id = f.user_id
    GROUP BY 1, 2
    """,
)
def q_cohort_retention(spark, sf_dir):
    """Cohort retention triangle: users bucketed by first-seen day, counted
    per (cohort day, days-since-cohort). The canonical product-analytics
    rollup. Plan: first-touch groupBy(user) and the activity join share the
    user_id hash partitioning (one logical shuffle reused), and the final
    aggregate is cohort-days x offsets — tiny. Scales: the fact table is
    scanned twice but shuffled on user_id only."""
    ev = _cat(spark, sf_dir).events
    firsts = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("cohort_day")
    )
    act = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    return (
        act.join(firsts, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff(F.col("day"), F.col("cohort_day"))
            .cast("int")
            .alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


# =====================================================================
# Markov event transitions
# =====================================================================

@q(
    "q_markov_transitions",
    f"""
    WITH seq AS (
        SELECT event_type,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS next_type
        FROM events
    ),
    cnt AS (
        SELECT event_type, next_type, COUNT(*) AS n
        FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT event_type, next_type, n,
           {_ROUND6.format(x="CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY event_type) AS DOUBLE)")}
           AS p6
    FROM cnt
    """,
)
def q_markov_transitions(spark, sf_dir):
    """First-order Markov transition matrix over per-user event sequences:
    P(next event type | current). Sequence-model shape for behavioral data.
    ONE shuffle on user_id for the lead window; the transition aggregate is
    |types|^2 rows. The probability is count/group-total in identical IEEE
    ops on both engines (exact integer counts -> double division)."""
    ev = _cat(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    cnt = seq.groupBy("event_type", "next_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = F.sum("n").over(Window.partitionBy("event_type"))
    return cnt.select(
        "event_type",
        "next_type",
        "n",
        stable_round6(
            F.col("n").cast("double") / tot.cast("double")
        ).alias("p6"),
    )


# =====================================================================
# OHLC resample
# =====================================================================

@q(
    "q_ts_ohlc",
    """
    SELECT event_type,
           (epoch_us(ts) // 900000000) * 900000000 AS bucket_us,
           arg_min(value, event_id) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           arg_max(value, event_id) AS close,
           COUNT(*) AS n
    FROM events GROUP BY 1, 2
    """,
)
def q_ts_ohlc(spark, sf_dir):
    """OHLC resample: open/high/low/close per (series, 15-min bucket) —
    the financial-tick downsampling shape. open/close are min_by/max_by on
    the unique event_id (deterministic; no sort needed), so the whole op is
    ONE partial+final hash aggregate — no window, no per-bucket sort.
    Values pass through untouched (no float arithmetic), engine-exact."""
    ev = _cat(spark, sf_dir).events
    bucket = F.expr("(unix_micros(ts) div 900000000) * 900000000").alias(
        "bucket_us"
    )
    return ev.groupBy("event_type", bucket).agg(
        F.min_by("value", "event_id").alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", "event_id").alias("close"),
        F.count(F.lit(1)).alias("n"),
    )


# =====================================================================
# Ratio-to-report
# =====================================================================

@q(
    "q_ratio_to_report",
    f"""
    WITH g AS (
        SELECT o_orderstatus, o_orderpriority,
               CAST(SUM({_CENTS_SQL.format(c="o_totalprice")}) AS BIGINT)
                   AS sum_cents
        FROM orders GROUP BY 1, 2
    )
    SELECT o_orderstatus, o_orderpriority, sum_cents,
           {_ROUND6.format(x="CAST(sum_cents AS DOUBLE) / CAST(SUM(sum_cents) OVER (PARTITION BY o_orderstatus) AS DOUBLE)")}
           AS share6
    FROM g
    """,
)
def q_ratio_to_report(spark, sf_dir):
    """Ratio-to-report: each priority's share of its status group's total.
    The contribution-analysis window op. Exact integer cents aggregate ->
    a tiny window over the group frame (post-agg rows, not the fact table),
    so the fact shuffle is the aggregate's only exchange."""
    o = _cat(spark, sf_dir).orders
    g = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.sum(_cents("o_totalprice")).alias("sum_cents")
    )
    tot = F.sum("sum_cents").over(Window.partitionBy("o_orderstatus"))
    return g.select(
        "o_orderstatus",
        "o_orderpriority",
        "sum_cents",
        stable_round6(
            F.col("sum_cents").cast("double") / tot.cast("double")
        ).alias("share6"),
    )


# =====================================================================
# Exact weighted median
# =====================================================================

@q(
    "q_weighted_median",
    f"""
    WITH li AS (
        SELECT l_returnflag,
               {_CENTS_SQL.format(c="l_extendedprice")} AS v,
               CAST(l_quantity AS BIGINT) AS w
        FROM lineitem
    ),
    g AS (
        SELECT l_returnflag, v, CAST(SUM(w) AS BIGINT) AS w
        FROM li GROUP BY 1, 2
    ),
    c AS (
        SELECT l_returnflag, v,
               SUM(w) OVER (PARTITION BY l_returnflag ORDER BY v
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum,
               SUM(w) OVER (PARTITION BY l_returnflag) AS tot
        FROM g
    )
    SELECT l_returnflag, CAST(MIN(v) AS BIGINT) AS wmedian_cents
    FROM c WHERE cum * 2 >= tot GROUP BY 1
    """,
)
def q_weighted_median(spark, sf_dir):
    """Exact weighted median (price cents weighted by quantity) per group:
    smallest v whose cumulative weight reaches half the total. All integer
    arithmetic (cum*2 >= tot avoids any division), so engine-exact.
    Plan: pre-aggregate per (group, v) FIRST — the cumulative window then
    runs over distinct values, not raw rows (at 100 TB that is the
    difference between a window over billions and over thousands); the
    groupBy, both windows and the final MIN all reuse one l_returnflag
    hash partitioning."""
    li = _cat(spark, sf_dir).lineitem.select(
        "l_returnflag",
        _cents("l_extendedprice").alias("v"),
        F.col("l_quantity").cast("long").alias("w"),
    )
    g = li.groupBy("l_returnflag", "v").agg(F.sum("w").alias("w"))
    wo = Window.partitionBy("l_returnflag").orderBy("v")
    cum = F.sum("w").over(wo.rowsBetween(Window.unboundedPreceding, 0))
    tot = F.sum("w").over(Window.partitionBy("l_returnflag"))
    return (
        g.select("l_returnflag", "v", cum.alias("cum"), tot.alias("tot"))
        .filter(F.col("cum") * 2 >= F.col("tot"))
        .groupBy("l_returnflag")
        .agg(F.min("v").alias("wmedian_cents"))
    )


# =====================================================================
# Seasonal anomaly cells
# =====================================================================

@q(
    "q_anomaly_seasonal",
    """
    WITH cells AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(hour(ts) AS INTEGER) AS hr, COUNT(*) AS n
        FROM events GROUP BY 1, 2, 3
    ),
    tot AS (
        SELECT event_type, hr, CAST(SUM(n) AS BIGINT) AS total
        FROM cells GROUP BY 1, 2
    ),
    nd AS (SELECT COUNT(DISTINCT CAST(ts AS DATE)) AS n_days FROM events)
    SELECT c.event_type, c.day, c.hr, c.n, t.total, nd.n_days
    FROM cells c
    JOIN tot t ON c.event_type = t.event_type AND c.hr = t.hr, nd
    WHERE c.n * nd.n_days > 2 * t.total
    """,
)
def q_anomaly_seasonal(spark, sf_dir):
    """Seasonal-baseline anomaly detection: flag (type, day, hour) cells
    whose count exceeds 2x the hour-of-day average for that type. The
    threshold is the integer cross-multiplication n * n_days > 2 * total
    — no division, engine-exact. Plan: one cell aggregate, a re-aggregate
    of the (tiny) cells frame for baselines, a 1-row broadcast for the
    day count — the fact table shuffles once."""
    ev = _cat(spark, sf_dir).events
    cells = ev.groupBy(
        "event_type",
        F.to_date("ts").alias("day"),
        F.hour("ts").alias("hr"),
    ).agg(F.count(F.lit(1)).alias("n"))
    totals = cells.groupBy("event_type", "hr").agg(
        F.sum("n").alias("total")
    )
    ndays = ev.agg(F.countDistinct(F.to_date("ts")).alias("n_days"))
    return (
        cells.join(totals, ["event_type", "hr"])
        .crossJoin(F.broadcast(ndays))
        .filter(F.col("n") * F.col("n_days") > 2 * F.col("total"))
        .select("event_type", "day", "hr", "n", "total", "n_days")
    )


# =====================================================================
# 2D skyline (Pareto frontier), two-phase distributed
# =====================================================================

def _skyline_pass(df, part_cols):
    """Keep points not dominated within (part_cols) groups, maximizing
    (price_c, d). Dominated iff a strictly-higher-price point has d >= ours
    (RANGE frame over the integer price) or an equal-price point has d >
    ours."""
    w_hi = (
        Window.partitionBy(*part_cols)
        .orderBy("price_c")
        .rangeBetween(1, Window.unboundedFollowing)
    )
    w_same = Window.partitionBy(*part_cols, "price_c")
    return (
        df.withColumn("__mdh", F.max("d").over(w_hi))
        .withColumn("__mds", F.max("d").over(w_same))
        .filter(
            (F.col("__mdh").isNull() | (F.col("__mdh") < F.col("d")))
            & (F.col("__mds") <= F.col("d"))
        )
        .drop("__mdh", "__mds")
    )


@q(
    "q_skyline",
    f"""
    WITH pts AS (
        SELECT o_orderkey, {_CENTS_SQL.format(c="o_totalprice")} AS price_c,
               epoch_us(o_orderdate) AS d
        FROM orders
    ),
    -- Dominator-candidate set S: the window-formulated skyline (a point
    -- survives iff it beats the running max d over STRICTLY higher prices
    -- and is the max d within its own price). This is provably the exact
    -- skyline, but the oracle does NOT trust it as the answer — it is only
    -- the candidate-dominator set for the NOT EXISTS below, which is
    -- sound on its own: p is dominated iff some MAXIMAL point dominates p,
    -- and every maximal point is in any superset of the skyline. Cost
    -- drops from n² to n·|skyline|.
    s AS (
        SELECT * FROM (
            SELECT o_orderkey, price_c, d,
                   MAX(d) OVER (ORDER BY price_c DESC
                                RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     AS m_hi,
                   MAX(d) OVER (PARTITION BY price_c) AS m_same
            FROM pts
        )
        WHERE (m_hi IS NULL OR d > m_hi) AND d = m_same
    )
    SELECT p.o_orderkey, p.price_c, p.d FROM pts p
    WHERE NOT EXISTS (
        SELECT 1 FROM s q2
        WHERE q2.price_c >= p.price_c AND q2.d >= p.d
          AND (q2.price_c > p.price_c OR q2.d > p.d)
    )
    """,
)
def q_skyline(spark, sf_dir):
    """2D skyline (Pareto frontier): orders not dominated on
    (total price, order date) — the multi-criteria shortlist operator.
    TWO-PHASE distributed algorithm: phase 1 computes a local skyline
    inside each of 32 hash-salt partitions (dominated-anywhere implies
    dominated-locally is false, but dominated-locally implies
    dominated-globally, so phase 1 only drops true losers and every global
    skyline point survives); phase 2 re-runs the same window pass globally
    over the O(salts x skyline) survivor set — tiny, so its single-
    partition sort is free. The oracle is the independent NOT EXISTS
    definition, not the window formulation."""
    o = _cat(spark, sf_dir).orders
    pts = o.select(
        "o_orderkey",
        _cents("o_totalprice").alias("price_c"),
        F.unix_micros(F.col("o_orderdate")).alias("d"),
    )
    salted = pts.withColumn(
        "__salt", F.pmod(F.xxhash64("o_orderkey"), F.lit(32))
    )
    local = _skyline_pass(salted, ["__salt"]).drop("__salt")
    return _skyline_pass(local, [])


# =====================================================================
# Binned range join
# =====================================================================

_BIN_US = 300_000_000  # 5 minutes, == the interval length


@q(
    "q_range_bin_join",
    f"""
    WITH err AS (
        SELECT event_id AS incident_id, epoch_us(ts) AS s,
               epoch_us(ts) + {_BIN_US} AS e
        FROM events WHERE event_type = 'error'
    ),
    clk AS (SELECT epoch_us(ts) AS t FROM events WHERE event_type = 'click')
    SELECT incident_id, COUNT(*) AS n_clicks
    FROM err, clk WHERE t >= s AND t < e
    GROUP BY incident_id
    """,
)
def q_range_bin_join(spark, sf_dir):
    """Point-in-interval range join via BINNING: each 5-min incident window
    explodes to the 1-2 bins it overlaps (bin width == interval length),
    each point maps to exactly one bin, and the join becomes an EQUI join
    on the bin key + a residual range filter. A pair can only meet in the
    point's single bin, so no dedup is needed. This is the range-join
    optimization re-expressed declaratively: the naive plan is a
    BroadcastNestedLoop/cartesian at O(N*M); this is one hash shuffle on
    the bin key with per-bin locality (pinned BNL-free by
    tests/test_plans.py)."""
    ev = _cat(spark, sf_dir).events
    us = F.unix_micros(F.col("ts"))
    err = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("incident_id"),
        us.alias("s"),
        (us + F.lit(_BIN_US)).alias("e"),
    )
    clk = ev.filter(F.col("event_type") == "click").select(us.alias("t"))
    errb = err.withColumn(
        "bin",
        F.explode(
            F.sequence(
                F.expr(f"s div {_BIN_US}"), F.expr(f"(e - 1) div {_BIN_US}")
            )
        ),
    )
    clkb = clk.withColumn("bin", F.expr(f"t div {_BIN_US}"))
    return (
        errb.join(clkb, "bin")
        .filter((F.col("t") >= F.col("s")) & (F.col("t") < F.col("e")))
        .groupBy("incident_id")
        .agg(F.count(F.lit(1)).alias("n_clicks"))
    )


# =====================================================================
# Equi-depth histogram profiling
# =====================================================================

_DECILES = [i / 10.0 for i in range(1, 10)]


@q(
    "q_profile_equidepth",
    f"""
    WITH b AS (
        -- boundaries round to 6dp: the mathematical deciles are
        -- interpolations of 2-decimal values at 1-decimal fractions (<= 3
        -- true decimals), but both engines compute the (n-1)*p index in
        -- doubles, and when it lands ~integer their last-ulp differences
        -- can put a DATA value on opposite sides of a boundary (seen at
        -- sf0.1). round6 is exact for every true boundary and kills the
        -- 1e-12 index noise in both engines identically.
        SELECT event_type,
               list_transform(quantile_cont(value, {_DECILES!r}),
                              x -> ROUND(x, 6)) AS bs
        FROM events GROUP BY 1
    ),
    a AS (
        SELECT e.event_type, e.value,
               CAST(len(list_filter(b.bs, x -> e.value > x)) AS INTEGER)
                   AS bucket
        FROM events e JOIN b ON e.event_type = b.event_type
    )
    SELECT event_type, bucket, COUNT(*) AS n,
           MIN(value) AS bucket_min, MAX(value) AS bucket_max
    FROM a GROUP BY 1, 2
    """,
)
def q_profile_equidepth(spark, sf_dir):
    """Equi-depth (decile) histogram per series — the profiling complement
    to q_profile_hist's fixed grid: bucket BOUNDARIES adapt to the data
    (what query optimizers store), so skewed distributions still get ~10%
    of rows per bucket. Exact interpolated deciles (engine parity proven
    by q_percentile_exact) come from one aggregate; each row's bucket is
    the count of boundaries below it — an array filter against the
    broadcast per-group boundary row, no sort, no ntile (a global ntile
    would single-partition the sort at 100 TB; this is two hash
    aggregates + a broadcast join)."""
    ev = _cat(spark, sf_dir).events
    b = ev.groupBy("event_type").agg(
        F.transform(
            F.percentile("value", F.array(*[F.lit(p) for p in _DECILES])),
            lambda x: F.round(x, 6),
        ).alias("bs")
    )
    a = ev.select("event_type", "value").join(F.broadcast(b), "event_type")
    bucket = F.size(
        F.filter(F.col("bs"), lambda x: F.col("value") > x)
    ).cast("int")
    return (
        a.select("event_type", "value", bucket.alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("bucket_min"),
            F.max("value").alias("bucket_max"),
        )
    )


# =====================================================================
# Readability scoring
# =====================================================================

@q(
    "q_text_readability",
    f"""
    WITH c AS (
        SELECT doc_id,
               len(regexp_extract_all(text, '[A-Za-z]+')) AS words,
               GREATEST(CAST(1 AS BIGINT),
                        len(regexp_extract_all(text, '[.!?]+'))) AS sentences,
               len(regexp_extract_all(lower(text), '[aeiouy]+')) AS syllables
        FROM documents
    )
    SELECT doc_id, words, sentences, syllables,
           CASE WHEN words > 0 THEN
               {_ROUND6.format(x="206.835 - 1.015 * (CAST(words AS DOUBLE) / sentences) - 84.6 * (CAST(syllables AS DOUBLE) / words)")}
           END AS flesch6
    FROM c
    """,
)
def q_text_readability(spark, sf_dir):
    """Flesch reading-ease per document from regexp-counted words,
    sentence marks and vowel-group syllable approximations — the
    readability-based quality signal in the C4/Gopher filtering lineage.
    Pure Column expressions (narrow, no shuffle); the score is exact-int
    divisions and fixed literals, so both engines produce the identical
    double (round6 for belt and braces). NULL when a doc has no words."""
    d = _cat(spark, sf_dir).documents
    words = F.size(F.regexp_extract_all(F.col("text"), F.lit("[A-Za-z]+"), 0)).cast("long")
    sentences = F.greatest(
        F.lit(1).cast("long"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[.!?]+"), 0)).cast("long"),
    )
    syllables = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit("[aeiouy]+"), 0)
    ).cast("long")
    c = d.select(
        "doc_id",
        words.alias("words"),
        sentences.alias("sentences"),
        syllables.alias("syllables"),
    )
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * (F.col("words").cast("double") / F.col("sentences"))
        - F.lit(84.6) * (F.col("syllables").cast("double") / F.col("words"))
    )
    return c.select(
        "doc_id",
        "words",
        "sentences",
        "syllables",
        F.when(F.col("words") > 0, stable_round6(flesch)).alias("flesch6"),
    )


# =====================================================================
# BPE-ish regex token accounting
# =====================================================================

_BPE_PAT = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


@q(
    "q_text_bpe_tokens",
    f"""
    WITH t AS (
        SELECT doc_id,
               len(regexp_extract_all(text, '{_BPE_PAT}')) AS n_bpe,
               len(list_distinct(regexp_extract_all(text, '{_BPE_PAT}')))
                   AS n_bpe_distinct
        FROM documents
    )
    SELECT doc_id, n_bpe, n_bpe_distinct,
           CASE WHEN n_bpe > 0
                THEN CAST(n_bpe_distinct AS DOUBLE) / CAST(n_bpe AS DOUBLE)
                ELSE 0.0 END AS distinct_ratio
    FROM t
    """,
)
def q_text_bpe_tokens(spark, sf_dir):
    """BPE-ish token accounting: pre-tokenizer pieces (letter runs, single
    digits, punctuation runs of 1) per document plus the distinct-piece
    ratio — the training-cost / vocabulary-pressure estimator that
    whitespace token counts miss. Pure regexp_extract_all Column
    expressions (pattern is lookaround-free so Java regex and RE2 agree);
    narrow plan, no shuffle."""
    d = _cat(spark, sf_dir).documents
    pieces = F.regexp_extract_all(F.col("text"), F.lit(_BPE_PAT), 0)
    t = d.select(
        "doc_id",
        F.size(pieces).cast("long").alias("n_bpe"),
        F.size(F.array_distinct(pieces)).cast("long").alias(
            "n_bpe_distinct"
        ),
    )
    return t.select(
        "doc_id",
        "n_bpe",
        "n_bpe_distinct",
        F.when(
            F.col("n_bpe") > 0,
            F.col("n_bpe_distinct").cast("double")
            / F.col("n_bpe").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("distinct_ratio"),
    )


# =====================================================================
# Prefix-filter exact Jaccard join (AllPairs/PPJoin)
# =====================================================================

_SHINGLES_CTE = (
    "SELECT doc_id, " + _DUCK_SHINGLES + " AS toks "
    "FROM (SELECT doc_id, string_split(text, ' ') w FROM documents)"
)


@q(
    "q_jaccard_join_prefix",
    f"""
    WITH tk AS ({_SHINGLES_CTE}),
    -- INDEPENDENT prefix candidates under the LEXICOGRAPHIC token order
    -- (the engine under test orders by global df): the prefix lemma holds
    -- under ANY global order, so this is a complete candidate generator
    -- with a different mechanism — near-linear instead of all-pairs,
    -- which is unrunnable at sf0.1. ceil(0.7n) = (7n+9)//10 in integer
    -- arithmetic.
    pref AS (
        SELECT doc_id,
               UNNEST(list_slice(list_sort(toks), 1,
                                 len(toks) - (7 * len(toks) + 9) // 10 + 1)) AS tok
        FROM tk
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM pref a JOIN pref b ON a.tok = b.tok AND a.doc_id < b.doc_id
    )
    SELECT c.id_a, c.id_b,
           CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
           / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))
               AS jaccard
    FROM cand c
    JOIN tk a ON a.doc_id = c.id_a
    JOIN tk b ON b.doc_id = c.id_b
    WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
          / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))
          >= 0.7
    """,
)
def q_jaccard_join_prefix(spark, sf_dir):
    """EXACT set-similarity self-join via prefix filtering (AllPairs /
    PPJoin): order each doc's distinct tokens rarest-global-df-first; for
    threshold t=0.7 a doc of n tokens keeps a prefix of
    n - ceil(0.7n) + 1 tokens; the prefix-filtering lemma guarantees any
    pair with Jaccard >= t shares a prefix token (recall 1 — unlike
    MinHash-LSH there is NO probabilistic miss), and the exact-Jaccard
    verify keeps precision 1. Plan: token df aggregate + per-doc rank
    window + equi-join on the (rare) prefix tokens — candidate volume is
    driven by rare tokens, never all-pairs. The oracle generates its own
    candidates under the LEXICOGRAPHIC order (provably complete under any
    global order) — a different mechanism than the engine's df order, so
    the gate still cross-checks the filter, at near-linear oracle cost."""
    from etl_data_processor_spark.ops.dedup import prefix_filter_jaccard_pairs

    d = _cat(spark, sf_dir).documents
    tk = d.select("doc_id", word_shingles(F.col("text")).alias("toks"))
    return prefix_filter_jaccard_pairs(tk, "doc_id", "toks", (7, 10))


# =====================================================================
# Containment join
# =====================================================================

@q(
    "q_containment_join",
    f"""
    WITH tk AS ({_SHINGLES_CTE}),
    -- asymmetric prefix filter (Chaudhuri et al., SSJoin): containment
    -- |A∩B| >= ceil(0.9|A|) forces A's first |A| - ceil(0.9|A|) + 1
    -- SORTED tokens to hit B somewhere, so prefix(A) ⋈ full-index(B) is
    -- an exact candidate generator — near-linear instead of the all-pairs
    -- list_intersect (quadratic; minutes at sf0.1)
    pref AS (
        SELECT doc_id,
               UNNEST(list_slice(list_sort(toks), 1,
                                 len(toks) - (9 * len(toks) + 9) // 10 + 1)) AS tok
        FROM tk
    ),
    inv AS (SELECT doc_id, UNNEST(toks) AS tok FROM tk),
    cand AS (
        SELECT DISTINCT a.doc_id AS cid, b.doc_id AS kid
        FROM pref a JOIN inv b ON a.tok = b.tok AND a.doc_id <> b.doc_id
    ),
    pairs AS (
        SELECT c.cid, c.kid,
               len(list_intersect(a.toks, b.toks)) AS nc,
               len(a.toks) AS na
        FROM cand c
        JOIN tk a ON a.doc_id = c.cid
        JOIN tk b ON b.doc_id = c.kid
    )
    SELECT cid AS contained_id, kid AS container_id,
           CAST(nc AS DOUBLE) / na AS containment
    FROM pairs WHERE nc > 0 AND 10 * nc >= 9 * na
    """,
)
def q_containment_join(spark, sf_dir):
    """Containment join: (a contained-in b) when >= 90% of a's distinct
    tokens appear in b — the quote / subset-document detector that
    symmetric Jaccard misses (a tiny doc quoted inside a huge one has low
    Jaccard but containment 1). Plan: inverted-index self-join counts
    co-occurring tokens per pair (zero-overlap pairs never materialize),
    per-doc sizes join back, and the 0.9 test is the integer
    cross-multiplication 10*nc >= 9*na — exact, no float threshold (the
    oracle guards nc > 0: the index never materializes zero-overlap
    pairs, and 10·0 >= 9·0 would pass vacuously for an empty-set doc)."""
    d = _cat(spark, sf_dir).documents
    tk = d.select("doc_id", word_shingles(F.col("text")).alias("toks"))
    tk.cache()  # exploded index + two size joins
    sizes = tk.select("doc_id", F.size("toks").alias("nt"))
    ex = tk.select("doc_id", F.explode("toks").alias("tok"))
    a = ex.select(F.col("doc_id").alias("id_a"), "tok")
    b = ex.select(F.col("doc_id").alias("id_b"), "tok")
    common = (
        a.join(b, "tok")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("nc"))
    )
    both = (
        common.join(
            sizes.select(F.col("doc_id").alias("id_a"), F.col("nt").alias("na")),
            "id_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("id_b"), F.col("nt").alias("nb")),
            "id_b",
        )
    )
    d1 = both.filter(10 * F.col("nc") >= 9 * F.col("na")).select(
        F.col("id_a").alias("contained_id"),
        F.col("id_b").alias("container_id"),
        (F.col("nc").cast("double") / F.col("na")).alias("containment"),
    )
    d2 = both.filter(10 * F.col("nc") >= 9 * F.col("nb")).select(
        F.col("id_b").alias("contained_id"),
        F.col("id_a").alias("container_id"),
        (F.col("nc").cast("double") / F.col("nb")).alias("containment"),
    )
    return d1.unionAll(d2)


# =====================================================================
# Hierarchy closure by pointer doubling
# =====================================================================

def _pointer_double_closure(nodes, base: int = 8):
    """(node, anc, dist) closure of parent(k) = k div ``base`` (roots
    k < base) by pointer doubling over an arbitrary node SET (ids may be
    non-contiguous: a LEFT join with an arithmetic single-step fallback
    handles ancestors that are not themselves tracked nodes — an inner
    join would silently drop those chains). Rounds run through
    ``ops.iterate.rounds`` until the state hash stops changing: a resolved
    state (every anc a root) maps to itself."""
    state = nodes.select(
        "node",
        F.when(F.col("node") < base, F.col("node"))
        .otherwise(F.expr(f"node div {base}"))
        .alias("anc"),
        F.when(F.col("node") < base, F.lit(0))
        .otherwise(F.lit(1))
        .cast("int")
        .alias("dist"),
    )
    arith_anc = F.when(F.col("anc") < base, F.col("anc")).otherwise(
        F.expr(f"anc div {base}")
    )
    arith_d = F.when(F.col("anc") < base, F.lit(0)).otherwise(F.lit(1))

    def step(state, _):
        amap = state.select(
            F.col("node").alias("anc"),
            F.col("anc").alias("anc2"),
            F.col("dist").alias("d2"),
        )
        return state.join(amap, "anc", "left").select(
            "node",
            F.coalesce(F.col("anc2"), arith_anc).alias("anc"),
            (F.col("dist") + F.coalesce(F.col("d2"), arith_d))
            .cast("int")
            .alias("dist"),
        )

    # 2^40 depth bound — a fixed point comes far earlier
    return iterate.rounds(
        state, step, 40, signature=iterate.state_hash("node", "anc", "dist")
    )


@q(
    "q_hierarchy_closure",
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
def q_hierarchy_closure(spark, sf_dir):
    """Hierarchy closure (root + depth) over the derived part forest
    parent(k) = k div 8, roots k < 8 — the org-chart / BOM recursive
    query Spark SQL lacks. POINTER DOUBLING: state (node, anc, dist)
    repeatedly substitutes anc := anc(anc), dist += dist(anc), so a
    depth-d forest resolves in O(log d) self-join rounds instead of d
    per-level rounds — at 100 TB each round is one equi-join shuffle and
    the round count stays single digits for any realistic hierarchy.
    Untracked ancestors (non-contiguous key spaces) take an arithmetic
    single step instead of being dropped (gap-pinned by test).
    Rounds run through ops.iterate.rounds, like ops/graph.py's connected
    components: the state hash observed by each round's checkpoint job
    detects the fixed point, with no separate action. Oracle = DuckDB
    recursive CTE, i.e. the per-level definition — the gate proves
    doubling computes the same closure."""
    p = _cat(spark, sf_dir).part.select(F.col("p_partkey").alias("node"))
    state = _pointer_double_closure(p, base=8)
    return state.select(
        F.col("node").alias("p_partkey"),
        F.col("anc").alias("root"),
        F.col("dist").alias("depth"),
    )


# =====================================================================
# Portable HyperLogLog (fully oracled sketch)
# =====================================================================

# alpha_m for m=64 registers: 0.7213/(1+1.079/m), embedded as the SAME
# double literal on both engines
_HLL_ALPHA = 0.7093409548395029
_HLL_M = 64


def _hll_registers(keyed, group_cols: list[str], key):
    """(group..., reg, m): per-register max leading-zero rank from the
    portable 32-bit hash — 6 low bits pick the register, the remaining 26
    bits yield rho = 27 - bitlength (27 when all zero)."""
    from etl_data_processor_spark.ops.sampling import hash32

    h = hash32(key)
    reg = F.pmod(h, F.lit(_HLL_M))
    rest = F.expr(f"__h div {_HLL_M}")
    rho = F.when(rest == 0, F.lit(27)).otherwise(
        F.lit(27) - F.length(F.bin(rest))
    )
    return (
        keyed.withColumn("__h", h)
        .select(*group_cols, reg.alias("reg"), rho.alias("rho"))
        .groupBy(*group_cols, "reg")
        .agg(F.max("rho").alias("m"))
    )


@q(
    "q_sketch_hll_portable",
    f"""
    WITH h AS (
        SELECT event_type, {hash32_sql("user_id")} AS h
        FROM (SELECT event_type, user_id FROM events)
    ),
    r AS (SELECT event_type, h % {_HLL_M} AS reg, h // {_HLL_M} AS rest
          FROM h),
    rho AS (
        SELECT event_type, reg,
               MAX(CASE WHEN rest = 0 THEN 27
                        ELSE 27 - length(bin(rest)) END) AS m
        FROM r GROUP BY 1, 2
    ),
    agg AS (
        SELECT event_type, COUNT(*) AS nobs,
               SUM(1.0 / CAST((1::BIGINT << m) AS DOUBLE)) AS s_obs
        FROM rho GROUP BY 1
    ),
    est AS (
        SELECT event_type, CAST({_HLL_M} - nobs AS BIGINT) AS v,
               CAST({_HLL_ALPHA!r} AS DOUBLE) * {_HLL_M * _HLL_M}.0
               / (s_obs + ({_HLL_M} - nobs) * 1.0) AS e_raw
        FROM agg
    ),
    ex AS (
        SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct
        FROM events GROUP BY 1
    )
    SELECT est.event_type,
           CAST(FLOOR(
               (CASE WHEN e_raw <= {2.5 * _HLL_M!r} AND v > 0
                     THEN {_HLL_M}.0 * ln({_HLL_M}.0 / v)
                     ELSE e_raw END) * 1000000.0 + 0.5
           ) AS DOUBLE) / 1000000.0 AS hll6,
           ex.exact_distinct
    FROM est JOIN ex ON est.event_type = ex.event_type
    """,
)
def q_sketch_hll_portable(spark, sf_dir):
    """PORTABLE HyperLogLog distinct-count sketch, fully oracled — the
    HLL counterpart to q_sketch_cms: registers are built from the portable
    32-bit hash mixer (ops/sampling.hash32), so DuckDB derives the
    bit-identical register file, and the estimator below is written as the
    same IEEE sequence on both engines (per-register 2^-M terms are exact
    powers of two, so their sum is order-independent; ln drift is absorbed
    by round6). 6-bit register index, rho = 27 - bitlength(26-bit rest),
    m=64, small-range linear counting below 2.5m. The register file is a
    tall (group, reg, max-rho) frame — MERGEABLE by construction (max
    re-aggregates; pinned by test against day-sliced partials), which is
    the materialize-partials-once / merge-later 100 TB cardinality
    pattern. Exact distinct counts ride along for error inspection.
    Plan: one hash aggregate over (group, reg) then a 64-rows-per-group
    re-aggregate — no distinct shuffle of raw keys at any point."""
    ev = _cat(spark, sf_dir).events
    regs = _hll_registers(
        ev.select("event_type", "user_id"), ["event_type"], F.col("user_id")
    )
    term = F.lit(1.0) / F.expr("cast(shiftleft(1L, m) as double)")
    agg = regs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("nobs"), F.sum(term).alias("s_obs")
    )
    est = agg.select(
        "event_type",
        (F.lit(_HLL_M) - F.col("nobs")).cast("long").alias("v"),
        (
            F.lit(_HLL_ALPHA)
            * F.lit(float(_HLL_M * _HLL_M))
            / (F.col("s_obs") + (F.lit(_HLL_M) - F.col("nobs")) * F.lit(1.0))
        ).alias("e_raw"),
    )
    corrected = F.when(
        (F.col("e_raw") <= F.lit(2.5 * _HLL_M)) & (F.col("v") > 0),
        F.lit(float(_HLL_M)) * F.log(F.lit(float(_HLL_M)) / F.col("v")),
    ).otherwise(F.col("e_raw"))
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return (
        est.select(
            "event_type", stable_round6(corrected).alias("hll6")
        )
        .join(exact, "event_type")
        .select("event_type", "hll6", "exact_distinct")
    )


# =====================================================================
# Sliding-window distinct via merged HLL registers
# =====================================================================

@q(
    "q_sliding_distinct_hll",
    f"""
    WITH h AS (
        SELECT CAST(ts AS DATE) AS day, {hash32_sql("user_id")} AS h
        FROM (SELECT ts, user_id FROM events)
    ),
    r AS (SELECT day, h % {_HLL_M} AS reg, h // {_HLL_M} AS rest FROM h),
    rho AS (
        SELECT day, reg,
               MAX(CASE WHEN rest = 0 THEN 27
                        ELSE 27 - length(bin(rest)) END) AS m
        FROM r GROUP BY 1, 2
    ),
    ex AS (
        SELECT CAST(day + CAST(t.i AS INTEGER) AS DATE) AS wend, reg, m
        FROM rho, range(7) AS t(i)
    ),
    mg AS (SELECT wend, reg, MAX(m) AS m FROM ex GROUP BY 1, 2),
    agg AS (
        SELECT wend, COUNT(*) AS nobs,
               SUM(1.0 / CAST((1::BIGINT << m) AS DOUBLE)) AS s_obs
        FROM mg GROUP BY 1
    ),
    est AS (
        SELECT wend, CAST({_HLL_M} - nobs AS BIGINT) AS v,
               CAST({_HLL_ALPHA!r} AS DOUBLE) * {_HLL_M * _HLL_M}.0
               / (s_obs + ({_HLL_M} - nobs) * 1.0) AS e_raw
        FROM agg
    ),
    exact AS (
        SELECT wend, COUNT(DISTINCT user_id) AS exact_users
        FROM (
            SELECT CAST(CAST(ts AS DATE) + CAST(t.i AS INTEGER) AS DATE)
                       AS wend, user_id
            FROM events, range(7) AS t(i)
        ) GROUP BY 1
    )
    SELECT est.wend,
           CAST(FLOOR(
               (CASE WHEN e_raw <= {2.5 * _HLL_M!r} AND v > 0
                     THEN {_HLL_M}.0 * ln({_HLL_M}.0 / v)
                     ELSE e_raw END) * 1000000.0 + 0.5
           ) AS DOUBLE) / 1000000.0 AS hll6,
           exact.exact_users
    FROM est JOIN exact ON est.wend = exact.wend
    """,
)
def q_sliding_distinct_hll(spark, sf_dir):
    """Trailing-7-day distinct users via MERGED HLL register files — the
    at-scale counterpart to q_sliding_distinct's exact rewrite. Per-day
    register files (64 rows/day, built once from the fact table) explode
    to the <=7 window-ends they feed and merge by MAX — so the sliding
    re-aggregation touches 64 x days rows TOTAL, independent of both the
    event volume and the user cardinality (the exact form shuffles
    |distinct day-user| x 7). Same portable register/estimator math as
    q_sketch_hll_portable, so the whole thing — including the
    approximation — is value-matched against DuckDB; exact counts ride
    along here to expose the HLL error (a production run at scale drops
    the exact branch — it IS the cost this operator exists to avoid)."""
    ev = _cat(spark, sf_dir).events
    regs_day = _hll_registers(
        ev.select(F.to_date("ts").alias("day"), "user_id"),
        ["day"],
        F.col("user_id"),
    )
    ex = regs_day.select(
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"),
        "day",
        "reg",
        "m",
    ).select(F.date_add(F.col("day"), F.col("i")).alias("wend"), "reg", "m")
    merged = ex.groupBy("wend", "reg").agg(F.max("m").alias("m"))
    term = F.lit(1.0) / F.expr("cast(shiftleft(1L, m) as double)")
    agg = merged.groupBy("wend").agg(
        F.count(F.lit(1)).alias("nobs"), F.sum(term).alias("s_obs")
    )
    est = agg.select(
        "wend",
        (F.lit(_HLL_M) - F.col("nobs")).cast("long").alias("v"),
        (
            F.lit(_HLL_ALPHA)
            * F.lit(float(_HLL_M * _HLL_M))
            / (F.col("s_obs") + (F.lit(_HLL_M) - F.col("nobs")) * F.lit(1.0))
        ).alias("e_raw"),
    )
    corrected = F.when(
        (F.col("e_raw") <= F.lit(2.5 * _HLL_M)) & (F.col("v") > 0),
        F.lit(float(_HLL_M)) * F.log(F.lit(float(_HLL_M)) / F.col("v")),
    ).otherwise(F.col("e_raw"))
    du = ev.select(F.to_date("ts").alias("day"), "user_id")
    exact = (
        du.select(
            F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"),
            "day",
            "user_id",
        )
        .select(F.date_add(F.col("day"), F.col("i")).alias("wend"), "user_id")
        .groupBy("wend")
        .agg(F.countDistinct("user_id").alias("exact_users"))
    )
    return (
        est.select("wend", stable_round6(corrected).alias("hll6"))
        .join(exact, "wend")
        .select("wend", "hll6", "exact_users")
    )


# =====================================================================
# Last-touch attribution
# =====================================================================

@q(
    "q_attribution_last_touch",
    """
    WITH seq AS (
        SELECT event_id, user_id, event_type,
               LAST_VALUE(CASE WHEN event_type <> 'purchase'
                               THEN event_type END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS attributed_to
        FROM events
    )
    SELECT event_id, user_id, attributed_to
    FROM seq WHERE event_type = 'purchase'
    """,
)
def q_attribution_last_touch(spark, sf_dir):
    """Last-touch attribution: each purchase is credited to the user's most
    recent preceding non-purchase event (NULL when the purchase opens the
    history). The conversion-credit op marketing analytics runs on every
    clickstream. One window shuffle on user_id; `last(..., ignorenulls)`
    over a conditional projection skips interleaved purchases without a
    second pass or a self-join."""
    ev = _cat(spark, sf_dir).events
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    attributed = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    return (
        ev.withColumn("attributed_to", attributed)
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "attributed_to")
    )


# =====================================================================
# Sliding-window distinct users
# =====================================================================

@q(
    "q_sliding_distinct",
    """
    WITH du AS (
        SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    ex AS (
        SELECT CAST(day + CAST(i AS INTEGER) AS DATE) AS wend, user_id
        FROM du, range(7) r(i)
    )
    SELECT wend, COUNT(DISTINCT user_id) AS n_users
    FROM ex GROUP BY wend
    """,
)
def q_sliding_distinct(spark, sf_dir):
    """Trailing-7-day distinct active users per day (rolling DAU->WAU).
    Distinct counts do NOT merge across overlapping windows, so the
    classic rewrite: reduce to distinct (day, user) FIRST (the only pass
    over the fact table), then explode each day to the <=7 window-ends it
    feeds and re-count distinct per end. Shuffle volume is
    |distinct day-user| * 7, independent of raw event volume — the reason
    this beats recomputing each window from raw events at 100 TB.
    (Window ends run 6 days past the last activity day by construction —
    trailing windows that still contain it.)"""
    ev = _cat(spark, sf_dir).events
    du = ev.select(
        F.to_date("ts").alias("day"), "user_id"
    ).distinct()
    ex = du.select(
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"),
        "day",
        "user_id",
    ).select(
        F.date_add(F.col("day"), F.col("i")).alias("wend"), "user_id"
    )
    return ex.groupBy("wend").agg(
        F.countDistinct("user_id").alias("n_users")
    )


# =====================================================================
# Table-format lifecycle (log-structured commits end-to-end)
# =====================================================================

@q(
    "q_tableformat_lifecycle",
    f"""
    WITH snap AS (
        SELECT o_orderkey, o_orderpriority,
               CASE WHEN o_orderkey % 5 = 0
                    THEN {_CENTS_SQL.format(c="o_totalprice")} + 100
                    ELSE {_CENTS_SQL.format(c="o_totalprice")} END AS cents
        FROM orders WHERE o_orderkey % 3 = 0 OR o_orderkey % 5 = 0
    )
    SELECT o_orderpriority, COUNT(*) AS n,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM snap GROUP BY 1
    """,
)
def q_tableformat_lifecycle(spark, sf_dir):
    """END-TO-END lifecycle of the log-structured table format
    (tableformat.py), oracle-gated: append orders with orderkey%3==0,
    append the %5 slice, transactionally OVERWRITE the %5 slice's rows
    with +100-cent corrected values (read-modify-write through a snapshot
    read), compact, then aggregate the head snapshot. The oracle computes
    the expected FINAL state directly from the fixture — so the gate
    proves commits, snapshot isolation, replace semantics and compaction
    preserve exactly the right rows. Runs in a throwaway table dir; every
    stage is a committed version (history length 4)."""
    import tempfile

    from etl_data_processor_spark import tableformat as TF

    o = _cat(spark, sf_dir).orders.select(
        "o_orderkey", "o_orderpriority", _cents("o_totalprice").alias("cents")
    )
    t = tempfile.mkdtemp(prefix="tf_lifecycle_")
    TF.append(o.filter(F.col("o_orderkey") % 3 == 0), t)
    TF.append(
        o.filter(
            (F.col("o_orderkey") % 5 == 0) & (F.col("o_orderkey") % 3 != 0)
        ),
        t,
    )
    snap = TF.read(spark, t)
    corrected = snap.select(
        "o_orderkey",
        "o_orderpriority",
        F.when(
            F.col("o_orderkey") % 5 == 0, F.col("cents") + 100
        ).otherwise(F.col("cents")).alias("cents"),
    )
    TF.overwrite(corrected, t)
    TF.compact(spark, t, target_files=2)
    assert len(TF.history(t)) == 4
    result = (
        TF.read(spark, t)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("sum_cents"),
        )
        # materialize BEFORE deleting the throwaway table — the caller
        # consumes the (lazy) result after this function returns
        .localCheckpoint(eager=True)
    )
    import shutil

    shutil.rmtree(t, ignore_errors=True)
    return result


# =====================================================================
# Period-over-period change
# =====================================================================

@q(
    "q_period_over_period",
    f"""
    WITH wk AS (
        SELECT o_orderpriority,
               CAST(date_trunc('week', o_orderdate) AS DATE) AS week,
               CAST(SUM({_CENTS_SQL.format(c="o_totalprice")}) AS BIGINT)
                   AS rev_cents
        FROM orders GROUP BY 1, 2
    )
    SELECT o_orderpriority, week, rev_cents,
           CASE WHEN prev IS NOT NULL AND prev <> 0 THEN
               {_ROUND6.format(x="CAST(rev_cents - prev AS DOUBLE) / CAST(prev AS DOUBLE)")}
           END AS wow6
    FROM (
        SELECT *, LAG(rev_cents) OVER (PARTITION BY o_orderpriority
                                       ORDER BY week) AS prev
        FROM wk
    )
    """,
)
def q_period_over_period(spark, sf_dir):
    """Week-over-week revenue change per priority — the period-comparison
    op every BI layer ships. Exact integer cents aggregate; the lag window
    and the ratio run over the tiny weekly frame, so the fact shuffle is
    the aggregate's only exchange; the change ratio is exact-int division
    in identical IEEE ops (NULL for the first week / zero base)."""
    o = _cat(spark, sf_dir).orders
    wk = o.groupBy(
        "o_orderpriority",
        F.to_date(F.date_trunc("week", F.col("o_orderdate"))).alias("week"),
    ).agg(F.sum(_cents("o_totalprice")).alias("rev_cents"))
    prev = F.lag("rev_cents").over(
        Window.partitionBy("o_orderpriority").orderBy("week")
    )
    withprev = wk.withColumn("prev", prev)
    wow = F.when(
        F.col("prev").isNotNull() & (F.col("prev") != 0),
        stable_round6(
            (F.col("rev_cents") - F.col("prev")).cast("double")
            / F.col("prev").cast("double")
        ),
    )
    return withprev.select(
        "o_orderpriority", "week", "rev_cents", wow.alias("wow6")
    )


# =====================================================================
# Top event paths (sequence mining)
# =====================================================================

@q(
    "q_top_paths",
    """
    WITH seq AS (
        SELECT event_type AS t1,
               LEAD(event_type, 1) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS t2,
               LEAD(event_type, 2) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS t3
        FROM events
    )
    SELECT t1 || '>' || t2 || '>' || t3 AS path, COUNT(*) AS n
    FROM seq WHERE t2 IS NOT NULL AND t3 IS NOT NULL
    GROUP BY 1 ORDER BY n DESC, path LIMIT 20
    """,
)
def q_top_paths(spark, sf_dir):
    """Top-20 length-3 event paths across user journeys — the sequence-
    mining rollup behind flow diagrams. One window shuffle on user_id (two
    leads share the frame), one path aggregate (|types|^3 rows max), and
    the limit plans as TakeOrdered — no global sort materializes.
    Deterministic ties: (count desc, path asc)."""
    ev = _cat(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("t1"),
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    ).filter(F.col("t2").isNotNull() & F.col("t3").isNotNull())
    return (
        seq.select(
            F.concat_ws(">", "t1", "t2", "t3").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "path")
        .limit(20)
    )


# =====================================================================
# Incremental dedup (delta-ingest pairs)
# =====================================================================

@q(
    "q_dedup_incremental",
    f"""
    WITH tk AS (
        SELECT doc_id, doc_id % 10 = 0 AS is_delta, {_DUCK_SHINGLES} AS ss
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
    ),
    pref AS (
        SELECT doc_id, is_delta,
               UNNEST(list_slice(list_sort(ss), 1,
                                 len(ss) - (8 * len(ss) + 9) // 10 + 1)) AS tok
        FROM tk
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM pref a JOIN pref b
          ON a.tok = b.tok AND a.doc_id < b.doc_id
             AND (a.is_delta OR b.is_delta)
    )
    SELECT c.id_a, c.id_b,
           ROUND(CAST(len(list_intersect(a.ss, b.ss)) AS DOUBLE)
                 / (len(a.ss) + len(b.ss) - len(list_intersect(a.ss, b.ss))),
                 4) AS jaccard
    FROM cand c
    JOIN tk a ON a.doc_id = c.id_a
    JOIN tk b ON b.doc_id = c.id_b
    WHERE CAST(len(list_intersect(a.ss, b.ss)) AS DOUBLE)
          / (len(a.ss) + len(b.ss) - len(list_intersect(a.ss, b.ss))) >= 0.8
    """,
)
def q_dedup_incremental(spark, sf_dir):
    """INCREMENTAL dedup: near-dup pairs involving a new-arrival delta
    (doc_id%10==0 plays the daily ingest; the rest is the standing corpus)
    = delta-vs-delta pairs plus delta-vs-base pairs from ONE join of the
    delta's buckets against the whole index — and critically NO base
    self-join. This is the daily-ingest cost model: work is O(|delta|
    signatures) plus bucket collisions against the base signature table
    (the session's shared LSH index — queries_north._lsh_index — sliced by
    the delta predicate, the exact persisted-band-bucket-table production
    shape: re-shingling the 100 TB base never happens). The oracle is the
    naive all-pairs definition restricted to delta-touching pairs, so the
    gate proves the incremental decomposition loses nothing."""
    from etl_data_processor_spark.ops.dedup import lsh_verified_pairs
    from etl_data_processor_spark.queries_north import _lsh_index

    shingled, buckets = _lsh_index(spark, sf_dir)
    # delta buckets against ALL buckets, so the base never meets itself:
    # a delta-base pair is found once from its delta end, a delta-delta
    # pair once from its smaller id
    pairs = lsh_verified_pairs(
        buckets.filter(F.col("doc_id") % 10 == 0), buckets, shingled,
        keep=(F.col("b.doc_id") % 10 != 0) | (F.col("a.doc_id") < F.col("b.doc_id")),
    )
    return pairs.select(
        F.least("id_a", "id_b").alias("id_a"),
        F.greatest("id_a", "id_b").alias("id_b"),
        "jaccard",
    )


# =====================================================================
# Portable SimHash (fully oracled signature)
# =====================================================================

_M32 = 1 << 32


def _charfold32(tok):
    """Portable 32-bit polynomial string hash (Horner, base 31, mod 2^32)
    as a pure Column fold — char codes via ascii(substr), so DuckDB
    derives the bit-identical value (xxhash64, the production hash, has no
    DuckDB twin; this hash exists to make the signature DIFFERENTIALLY
    TESTABLE — swap back for xxhash64 at scale, same plan shape)."""
    codes = F.when(
        F.length(tok) > 0,
        F.transform(
            F.sequence(F.lit(1), F.length(tok)),
            lambda i: F.ascii(tok.substr(i, F.lit(1))).cast("long"),
        ),
    ).otherwise(F.array().cast("array<long>"))
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda a, c: (a * 31 + c) % F.lit(_M32),
    )


_CHARFOLD_SQL = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(range(1, length({t}) + 1), "
    "i -> CAST(ascii(substr({t}, CAST(i AS INTEGER), 1)) AS BIGINT))), "
    "(a, c) -> (a * 31 + c) % 4294967296)"
)


@q(
    "q_simhash_portable",
    f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+'))
                   AS t
        FROM documents
    ),
    h AS (SELECT doc_id, {_CHARFOLD_SQL.format(t="t")} AS h FROM tok),
    bits AS (
        SELECT doc_id, CAST(b.b AS INTEGER) AS bit,
               CASE WHEN (h >> CAST(b.b AS INTEGER)) & 1 = 1
                    THEN 1 ELSE -1 END AS s
        FROM h, UNNEST(range(32)) AS b(b)
    ),
    votes AS (SELECT doc_id, bit, SUM(s) AS v FROM bits GROUP BY 1, 2)
    SELECT doc_id,
           CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit)
                         ELSE 0 END) AS BIGINT) AS sig
    FROM votes GROUP BY doc_id
    """,
)
def q_simhash_portable(spark, sf_dir):
    """PORTABLE SimHash: 32-bit near-dup signature by per-bit token-hash
    voting, fully value-matched against DuckDB — the third portable sketch
    family after count-min (q_sketch_cms) and HyperLogLog
    (q_sketch_hll_portable); the production simhash (q_dedup_simhash,
    xxhash64-based) stays rows-only because DuckDB cannot reproduce
    xxhash64. Same single-pass array-accumulator plan as ops.dedup.simhash
    (one 32-counter vote fold per doc, no explode, no shuffle beyond the
    parallelism repartition); the oracle spells the identical math as a
    tall-form SQL — two different algorithm SHAPES, one set of values.

    r11 (guide §4.2): the per-char Horner fold (sequence + substr +
    ascii, interpreted per character) plus the 32-per-token vote chain
    moved to ONE vectorized Arrow pass (ops.dedup.charfold_simhash) —
    bit-identical values (differential-pinned in tests/test_r11_ops.py),
    nearly all of this key's stage CPU removed."""
    from etl_data_processor_spark.ops.dedup import _parallelize, charfold_simhash

    d = _parallelize(_cat(spark, sf_dir).documents.select("doc_id", "text"))
    return d.select(
        "doc_id", charfold_simhash(F.col("text"), (31,)).alias("st")
    ).select("doc_id", F.col("st.s0").alias("sig"))


# =====================================================================
# Exact OLS trend per series
# =====================================================================

@q(
    "q_trend_ols",
    """
    WITH d0 AS (SELECT MIN(CAST(ts AS DATE)) AS d0 FROM events),
    v AS (
        SELECT event_type,
               CAST(date_diff('day', d0.d0, CAST(ts AS DATE)) AS BIGINT) AS x,
               CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS vu
        FROM events, d0
    ),
    mo AS (
        SELECT event_type, COUNT(*) AS n,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(vu) AS BIGINT) AS sy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(x * vu) AS BIGINT) AS sxy
        FROM v GROUP BY 1
    ),
    est AS (
        SELECT event_type, n,
               CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) AS slope
        FROM mo
    )
    SELECT est.event_type, est.n,
           CAST(FLOOR(slope * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0
               AS slope6,
           CAST(FLOOR(((CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE))
                       / mo.n) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0
               AS intercept6
    FROM est JOIN mo ON est.event_type = mo.event_type
    """,
)
def q_trend_ols(spark, sf_dir):
    """Per-series least-squares trend (slope + intercept of centi-value
    over day index) with EXACT integer moments: n, Σx, Σy, Σx², Σxy are
    int64 aggregates (order-independent), and slope/intercept are derived
    by an identical IEEE sequence on both engines — the q_corr_exact /
    q_zscore_pandas technique applied to regression. The day index is
    measured from MIN(day) (1-row broadcast), keeping x small enough that
    every cross-moment stays exact in int64 at any scale factor. ONE
    partial+final aggregate over the fact table; the moment frame is
    |series| rows."""
    ev = _cat(spark, sf_dir).events
    v = ev.select(
        "event_type",
        F.to_date("ts").alias("day"),
        F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("vu"),
    )
    d0 = v.agg(F.min("day").alias("d0"))
    j = v.crossJoin(F.broadcast(d0)).select(
        "event_type",
        F.datediff(F.col("day"), F.col("d0")).cast("long").alias("x"),
        "vu",
    )
    mo = j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("vu").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("vu")).alias("sxy"),
    )
    slope = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
            "double"
        )
    )
    est = mo.withColumn("slope", slope)
    intercept = (
        F.col("sy").cast("double") - F.col("slope") * F.col("sx").cast("double")
    ) / F.col("n")
    return est.select(
        "event_type",
        "n",
        stable_round6(F.col("slope")).alias("slope6"),
        stable_round6(intercept).alias("intercept6"),
    )


# =====================================================================
# Entity-resolution golden record
# =====================================================================

@q(
    "q_golden_record",
    """
    WITH RECURSIVE k AS (SELECT DISTINCT p_name FROM part),
    ids AS (SELECT p_name, ROW_NUMBER() OVER (ORDER BY p_name) AS nid FROM k),
    pairs AS (
        SELECT a.p_name AS na, b.p_name AS nb
        FROM k a JOIN k b ON a.p_name < b.p_name
        WHERE levenshtein(a.p_name, b.p_name) <= 2
    ),
    edges AS (
        SELECT ia.nid AS u, ib.nid AS v
        FROM pairs JOIN ids ia ON na = ia.p_name JOIN ids ib ON nb = ib.p_name
    ),
    sym AS (SELECT u, v FROM edges UNION SELECT v, u FROM edges),
    walk AS (
        SELECT nid AS node, nid AS comp FROM ids
        UNION
        SELECT e.v AS node, w.comp FROM walk w JOIN sym e ON e.u = w.node
    ),
    comp AS (SELECT node, MIN(comp) AS comp FROM walk GROUP BY node),
    m AS (
        SELECT c.comp, p.p_name, p.p_brand, p.p_retailprice
        FROM part p JOIN ids i ON p.p_name = i.p_name
        JOIN comp c ON i.nid = c.node
    ),
    agg AS (
        SELECT comp, MIN(p_name) AS canonical_name, COUNT(*) AS n_members,
               COUNT(DISTINCT p_name) AS n_variants,
               MAX(p_retailprice) AS price_max
        FROM m GROUP BY comp
    ),
    bc AS (SELECT comp, p_brand, COUNT(*) AS c FROM m GROUP BY 1, 2),
    bm AS (
        SELECT comp, p_brand AS brand_mode FROM (
            SELECT comp, p_brand,
                   ROW_NUMBER() OVER (PARTITION BY comp
                                      ORDER BY c DESC, p_brand) AS rk
            FROM bc
        ) WHERE rk = 1
    )
    SELECT canonical_name, n_members, n_variants, price_max, brand_mode
    FROM agg JOIN bm ON agg.comp = bm.comp
    """,
)
def q_golden_record(spark, sf_dir):
    """Entity-resolution GOLDEN RECORD: fuzzy-match part names (levenshtein
    <= 2, lossless length-band blocking), close the match graph with
    connected components, then consolidate one record per entity cluster —
    lexicographic-min canonical name, deterministic brand mode (count desc,
    brand asc), max price, member/variant counts. This is the master-data
    deliverable B49+B50 exist to feed. Names map to dense integer node ids
    by sorted rank via ops/prefix.chunked_rank (first-character chunks:
    monotone in name order, equal names share a chunk) — the registry-wide
    plan audit caught the old global-window id assignment, and the output
    is invariant to the id labeling anyway (ids only thread the CC
    machinery; no output column exposes them). Cluster
    graphs are pair-bounded and tiny; the only full-table work is one scan
    of part joined to the broadcast-scale name->cluster map."""
    from etl_data_processor_spark.ops.graph import connected_components
    from etl_data_processor_spark.ops.prefix import chunked_rank
    from etl_data_processor_spark.ops.text import fuzzy_key_pairs

    part = _cat(spark, sf_dir).part
    ids = chunked_rank(
        part.select("p_name").distinct(),
        [F.col("p_name")],
        F.substring("p_name", 1, 1),
        rank_col="nid",
    )
    ids.cache()  # consumed by both edge endpoints + the member map
    pairs = fuzzy_key_pairs(part, "p_name", max_dist=2)
    edges = (
        pairs.join(
            ids.select(F.col("p_name").alias("key_a"), F.col("nid").alias("id_a")),
            "key_a",
        )
        .join(
            ids.select(F.col("p_name").alias("key_b"), F.col("nid").alias("id_b")),
            "key_b",
        )
        .select("id_a", "id_b")
    )
    cc = connected_components(edges)
    comp = (
        ids.join(cc, ids["nid"] == cc["node"], "left")
        .select(
            "p_name", F.coalesce(F.col("component"), F.col("nid")).alias("comp")
        )
    )
    m = part.select("p_name", "p_brand", "p_retailprice").join(
        F.broadcast(comp), "p_name"
    )
    agg = m.groupBy("comp").agg(
        F.min("p_name").alias("canonical_name"),
        F.count(F.lit(1)).alias("n_members"),
        F.countDistinct("p_name").alias("n_variants"),
        F.max("p_retailprice").alias("price_max"),
    )
    bc = m.groupBy("comp", "p_brand").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("comp").orderBy(F.col("c").desc(), F.col("p_brand"))
    bm = (
        bc.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("comp", F.col("p_brand").alias("brand_mode"))
    )
    return agg.join(bm, "comp").select(
        "canonical_name", "n_members", "n_variants", "price_max", "brand_mode"
    )


# =====================================================================
# MMR diversification (greedy diverse top-k, unrolled oracle)
# =====================================================================

_MMR_QVEC = (
    "list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE)"
    "*10000000.0+0.5) AS BIGINT))"
)
_MMR_COS6 = (
    "CAST(FLOOR((CAST(SUM(a.v[i]*b.v[i]) AS DOUBLE)"
    " / (SQRT(CAST(SUM(a.v[i]*a.v[i]) AS DOUBLE))"
    " * SQRT(CAST(SUM(b.v[i]*b.v[i]) AS DOUBLE))))"
    " * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0"
)


@q(
    "q_mmr_diversify",
    f"""
    WITH cv AS (
        SELECT vec_id, {_MMR_QVEC} AS v FROM embeddings WHERE vec_id < 100
    ),
    cos AS (
        SELECT a.vec_id AS ia, b.vec_id AS ib, {_MMR_COS6} AS c6
        FROM cv a, cv b, range(1, 65) t(i)
        GROUP BY a.vec_id, b.vec_id
    ),
    rel AS (
        SELECT ib AS vec_id, c6 AS rel6 FROM cos WHERE ia = 0 AND ib <> 0
    ),
    s1 AS (SELECT vec_id, rel6 FROM rel ORDER BY rel6 DESC, vec_id LIMIT 1),
    m2 AS (
        SELECT r.vec_id, 0.7 * r.rel6 - 0.3 * c.c6 AS sc
        FROM rel r JOIN cos c
          ON c.ia = (SELECT vec_id FROM s1) AND c.ib = r.vec_id
        WHERE r.vec_id <> (SELECT vec_id FROM s1)
    ),
    s2 AS (SELECT vec_id, sc FROM m2 ORDER BY sc DESC, vec_id LIMIT 1),
    m3 AS (
        SELECT r.vec_id,
               0.7 * r.rel6 - 0.3 * GREATEST(c1.c6, c2.c6) AS sc
        FROM rel r
        JOIN cos c1 ON c1.ia = (SELECT vec_id FROM s1) AND c1.ib = r.vec_id
        JOIN cos c2 ON c2.ia = (SELECT vec_id FROM s2) AND c2.ib = r.vec_id
        WHERE r.vec_id NOT IN
              ((SELECT vec_id FROM s1), (SELECT vec_id FROM s2))
    ),
    s3 AS (SELECT vec_id, sc FROM m3 ORDER BY sc DESC, vec_id LIMIT 1)
    SELECT 1 AS step, vec_id,
           CAST(FLOOR(rel6 * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0
               AS score6
    FROM s1
    UNION ALL
    SELECT 2, vec_id,
           CAST(FLOOR(sc * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0 FROM s2
    UNION ALL
    SELECT 3, vec_id,
           CAST(FLOOR(sc * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0 FROM s3
    """,
)
def q_mmr_diversify(spark, sf_dir):
    """Maximal-marginal-relevance diversification: greedily pick 3 results
    for query vector 0 maximizing 0.7·relevance − 0.3·max-similarity-to-
    already-selected — the dedup-aware reranker for retrieval (and for
    picking DIVERSE few-shot exemplars from a corpus). EXACT over the full
    candidate pool, but in the shortlist execution shape (VERDICT r3 item
    5): the pool's rel scores and pairwise cos6 matrix collect as bounded
    model state in TWO Spark jobs total, and the sequential greedy runs
    driver-side in ops/similarity.py::mmr_greedy — zero per-step Spark
    jobs (the old k-argmax loop ran one distributed TakeOrdered + a
    broadcast join per step). Exactness is preserved because the pool
    (vec_id<100, 99 candidates) IS the shortlist — no top-N truncation.
    Scores are fixed-point cosines (round6) so both engines agree
    bit-for-bit; the oracle UNROLLS the three greedy steps in SQL (the
    q_pagerank unrolled-iteration technique)."""
    from etl_data_processor_spark.ops.similarity import dec_cosine, mmr_greedy

    emb = _cat(spark, sf_dir).embeddings.filter(F.col("vec_id") < 100)
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("__q")
    )
    cand = emb.filter(F.col("vec_id") != 0).select("vec_id", "embedding")
    pool = (
        cand.crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            "embedding",
            dec_cosine(F.col("embedding"), F.col("__q")).alias("rel6"),
        )
        .cache()
    )
    # job 1: rel scores, in the greedy's deterministic (rel desc, id asc)
    # scan order; job 2: full pairwise cos6 matrix (99x99 — bounded model
    # state, same contract as IVF centroid collection).
    shortlist = [
        (r["vec_id"], r["rel6"])
        for r in pool.select("vec_id", "rel6")
        .orderBy(F.desc("rel6"), F.asc("vec_id"))
        .collect()
    ]
    a = pool.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("__a"))
    b = pool.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("__b"))
    pair_sim = {
        (r["ia"], r["ib"]): r["c6"]
        for r in a.crossJoin(F.broadcast(b))
        .select("ia", "ib", dec_cosine(F.col("__a"), F.col("__b")).alias("c6"))
        .collect()
    }
    pool.unpersist()
    picked = mmr_greedy(shortlist, pair_sim, k=3)
    return spark.createDataFrame(
        picked, "step int, vec_id long, score6 double"
    )


@q(
    "q_mmr_shortlist",
    f"""
    WITH cv AS (
        SELECT vec_id, {_MMR_QVEC} AS v FROM embeddings WHERE vec_id < 100
    ),
    cos AS (
        SELECT a.vec_id AS ia, b.vec_id AS ib, {_MMR_COS6} AS c6
        FROM cv a, cv b, range(1, 65) t(i)
        GROUP BY a.vec_id, b.vec_id
    ),
    rel AS (
        SELECT ib AS vec_id, c6 AS rel6 FROM cos WHERE ia = 0 AND ib <> 0
    ),
    sl AS (SELECT vec_id, rel6 FROM rel ORDER BY rel6 DESC, vec_id LIMIT 20),
    s1 AS (SELECT vec_id, rel6 FROM sl ORDER BY rel6 DESC, vec_id LIMIT 1),
    m2 AS (
        SELECT r.vec_id, 0.7 * r.rel6 - 0.3 * c1.c6 AS sc
        FROM sl r JOIN cos c1
          ON c1.ia = (SELECT vec_id FROM s1) AND c1.ib = r.vec_id
        WHERE r.vec_id <> (SELECT vec_id FROM s1)
    ),
    s2 AS (SELECT vec_id, sc FROM m2 ORDER BY sc DESC, vec_id LIMIT 1),
    m3 AS (
        SELECT r.vec_id,
               0.7 * r.rel6 - 0.3 * GREATEST(c1.c6, c2.c6) AS sc
        FROM sl r
        JOIN cos c1 ON c1.ia = (SELECT vec_id FROM s1) AND c1.ib = r.vec_id
        JOIN cos c2 ON c2.ia = (SELECT vec_id FROM s2) AND c2.ib = r.vec_id
        WHERE r.vec_id NOT IN
              ((SELECT vec_id FROM s1), (SELECT vec_id FROM s2))
    ),
    s3 AS (SELECT vec_id, sc FROM m3 ORDER BY sc DESC, vec_id LIMIT 1),
    m4 AS (
        SELECT r.vec_id,
               0.7 * r.rel6 - 0.3 * GREATEST(c1.c6, c2.c6, c3.c6) AS sc
        FROM sl r
        JOIN cos c1 ON c1.ia = (SELECT vec_id FROM s1) AND c1.ib = r.vec_id
        JOIN cos c2 ON c2.ia = (SELECT vec_id FROM s2) AND c2.ib = r.vec_id
        JOIN cos c3 ON c3.ia = (SELECT vec_id FROM s3) AND c3.ib = r.vec_id
        WHERE r.vec_id NOT IN
              ((SELECT vec_id FROM s1), (SELECT vec_id FROM s2),
               (SELECT vec_id FROM s3))
    ),
    s4 AS (SELECT vec_id, sc FROM m4 ORDER BY sc DESC, vec_id LIMIT 1)
    SELECT 1 AS step, vec_id,
           CAST(FLOOR(rel6 * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0
               AS score6
    FROM s1
    UNION ALL
    SELECT 2, vec_id,
           CAST(FLOOR(sc * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0 FROM s2
    UNION ALL
    SELECT 3, vec_id,
           CAST(FLOOR(sc * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0 FROM s3
    UNION ALL
    SELECT 4, vec_id,
           CAST(FLOOR(sc * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0 FROM s4
    """,
)
def q_mmr_shortlist(spark, sf_dir):
    """MMR-over-shortlist (VERDICT r2 item 6) — the production composition
    of q_mmr_diversify: a DISTRIBUTED relevance top-N (TakeOrdered, N=20
    here; at 100 TB this is the IVF/PQ ANN shortlist) bounds the pool, the
    N rel scores + N×N pairwise cos6 collect as bounded model state (two
    Spark jobs TOTAL), and the k greedy steps run driver-side in O(k·N)
    with zero per-step jobs (ops/similarity.py::mmr_greedy). The oracle
    unrolls 4 greedy steps over the same shortlist CTE."""
    from etl_data_processor_spark.ops.similarity import dec_cosine, mmr_greedy

    emb = _cat(spark, sf_dir).embeddings.filter(F.col("vec_id") < 100)
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("__q")
    )
    cand = emb.filter(F.col("vec_id") != 0).select("vec_id", "embedding")
    short = (
        cand.crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            "embedding",
            dec_cosine(F.col("embedding"), F.col("__q")).alias("rel6"),
        )
        .orderBy(F.desc("rel6"), F.asc("vec_id"))
        .limit(20)
        .cache()
    )
    a = short.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("__a"))
    b = short.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("__b"))
    pair_rows = (
        a.crossJoin(F.broadcast(b))
        .select("ia", "ib", dec_cosine(F.col("__a"), F.col("__b")).alias("c6"))
        .collect()
    )
    pair_sim = {(r["ia"], r["ib"]): r["c6"] for r in pair_rows}
    shortlist = [(r["vec_id"], r["rel6"]) for r in short.select("vec_id", "rel6").collect()]
    short.unpersist()
    picked = mmr_greedy(shortlist, pair_sim, k=4)
    return spark.createDataFrame(picked, "step int, vec_id long, score6 double")


# =====================================================================
# Jaro-Winkler fuzzy similarity (oracled against DuckDB's native fn)
# =====================================================================

def _jaro_winkler(s1: str, s2: str) -> float:
    """Standard Jaro-Winkler (match window max(|a|,|b|)/2-1, transposition
    halving, prefix scale 0.1 up to 4 chars, boost threshold 0.7) —
    verified bit-compatible with DuckDB's jaro_winkler_similarity on the
    fixture vocabulary; round6 on both sides absorbs any last-ulp
    engine difference in the final float combine."""
    if s1 == s2:
        return 1.0
    l1, l2 = len(s1), len(s2)
    if not l1 or not l2:
        return 0.0
    md = max(l1, l2) // 2 - 1
    m1 = [False] * l1
    m2 = [False] * l2
    matches = 0
    for i in range(l1):
        lo, hi = max(0, i - md), min(l2, i + md + 1)
        for j in range(lo, hi):
            if not m2[j] and s1[i] == s2[j]:
                m1[i] = m2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    t = 0
    k = 0
    for i in range(l1):
        if m1[i]:
            while not m2[k]:
                k += 1
            if s1[i] != s2[k]:
                t += 1
            k += 1
    t //= 2
    j = (matches / l1 + matches / l2 + (matches - t) / matches) / 3
    if j > 0.7:
        pre = 0
        for a, b in zip(s1[:4], s2[:4]):
            if a != b:
                break
            pre += 1
        return j + pre * 0.1 * (1 - j)
    return j


@q(
    "q_fuzzy_jw",
    """
    WITH k AS (SELECT DISTINCT p_name FROM part)
    SELECT a.p_name AS key_a, b.p_name AS key_b,
           CAST(FLOOR(jaro_winkler_similarity(a.p_name, b.p_name)
                      * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0 AS jw6
    FROM k a JOIN k b ON a.p_name < b.p_name
    WHERE CAST(FLOOR(jaro_winkler_similarity(a.p_name, b.p_name)
                     * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0 >= 0.8
    """,
)
def q_fuzzy_jw(spark, sf_dir):
    """Jaro-Winkler fuzzy key similarity >= 0.8 over DISTINCT part names —
    the typo-tolerant entity-match scorer that complements levenshtein
    (q_fuzzy_match): JW weights shared prefixes, the right bias for
    product/person names. Oracled against DuckDB's NATIVE
    jaro_winkler_similarity — the Python implementation must reproduce a
    C++ engine's algorithm exactly (match window, transposition halving,
    prefix boost), which the gate proves. Plan: distinct-first (A13 — the
    pair space is bounded by key CARDINALITY, not row count), small-dim
    self-join, Arrow-batched pandas UDF for the scorer; at larger key
    cardinalities block first (fuzzy_key_pairs' length bands)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _jw6(a, b):
        return pd.Series(
            [
                math.floor(_jaro_winkler(x, y) * 1000000.0 + 0.5) / 1000000.0
                for x, y in zip(a, b)
            ]
        )

    _jw6.__annotations__ = {"a": pd.Series, "b": pd.Series, "return": pd.Series}
    jw6 = pandas_udf(_jw6, "double")

    k = _cat(spark, sf_dir).part.select("p_name").distinct()
    a = k.select(F.col("p_name").alias("key_a"))
    b = k.select(F.col("p_name").alias("key_b"))
    return (
        a.join(b, F.col("key_a") < F.col("key_b"))
        .withColumn("jw6", jw6(F.col("key_a"), F.col("key_b")))
        .filter(F.col("jw6") >= 0.8)
    )


# =====================================================================
# Grouped-agg pandas UDF (exact-moments oracle)
# =====================================================================

@q(
    "q_pandas_grouped_agg",
    """
    WITH v AS (
        SELECT event_type, CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS vu
        FROM events
    )
    SELECT event_type,
           CAST(FLOOR((CAST(SUM(vu) AS DOUBLE) / COUNT(*) / 100.0)
                      * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0 AS mean6
    FROM v GROUP BY event_type
    """,
)
def q_pandas_grouped_agg(spark, sf_dir):
    """GROUPED_AGG pandas UDF (Series -> scalar), completing the Python
    UDF surface matrix (scalar udf / pandas_udf / UDTF / applyInPandas /
    mapInPandas are covered elsewhere). Differentially testable by the
    exact-moments discipline: the UDF sums integer centi-units (numpy
    int64 — order-independent), then divides in the same IEEE sequence
    the oracle spells out. Plan: partial aggregation does NOT apply to
    pandas aggregates — Spark shuffles raw rows to the group — which is
    exactly why the built-in-expression form (q_agg_group) is the hot
    path and this exists as surface coverage."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _mean6(v):
        import numpy as np

        vu = np.floor(v.to_numpy() * 100.0 + 0.5).astype(np.int64)
        m = float(int(vu.sum())) / len(vu) / 100.0
        return math.floor(m * 1000000.0 + 0.5) / 1000000.0

    # real type objects (this module's postponed annotations would reach
    # pandas_udf as unresolvable strings)
    _mean6.__annotations__ = {"v": pd.Series, "return": float}
    mean6 = pandas_udf(_mean6, "double")

    ev = _cat(spark, sf_dir).events
    return ev.groupBy("event_type").agg(mean6("value").alias("mean6"))


# =====================================================================
# mapInArrow (RecordBatch-level transform)
# =====================================================================

@q(
    "q_map_in_arrow",
    """
    SELECT doc_id, CAST(length(text) AS INTEGER) AS n_chars_arrow,
           CAST(length(regexp_replace(text, '[^ ]', '', 'g')) AS INTEGER)
               AS n_spaces
    FROM documents
    """,
)
def q_map_in_arrow(spark, sf_dir):
    """mapInArrow: the RecordBatch-level transform API (Spark 4) — the
    lowest-overhead Python boundary (no pandas conversion; pyarrow
    compute kernels operate on Arrow buffers directly). Character and
    space counts per doc via pa.compute — deterministic, so fully
    oracled. Use this API when a Python stage is unavoidable AND the
    logic maps to Arrow kernels; it beats mapInPandas by skipping the
    pandas materialization entirely."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def counts(batches):
        for batch in batches:
            texts = batch.column("text")
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id"),
                    pc.cast(pc.utf8_length(texts), pa.int32()),
                    pc.cast(
                        pc.count_substring(texts, " "), pa.int32()
                    ),
                ],
                ["doc_id", "n_chars_arrow", "n_spaces"],
            )

    d = _cat(spark, sf_dir).documents.select("doc_id", "text")
    return d.mapInArrow(
        counts, "doc_id long, n_chars_arrow int, n_spaces int"
    )


# =====================================================================
# Per-group z-score via applyInPandas, exact-moments oracle
# =====================================================================

_ZSCORE_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("event_type", StringType()),
        StructField("z6", DoubleType()),
    ]
)


def _zscore_pdf(pdf):
    """Per-group z-score with EXACT integer moments: centi-unit values are
    summed as integers (no float accumulation order-dependence), then the
    mean/variance/z sequence below is the IDENTICAL IEEE op sequence the
    oracle SQL spells out — so the result is bit-reproducible across
    engines, partitionings and pandas versions."""
    import numpy as np
    import pandas as pd

    vu = np.floor(pdf["value"].to_numpy() * 100.0 + 0.5).astype(np.int64)
    n = len(vu)
    s1 = int(vu.sum())
    s2 = int((vu * vu).sum())
    m = float(s1) / n
    var = (float(s2) - m * float(s1)) / (n - 1)
    z = (vu.astype(np.float64) - m) / math.sqrt(var)
    z6 = np.floor(z * 1000000.0 + 0.5) / 1000000.0
    return pd.DataFrame(
        {
            "event_id": pdf["event_id"],
            "event_type": pdf["event_type"],
            "z6": z6,
        }
    )


@q(
    "q_zscore_pandas",
    """
    WITH v AS (
        SELECT event_id, event_type,
               CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS vu
        FROM events
    ),
    s AS (
        SELECT event_type, CAST(SUM(vu) AS BIGINT) AS s1,
               CAST(SUM(vu * vu) AS BIGINT) AS s2, COUNT(*) AS n
        FROM v GROUP BY 1
    )
    SELECT v.event_id, v.event_type,
           CAST(FLOOR(
               ((CAST(vu AS DOUBLE) - CAST(s1 AS DOUBLE) / n)
                / sqrt((CAST(s2 AS DOUBLE)
                        - (CAST(s1 AS DOUBLE) / n) * CAST(s1 AS DOUBLE))
                       / (n - 1)))
               * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0 AS z6
    FROM v JOIN s ON v.event_type = s.event_type
    """,
)
def q_zscore_pandas(spark, sf_dir):
    """Per-group z-score normalization via grouped applyInPandas — the
    first fully ORACLED pandas-UDF operator (q_apply_in_pandas is
    rows-only). The trick making a Python UDF differentially testable:
    moments are computed from exact integer centi-unit sums, and the
    float ops that follow are written as the same IEEE sequence in numpy
    and in the oracle SQL (div, mul, sub, correctly-rounded sqrt), so
    results match bit-for-bit. Plan: one shuffle on the group key,
    Arrow-batched both ways."""
    ev = _cat(spark, sf_dir).events
    return (
        ev.select("event_id", "event_type", "value")
        .groupBy("event_type")
        .applyInPandas(_zscore_pdf, schema=_ZSCORE_SCHEMA)
    )
