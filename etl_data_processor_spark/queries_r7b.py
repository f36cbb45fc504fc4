"""Round-7 extension batch 2: the TUNED near-dup blocker (64-bit
portable SimHash — round-7 candidate #1/#4 from NOTES_r7), plus the
eval/diagnostic keys that landed with it.

The headline story: q_dedup_blocking_audit measured the 32-bit
SimHash blocker at precision ~0.001 / recall 1.0 (hamming <= 3) on the
word-soup documents fixture, and the tradeoff curve showed tightening h
kills recall before precision recovers — so the candidate fix is a
WIDER SIGNATURE. This file ships the 64-bit portable signature — two
independent 32-bit polynomial char folds (bases 31 and 37, both mod
2^32, so every intermediate fits a signed int64 on BOTH engines; a
single mod-2^64 fold would overflow DuckDB's checked BIGINT
arithmetic) — and re-runs the identical audit at the EQUAL-RELATIVE-
RADIUS threshold hamming <= 6 (3/32 == 6/64).

Measured before wiring (the audit discipline applied to the audit
itself; full grid in NOTES_r7 session 2): keeping h = 3 on 64 bits
looks spectacular at sf0.01 (fp 960 -> 43, ~22x) but HALVES the
relative radius and drops gold pairs at sf0.001 (a 97%-Jaccard pair
sits at hamming 5/64) and sf0.1 (6/7) — a recall trap. At the scaled
h <= 6 the lift is a consistent ~1.6x at recall 1.0 across ALL THREE
scales (fp 996 -> 635 at sf0.001, 960 -> 632 at sf0.01,
104220 -> 63547 at sf0.1): exactly the variance reduction doubling the
averaged bits should buy, no more. Both lessons ship: widen the
signature AND scale the threshold with it.

House rules as ever: deterministic, DuckDB-oracled on the same parquet,
exact integers until one final libm pair, equi-join-blocked candidate
relations (never all-pairs on the Spark side), constant-size reports.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_data_processor_spark.ops import iterate
from etl_data_processor_spark.ops import similarity as SIM
from etl_data_processor_spark.registry import cat as _cat
from etl_data_processor_spark.registry import q

# =====================================================================
# 64-bit portable SimHash (B22/B32 ext — the tuned signature)
# =====================================================================

# DuckDB form of the two char folds (Horner, mod 2^32; base via {b}).
_CF_SQL = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(range(1, length({t}) + 1), "
    "i -> CAST(ascii(substr({t}, CAST(i AS INTEGER), 1)) AS BIGINT))), "
    "(a, c) -> (a * {b} + c) % 4294967296)"
)

# Shared oracle CTE text: the 64-bit signature per (doc_id, source).
_SIG64_SQL = f"""
tok AS (
    SELECT doc_id, source,
           unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
    FROM documents
),
h AS (SELECT doc_id, source, {_CF_SQL.format(t="t", b=31)} AS h1,
             {_CF_SQL.format(t="t", b=37)} AS h2 FROM tok),
bits AS (
    SELECT doc_id, source, CAST(b.b AS INTEGER) AS bit,
           CASE WHEN bit < 32 THEN
                (CASE WHEN (h1 >> bit) & 1 = 1 THEN 1 ELSE -1 END)
           ELSE (CASE WHEN (h2 >> (bit - 32)) & 1 = 1 THEN 1 ELSE -1 END)
           END AS s
    FROM h, UNNEST(range(64)) AS b(b)
),
votes AS (SELECT doc_id, source, bit, SUM(s) AS v FROM bits GROUP BY 1, 2, 3),
sig AS (
    SELECT doc_id, source,
           CAST(SUM(CASE WHEN v > 0 AND bit < 32
                         THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END)
                AS BIGINT) AS sig_lo,
           CAST(SUM(CASE WHEN v > 0 AND bit >= 32
                         THEN (CAST(1 AS BIGINT) << (bit - 32)) ELSE 0 END)
                AS BIGINT) AS sig_hi
    FROM votes GROUP BY doc_id, source
)
"""


@q(
    "q_simhash64_portable",
    f"WITH {_SIG64_SQL} SELECT doc_id, sig_lo, sig_hi FROM sig",
)
def q_simhash64_portable(spark, sf_dir):
    """PORTABLE 64-bit SimHash: two independent 32-bit signature halves
    (char folds base 31 / base 37, mod 2^32) per document, fully
    value-matched against DuckDB. This is the TUNED signature the
    blocking audit asked for: q_dedup_blocking_audit measured the
    32-bit signature at precision ~0.001 (recall 1.0, h <= 3); doubling
    the averaged bits cuts the per-bit noise, a measured ~1.6x
    precision lift at recall 1.0 at the equal-relative-radius threshold
    h <= 6 across all three fixture scales (see
    q_dedup_blocking_audit64 for the full story incl. the h=3 recall
    trap). Same
    single-pass, no-explode array-accumulator plan as
    q_simhash_portable — two vote folds over the same token array, one
    corpus pass, no shuffle beyond the parallelism repartition. The
    production xxhash64 simhash (ops.dedup.simhash) stays the scale
    default; this portable twin exists so the 64-bit blocker is
    DIFFERENTIALLY TESTABLE end to end.

    r11 (guide §4.2): both per-char Horner folds plus the two
    32-per-token vote chains moved to ONE vectorized Arrow pass
    (ops.dedup.charfold_simhash, the token split shared by both
    bases) — bit-identical values (differential-pinned in
    tests/test_r11_ops.py)."""
    from etl_data_processor_spark.ops.dedup import _parallelize, charfold_simhash

    d = _parallelize(
        _cat(spark, sf_dir).documents.select("doc_id", "text")
    )
    return d.select(
        "doc_id", charfold_simhash(F.col("text"), (31, 37)).alias("st")
    ).select(
        "doc_id",
        F.col("st.s0").alias("sig_lo"),
        F.col("st.s1").alias("sig_hi"),
    )


# =====================================================================
# Tuned blocking audit: the 64-bit blocker at the same gold/threshold
# (round-7 candidate #1 closed — the audit's finding, acted on)
# =====================================================================

_AUD_TAU = 0.5
# Equal relative radius to the 32-bit audit's h <= 3: thresholds must
# scale with signature width or the wider signature silently tightens
# the match semantics (measured: h=3/64 drops gold pairs at two of the
# three fixture scales).
_AUD64_HAM = 6

_AUD_SHINGLES = (
    "list_distinct([w[i]||' '||w[i+1]||' '||w[i+2] "
    "for i in range(1, len(w)-1)])"
)

_AUD64_ORACLE = f"""
WITH sh AS (
    SELECT doc_id, source, {_AUD_SHINGLES} AS ss
    FROM (SELECT doc_id, source, string_split(text, ' ') w FROM documents)
),
pref AS (
    SELECT doc_id, source,
           UNNEST(list_slice(list_sort(ss), 1,
                             len(ss) - (len(ss) + 1) // 2 + 1)) AS tok
    FROM sh
),
cand AS (
    SELECT DISTINCT a.source, a.doc_id AS id_a, b.doc_id AS id_b
    FROM pref a JOIN pref b
      ON a.source = b.source AND a.tok = b.tok AND a.doc_id < b.doc_id
),
gold AS (
    SELECT c.source, c.id_a, c.id_b
    FROM cand c
    JOIN sh a ON a.doc_id = c.id_a
    JOIN sh b ON b.doc_id = c.id_b
    WHERE len(list_intersect(a.ss, b.ss))::DOUBLE
          / len(list_distinct(list_concat(a.ss, b.ss))) >= {_AUD_TAU}
),
{_SIG64_SQL.strip().lstrip()},
pred AS (
    SELECT a.source, a.doc_id AS id_a, b.doc_id AS id_b
    FROM sig a JOIN sig b
      ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sig_lo, b.sig_lo))
          + bit_count(xor(a.sig_hi, b.sig_hi)) <= {_AUD64_HAM}
),
u AS (
    SELECT COALESCE(g.source, p.source) AS source,
           CASE WHEN g.id_a IS NOT NULL AND p.id_a IS NOT NULL THEN 'tp'
                WHEN g.id_a IS NOT NULL THEN 'fn' ELSE 'fp' END AS cls
    FROM gold g FULL OUTER JOIN pred p
      ON g.source = p.source AND g.id_a = p.id_a AND g.id_b = p.id_b
),
m AS (
    SELECT source,
           CAST(COALESCE(SUM(CASE WHEN cls = 'tp' THEN 1 END), 0) AS BIGINT) AS tp,
           CAST(COALESCE(SUM(CASE WHEN cls = 'fp' THEN 1 END), 0) AS BIGINT) AS fp,
           CAST(COALESCE(SUM(CASE WHEN cls = 'fn' THEN 1 END), 0) AS BIGINT) AS fn
    FROM u GROUP BY source
)
SELECT source, tp, fp, fn,
       CAST(FLOOR(CASE WHEN tp + fp = 0 THEN 0.0
                       ELSE CAST(tp AS DOUBLE) / (tp + fp) END
                  * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0 AS precision6,
       CAST(FLOOR(CASE WHEN tp + fn = 0 THEN 0.0
                       ELSE CAST(tp AS DOUBLE) / (tp + fn) END
                  * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0 AS recall6
FROM m
"""


@q("q_dedup_blocking_audit64", _AUD64_ORACLE)
def q_dedup_blocking_audit64(spark, sf_dir):
    """B22/B52 ext: the blocking audit RE-RUN ON THE TUNED BLOCKER —
    identical gold (word-3-gram Jaccard >= 0.5 within source), the
    64-bit portable SimHash signature (q_simhash64_portable), and the
    EQUAL-RELATIVE-RADIUS threshold hamming <= 6 (3/32 == 6/64). This
    closes the loop q_dedup_blocking_audit opened — and documents the
    trap found while closing it: re-using h = 3 on the wider signature
    halves the relative match radius and DROPS GOLD PAIRS (a
    97%-Jaccard pair sits at hamming 5/64; measured recall loss at
    sf0.001 and sf0.1), even though it looks like a ~22x precision win
    at sf0.01 alone. At the scaled h <= 6 the widening buys a
    consistent, honest ~1.6x precision lift at recall 1.0 across all
    three fixture scales (fp 996 -> 635 / 960 -> 632 /
    104220 -> 63547) — the variance reduction of averaging 64 noisy
    bits instead of 32. Scale shape: gold is the Bayardo prefix-filter
    join; predicted side blocks by 8 x 8-bit bands (pigeonhole:
    hamming <= 6 < 8 leaves at least one band untouched), then verifies
    bit_count(xor(lo)) + bit_count(xor(hi)) — equi-joins all the way,
    never an all-pairs hamming scan; outcome classes reduce to a
    |sources|-row report. The read of the audit PAIR side by side is
    the deliverable: measure the blocker, tune one variable at a time,
    and scale thresholds with signature width.

    Round-8 closure (VERDICT r7 item 8): the full h = 0..16 sweep at
    sf0.001 AND sf0.01 confirms this is a BOUNDARY, not a tuning gap —
    the smallest recall-1.0 radius is h <= 5-6 at precision
    0.002-0.006, and no radius reaches 1e-2 with recall held at 1.0
    (the gold pair at hamming 5/64 sits ~2 bits under the moderate-
    similarity crowd). The rule now lives in ops.dedup.simhash_pairs's
    docstring: SimHash blocks hamming/cosine predicates; Jaccard-gold
    dedup defaults to MinHash-LSH."""
    from etl_data_processor_spark.ops.dedup import ngram_jaccard_pairs_blocked
    from etl_data_processor_spark.queries_north import _lsh_index

    d = _cat(spark, sf_dir).documents
    sh, _ = _lsh_index(spark, sf_dir)
    gold = ngram_jaccard_pairs_blocked(
        d, block_cols=["source"], threshold=_AUD_TAU, shingled=sh
    ).select("source", "id_a", "id_b")

    import __spark_entry__  # noqa: F401
    from etl_data_processor_spark.registry import QUERIES

    sig = QUERIES["q_simhash64_portable"](spark, sf_dir).join(
        d.select("doc_id", "source"), "doc_id"
    )
    # 8 x 8-bit bands, four per signature half: >= 7 bands are needed
    # for the hamming <= 6 pigeonhole guarantee.
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("bi"),
                F.shiftrightunsigned(
                    F.col("sig_lo" if b < 4 else "sig_hi"), 8 * (b % 4)
                )
                .bitwiseAND(F.lit(255))
                .alias("bv"),
            )
            for b in range(8)
        ]
    )
    bt = sig.select(
        "doc_id", "source", "sig_lo", "sig_hi", F.explode(bands).alias("b")
    ).select(
        "doc_id", "source", "sig_lo", "sig_hi",
        F.col("b.bi"), F.col("b.bv"),
    )
    rhs = bt.select(
        F.col("doc_id").alias("id_b"), F.col("source").alias("src2"),
        F.col("sig_lo").alias("lo2"), F.col("sig_hi").alias("hi2"),
        F.col("bi").alias("bi2"), F.col("bv").alias("bv2"),
    )
    ham = F.bit_count(F.col("sig_lo").bitwiseXOR(F.col("lo2"))) + F.bit_count(
        F.col("sig_hi").bitwiseXOR(F.col("hi2"))
    )
    pred = (
        bt.join(
            rhs.hint("shuffle_hash"),
            (F.col("source") == F.col("src2"))
            & (F.col("bi") == F.col("bi2"))
            & (F.col("bv") == F.col("bv2"))
            & (F.col("doc_id") < F.col("id_b")),
        )
        .filter(ham <= _AUD64_HAM)
        .select("source", F.col("doc_id").alias("id_a"), "id_b")
        .distinct()
    )
    g = gold.withColumn("__g", F.lit(1))
    p = pred.withColumn("__p", F.lit(1))
    u = g.join(p, ["source", "id_a", "id_b"], "full_outer")
    m = u.groupBy("source").agg(
        F.coalesce(
            F.sum(
                F.when(F.col("__g").isNotNull() & F.col("__p").isNotNull(), 1)
            ),
            F.lit(0),
        ).alias("tp"),
        F.coalesce(F.sum(F.when(F.col("__g").isNull(), 1)), F.lit(0)).alias(
            "fp"
        ),
        F.coalesce(F.sum(F.when(F.col("__p").isNull(), 1)), F.lit(0)).alias(
            "fn"
        ),
    )
    dd = lambda c: c.cast("double")  # noqa: E731
    prec = F.when(F.col("tp") + F.col("fp") == 0, F.lit(0.0)).otherwise(
        dd(F.col("tp")) / dd(F.col("tp") + F.col("fp"))
    )
    rec = F.when(F.col("tp") + F.col("fn") == 0, F.lit(0.0)).otherwise(
        dd(F.col("tp")) / dd(F.col("tp") + F.col("fn"))
    )
    return m.select(
        "source", "tp", "fp", "fn",
        SIM.stable_round6(prec).alias("precision6"),
        SIM.stable_round6(rec).alias("recall6"),
    )


# =====================================================================
# ROUGE-L via bit-parallel LCS (B-eval ext — Lin 2004; Allison & Dix
# 1986 for the O(m * ceil(n/w)) bit-vector DP; round-7 candidate #2)
# =====================================================================

# Reference window = 62 tokens so the whole DP row fits ONE signed
# 64-bit word: bits 0..61 keep (R << 1) | 1 below 2^63, so the
# subtraction in the Allison-Dix step never overflows DuckDB's checked
# BIGINT arithmetic, and two's-complement bit patterns (the borrow
# propagation the algorithm rides on) are identical on both engines.
_RL_REF_W = 62
# Candidate window: a cost bound only (the fold is O(m * n) mask ops);
# fixture docs are <= 99 tokens, so nothing is truncated there.
_RL_CAND_W = 512
_RL_SRCS = 20  # fixture layout: source = src{doc_id % 20} (q_bleu_eval)

_RL_TOKENS = "list_filter(string_split(trim(text), ' '), t -> t <> '')"
_RL_ROUND6 = "CAST(FLOOR(({x}) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0"

# Match mask of candidate token `a` against reference tokens rw[1..n]:
# bit j-1 set iff rw[j] = a. Disjoint bits, OR-folded.
_RL_MASK = (
    "list_reduce(list_prepend(0::BIGINT, list_transform(range(1, n + 1), "
    "j -> CASE WHEN rw[CAST(j AS INTEGER)] = a "
    "THEN (1::BIGINT << CAST(j - 1 AS INTEGER)) ELSE 0::BIGINT END)), "
    "(x, y) -> x | y)"
)

_RLL_ORACLE = f"""
WITH cand AS (
    SELECT doc_id AS cid, source, doc_id - (doc_id % {_RL_SRCS}) AS rid,
           {_RL_TOKENS}[1:{_RL_CAND_W}] AS w
    FROM documents WHERE source <> 'src0'
),
ref AS (
    SELECT doc_id AS rid, {_RL_TOKENS}[1:{_RL_REF_W}] AS w
    FROM documents WHERE source = 'src0'
),
pairs AS (
    SELECT c.cid, c.source, c.w AS cw, r.w AS rw, len(r.w) AS n
    FROM cand c JOIN ref r USING (rid)
),
masked AS (
    SELECT cid, source, len(cw) AS m, n,
           list_transform(cw, a -> {_RL_MASK}) AS cm
    FROM pairs
),
lcs AS (
    SELECT source, m, n,
           bit_count(list_reduce(list_prepend(0::BIGINT, cm),
               (R, mk) -> ((mk | R)
                           & (~((mk | R) - ((R << 1) | 1::BIGINT))))
           )) AS l
    FROM masked
),
agg AS (
    SELECT source,
           CAST(SUM(l) AS BIGINT) AS lcs_sum,
           CAST(SUM(n) AS BIGINT) AS ref_tokens,
           CAST(SUM(m) AS BIGINT) AS cand_tokens
    FROM lcs GROUP BY source
)
SELECT source, lcs_sum, ref_tokens, cand_tokens,
       {_RL_ROUND6.format(
           x="CAST(lcs_sum AS DOUBLE) / ref_tokens")} AS rougeL_r6,
       {_RL_ROUND6.format(
           x="CAST(lcs_sum AS DOUBLE) / cand_tokens")} AS rougeL_p6,
       {_RL_ROUND6.format(
           x="2.0 * lcs_sum / (ref_tokens + cand_tokens)")} AS rougeL_f6
FROM agg
"""


@q("q_rouge_l", _RLL_ORACLE)
def q_rouge_l(spark, sf_dir):
    """Eval ext: corpus-level ROUGE-L (Lin 2004, public) over the
    q_bleu_eval candidate/reference pairing — the LCS-based metric that
    rewards in-order coverage rather than contiguous n-grams. The LCS
    itself is the Allison-Dix (1986) BIT-PARALLEL DP: the whole DP row
    lives in one 64-bit word, each candidate token costs one
    (mask | R) & ~((mask | R) - ((R << 1) | 1)) step, and
    bit_count(R) at the end IS the LCS length — O(m) word ops per pair
    instead of the O(m * n) cell DP, no UDF, no explode, pure JVM-side
    higher-order functions (the identical fold runs on DuckDB's
    list_reduce; two's-complement borrow propagation matches bit for
    bit, proven by the pure-Python cell-DP replay in
    tests/test_r7b_ops.py). Reference window 62 tokens = the bitmask
    capacity of a signed word (nothing in this fixture exceeds it by
    much — docs are 10-99 tokens; the window is the documented metric
    semantics, as eval harnesses cap anyway); candidate window 512
    bounds per-pair cost at scale. Corpus-level recall, precision, and
    F1 from EXACT integer lcs/ref/cand token sums per source — one
    final double division each. Scale shape: pairing is an equi-join on
    rid, per-pair work is O(m * n / 64) words, report is
    |sources|-sized."""
    from etl_data_processor_spark.ops.dedup import _parallelize
    from etl_data_processor_spark.ops.text import _one_to, tokenize

    d = _parallelize(
        _cat(spark, sf_dir).documents.select("doc_id", "source", "text")
    )
    w = tokenize(F.col("text"))
    cand = d.filter(F.col("source") != "src0").select(
        F.col("doc_id").alias("cid"),
        "source",
        (F.col("doc_id") - F.pmod(F.col("doc_id"), F.lit(_RL_SRCS))).alias(
            "rid"
        ),
        F.slice(w, 1, _RL_CAND_W).alias("cw"),
    )
    ref = d.filter(F.col("source") == "src0").select(
        F.col("doc_id").alias("rid"), F.slice(w, 1, _RL_REF_W).alias("rw")
    )
    pairs = cand.join(ref, "rid")

    pw = F.array(*[F.lit(1 << i).cast("long") for i in range(_RL_REF_W)])
    rw = F.col("rw")

    def match_mask(a):
        return F.aggregate(
            _one_to(F.size(rw)),
            F.lit(0).cast("long"),
            lambda acc, j: acc.bitwiseOR(
                F.when(
                    F.element_at(rw, j) == a, F.element_at(pw, j)
                ).otherwise(F.lit(0).cast("long"))
            ),
        )

    cm = F.transform(F.col("cw"), match_mask)
    step = lambda R, mk: mk.bitwiseOR(R).bitwiseAND(  # noqa: E731
        F.bitwise_not(
            mk.bitwiseOR(R) - F.shiftleft(R, 1).bitwiseOR(F.lit(1).cast("long"))
        )
    )
    lcs = F.bit_count(F.aggregate(cm, F.lit(0).cast("long"), step))
    per_pair = pairs.select(
        "source",
        F.size("cw").alias("m"),
        F.size("rw").alias("n"),
        lcs.alias("l"),
    )
    agg = per_pair.groupBy("source").agg(
        F.sum("l").alias("lcs_sum"),
        F.sum("n").alias("ref_tokens"),
        F.sum("m").alias("cand_tokens"),
    )
    dd = lambda c: c.cast("double")  # noqa: E731
    return agg.select(
        "source", "lcs_sum", "ref_tokens", "cand_tokens",
        SIM.stable_round6(dd(F.col("lcs_sum")) / dd(F.col("ref_tokens"))).alias(
            "rougeL_r6"
        ),
        SIM.stable_round6(
            dd(F.col("lcs_sum")) / dd(F.col("cand_tokens"))
        ).alias("rougeL_p6"),
        SIM.stable_round6(
            F.lit(2.0) * dd(F.col("lcs_sum"))
            / dd(F.col("ref_tokens") + F.col("cand_tokens"))
        ).alias("rougeL_f6"),
    )


# =====================================================================
# chrF (B-eval ext — Popović 2015: character n-gram F-score, the
# tokenization-free member of the eval family next to BLEU and ROUGE)
# =====================================================================

_CHRF_N = 4      # char n-gram orders 1..4 (standard chrF uses 1..6;
                 # 4 bounds the explode at the same fixture semantics)
_CHRF_BETA2 = 4  # beta = 2: recall weighted 2x, per the chrF paper
_CHRF_W = 8192   # shared gram-start-position cap: BOTH engines only
                 # enumerate char-gram starts 1.._CHRF_W (the q_rouge_l
                 # _RL_CAND_W discipline — a one-sided cap would silently
                 # diverge on any doc longer than the cap; ADVICE r7)

# chrF removes whitespace before extracting char n-grams.
_CHRF_CHARS = "regexp_replace(trim(text), '\\s+', '', 'g')"

_CHRF_ORACLE = f"""
WITH cand AS (
    SELECT doc_id AS cid, source, doc_id - (doc_id % {_RL_SRCS}) AS rid,
           {_CHRF_CHARS} AS s
    FROM documents WHERE source <> 'src0'
),
ref AS (
    SELECT doc_id AS rid, {_CHRF_CHARS} AS s
    FROM documents WHERE source = 'src0'
),
pairs AS (SELECT c.cid, c.source, c.rid FROM cand c JOIN ref r USING (rid)),
cg AS (
    SELECT cid AS pid, nn.n AS n, substr(s, CAST(i AS INTEGER),
           CAST(nn.n AS INTEGER)) AS g,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM cand, range(1, {_CHRF_N + 1}) nn(n), range(1, {_CHRF_W + 1}) t(i)
    WHERE i + nn.n - 1 <= length(s)
    GROUP BY pid, n, g
),
rg AS (
    SELECT rid AS pid, nn.n AS n, substr(s, CAST(i AS INTEGER),
           CAST(nn.n AS INTEGER)) AS g,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM ref, range(1, {_CHRF_N + 1}) nn(n), range(1, {_CHRF_W + 1}) t(i)
    WHERE i + nn.n - 1 <= length(s)
    GROUP BY pid, n, g
),
joined AS (
    SELECT p.source, rg.n,
           CAST(SUM(LEAST(rg.c, COALESCE(cg.c, 0))) AS BIGINT) AS m,
           CAST(SUM(rg.c) AS BIGINT) AS tr
    FROM pairs p
    JOIN rg ON rg.pid = p.rid
    LEFT JOIN cg ON cg.pid = p.cid AND cg.n = rg.n AND cg.g = rg.g
    GROUP BY p.source, rg.n
),
ctot AS (
    SELECT p.source, cg.n, CAST(SUM(cg.c) AS BIGINT) AS tc
    FROM pairs p JOIN cg ON cg.pid = p.cid
    GROUP BY p.source, cg.n
),
byn AS (
    SELECT j.source, j.n, j.m, j.tr, c.tc,
           CAST(j.m AS DOUBLE) / c.tc AS prec_n,
           CAST(j.m AS DOUBLE) / j.tr AS rec_n
    FROM joined j JOIN ctot c ON c.source = j.source AND c.n = j.n
),
pr AS (
    SELECT source, AVG(prec_n) AS p, AVG(rec_n) AS r,
           CAST(SUM(m) AS BIGINT) AS matches,
           CAST(SUM(tc) AS BIGINT) AS cand_grams,
           CAST(SUM(tr) AS BIGINT) AS ref_grams
    FROM byn GROUP BY source
)
SELECT source, matches, cand_grams, ref_grams,
       {_RL_ROUND6.format(x="p")} AS chrp6,
       {_RL_ROUND6.format(x="r")} AS chrr6,
       {_RL_ROUND6.format(
           x=f"CASE WHEN {_CHRF_BETA2} * p + r = 0 THEN 0.0 ELSE "
             f"(1 + {_CHRF_BETA2}) * p * r "
             f"/ ({_CHRF_BETA2} * p + r) END")} AS chrf6
FROM pr
"""


def _chrf_strip(col):
    """chrF's whitespace removal (Popović 2015 §2) as a Column."""
    return F.regexp_replace(F.trim(col), r"\s+", "")


def chrf_eval(cand, ref):
    """chrF per candidate source: each ``cand`` row (doc_id, source,
    text) is paired to the ``ref`` row (rid, text) with
    rid = doc_id - (doc_id mod 20) (the q_bleu_eval pairing). Both texts
    are whitespace-stripped, joined once by rid, and the clipped char
    n-gram matches of orders 1..4 are counted PER PAIR in one Arrow
    pass (ops.text.pair_clip_gram_counts — exact integer counts). Then
    the micro-sums per (source, order), chrP/chrR as the arithmetic
    means over orders of exact-integer ratios, and beta=2 F. The
    scoring kernel of q_chrf_eval."""
    from etl_data_processor_spark.ops.text import pair_clip_gram_counts

    s = _chrf_strip(F.col("text"))
    c = cand.select(
        "source",
        (F.col("doc_id") - F.pmod(F.col("doc_id"), F.lit(_RL_SRCS))).alias("rid"),
        s.alias("__c"),
    )
    r = ref.select("rid", s.alias("__r"))
    pc = pair_clip_gram_counts(
        c.join(r, "rid").select("source", "rid", "__c", "__r"),
        orders=tuple(range(1, _CHRF_N + 1)),
        mode="char",
        char_cap=_CHRF_W,
    )
    # a (source, n) row exists iff some pair carried ref grams AND some
    # pair carried cand grams of order n
    byn0 = (
        pc.groupBy("source", "n")
        .agg(
            F.sum("m").alias("m"),
            F.sum("t_ref").alias("tr"),
            F.sum("t_cand").alias("tc"),
        )
        .filter((F.col("tr") > 0) & (F.col("tc") > 0))
    )
    dd = lambda c: c.cast("double")  # noqa: E731
    byn = byn0.select(
        "source", "n", "m", "tr", "tc",
        (dd(F.col("m")) / dd(F.col("tc"))).alias("prec_n"),
        (dd(F.col("m")) / dd(F.col("tr"))).alias("rec_n"),
    )
    pr = byn.groupBy("source").agg(
        F.avg("prec_n").alias("p"),
        F.avg("rec_n").alias("r"),
        F.sum("m").alias("matches"),
        F.sum("tc").alias("cand_grams"),
        F.sum("tr").alias("ref_grams"),
    )
    b2 = F.lit(float(_CHRF_BETA2))
    fb = F.when(b2 * F.col("p") + F.col("r") == 0, F.lit(0.0)).otherwise(
        (F.lit(1.0) + b2) * F.col("p") * F.col("r")
        / (b2 * F.col("p") + F.col("r"))
    )
    return pr.select(
        "source", "matches", "cand_grams", "ref_grams",
        SIM.stable_round6(F.col("p")).alias("chrp6"),
        SIM.stable_round6(F.col("r")).alias("chrr6"),
        SIM.stable_round6(fb).alias("chrf6"),
    )


@q("q_chrf_eval", _CHRF_ORACLE)
def q_chrf_eval(spark, sf_dir):
    """Eval ext: corpus-level chrF (Popović 2015, public) over the
    q_bleu_eval pairing — the CHARACTER n-gram F-score that needs no
    tokenizer and so survives morphology/diacritics where word BLEU
    breaks. Whitespace is stripped, char n-grams of orders 1..4 are
    counted per side, matches clip per (pair, order, gram) exactly like
    BLEU/ROUGE, micro-summed per (source, order); chrP/chrR are the
    arithmetic means over orders of exact-integer ratios, combined with
    beta=2 (recall weighted twice — the paper's recommended operating
    point). Completes the eval family: BLEU (word precision), ROUGE-N
    (word recall), ROUGE-L (order-aware LCS), chrF (char F). Scale
    shape (r10, guide §4.2/§2.3): the two TEXT payloads are joined once
    by rid and the clipped gram matches are counted PER PAIR in one
    Arrow pass, replacing the earlier per-side gram-count explodes +
    3-way join that shuffled the gram multisets (~10-50x the text
    bytes) through two hash aggregates — measured 27-34
    executor-cpu-seconds at sf0.1 for this key alone. Scored by
    chrf_eval."""
    from etl_data_processor_spark.ops.dedup import _parallelize

    d = _parallelize(
        _cat(spark, sf_dir).documents.select("doc_id", "source", "text")
    )
    return chrf_eval(
        d.filter(F.col("source") != "src0"),
        d.filter(F.col("source") == "src0").select(
            F.col("doc_id").alias("rid"), "text"
        ),
    )


# =====================================================================
# t-closeness (B-privacy ext — Li, Li & Venkatasubramanian 2007:
# completes the privacy trio after q_k_anonymity and q_l_diversity)
# =====================================================================


@q(
    "q_t_closeness",
    """
    WITH qi AS (
        SELECT c_nationkey,
               CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
               c_mktsegment
        FROM customer
    ),
    cls AS (
        SELECT c_nationkey, bal_band, c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM qi GROUP BY 1, 2, 3
    ),
    gdist AS (
        SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS g FROM qi GROUP BY 1
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS big_n FROM qi),
    sizes AS (
        SELECT c_nationkey, bal_band, CAST(SUM(c) AS BIGINT) AS n
        FROM cls GROUP BY 1, 2
    ),
    grid AS (
        SELECT s.c_nationkey, s.bal_band, s.n, g.c_mktsegment, g.g,
               COALESCE(c.c, 0) AS c, tot.big_n
        FROM sizes s CROSS JOIN gdist g
        LEFT JOIN cls c ON c.c_nationkey = s.c_nationkey
                       AND c.bal_band = s.bal_band
                       AND c.c_mktsegment = g.c_mktsegment
        CROSS JOIN tot
    )
    SELECT c_nationkey, bal_band, ANY_VALUE(n) AS n,
           CAST(FLOOR(CAST(SUM(ABS(c * big_n - g * n)) AS DOUBLE)
                      / (2.0 * ANY_VALUE(n) * ANY_VALUE(big_n))
                      * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0 AS t6,
           CAST(FLOOR(CAST(SUM(ABS(c * big_n - g * n)) AS DOUBLE)
                      / (2.0 * ANY_VALUE(n) * ANY_VALUE(big_n))
                      * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0
               > 0.2 AS violates_t02
    FROM grid GROUP BY c_nationkey, bal_band
    """,
)
def q_t_closeness(spark, sf_dir):
    """Privacy ext: t-CLOSENESS audit (Li, Li & Venkatasubramanian
    2007, public) — the third rung after q_k_anonymity (class size) and
    q_l_diversity (distinct sensitive values): each equivalence class's
    sensitive-attribute distribution must sit within t of the GLOBAL
    distribution, else the class leaks attribute skew even when k and l
    pass. For a categorical sensitive attribute under uniform ground
    distance the EMD reduces to total variation distance
    (1/2) * sum |p_class - p_global|, and that is computed EXACTLY:
    every term is the integer |c*N - g*n| over the common denominator
    n*N, summed as bigints, with ONE final double division (the
    ops/exact discipline — no per-term float drift between engines).
    Same quasi-identifier banding as the sibling audits so the three
    reports line up row for row. Scale shape: two aggregates (class and
    global counts), a |classes| x |segments| grid join against a
    broadcast 5-row global table, a class-sized report."""
    c = _cat(spark, sf_dir).customer.select(
        "c_nationkey",
        F.expr("CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT)").alias("bal_band"),
        "c_mktsegment",
    )
    cls = c.groupBy("c_nationkey", "bal_band", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("c")
    )
    glob = c.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("g"))
    tot = c.agg(F.count(F.lit(1)).alias("big_n"))
    sizes = cls.groupBy("c_nationkey", "bal_band").agg(F.sum("c").alias("n"))
    grid = (
        sizes.crossJoin(F.broadcast(glob))
        .join(cls, ["c_nationkey", "bal_band", "c_mktsegment"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "c_nationkey", "bal_band", "n", "g",
            F.coalesce(F.col("c"), F.lit(0)).alias("c"),
            "big_n",
        )
    )
    num = F.sum(F.abs(F.col("c") * F.col("big_n") - F.col("g") * F.col("n")))
    t6 = SIM.stable_round6(
        num.cast("double")
        / (F.lit(2.0) * F.first("n").cast("double") * F.first("big_n").cast("double"))
    )
    out = grid.groupBy("c_nationkey", "bal_band").agg(
        F.first("n").alias("n"), t6.alias("t6")
    )
    return out.select(
        "c_nationkey", "bal_band", "n", "t6",
        (F.col("t6") > 0.2).alias("violates_t02"),
    )


# =====================================================================
# Heaps-law fit (B31 ext — Heaps 1978: vocabulary growth V ~ K * n^beta;
# the capacity-planning diagnostic behind the BPE trainer's bounded
# collect, now measured instead of cited)
# =====================================================================

_HEAPS_B = 32  # ingest-order checkpoints per source

_HEAPS_ORACLE = f"""
WITH tok AS (
    SELECT doc_id, source,
           unnest(list_filter(string_split(trim(text), ' '),
                              t -> t <> '')) AS token
    FROM documents
),
rng AS (
    SELECT source, MIN(doc_id) AS mn, MAX(doc_id) AS mx
    FROM documents GROUP BY source
),
bt AS (
    SELECT t.source, t.token,
           CAST((t.doc_id - r.mn) * {_HEAPS_B} // (r.mx - r.mn + 1)
                AS BIGINT) AS bucket
    FROM tok t JOIN rng r ON r.source = t.source
),
toks_per AS (
    SELECT source, bucket, CAST(COUNT(*) AS BIGINT) AS nt
    FROM bt GROUP BY source, bucket
),
first_b AS (
    SELECT source, token, MIN(bucket) AS fb FROM bt GROUP BY source, token
),
types_per AS (
    SELECT source, fb AS bucket, CAST(COUNT(*) AS BIGINT) AS nv
    FROM first_b GROUP BY source, fb
),
cum AS (
    SELECT t.source, t.bucket,
           SUM(t.nt) OVER (PARTITION BY t.source ORDER BY t.bucket) AS n,
           SUM(COALESCE(v.nv, 0)) OVER (PARTITION BY t.source
                                        ORDER BY t.bucket) AS v
    FROM toks_per t LEFT JOIN types_per v USING (source, bucket)
),
pts AS (
    SELECT source,
           CAST(FLOOR(LN(CAST(n AS DOUBLE)) * 1000000000.0 + 0.5)
                AS BIGINT) AS xq,
           CAST(FLOOR(LN(CAST(v AS DOUBLE)) * 1000000000.0 + 0.5)
                AS BIGINT) AS yq
    FROM cum
),
mo AS (
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(SUM(xq) AS BIGINT) AS sx, CAST(SUM(yq) AS BIGINT) AS sy,
           CAST(SUM(CAST(xq AS HUGEINT) * xq) AS HUGEINT) AS sxx,
           CAST(SUM(CAST(xq AS HUGEINT) * yq) AS HUGEINT) AS sxy
    FROM pts GROUP BY source
),
tot AS (
    SELECT source, CAST(SUM(nt) AS BIGINT) AS n_tokens
    FROM toks_per GROUP BY source
),
vt AS (
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_types
    FROM first_b GROUP BY source
)
SELECT mo.source, mo.n_points, tot.n_tokens, vt.n_types,
       {_RL_ROUND6.format(
           x="CAST(mo.n_points * mo.sxy - CAST(mo.sx AS HUGEINT) * mo.sy "
             "AS DOUBLE) / CAST(mo.n_points * mo.sxx "
             "- CAST(mo.sx AS HUGEINT) * mo.sx AS DOUBLE)")} AS beta6,
       {_RL_ROUND6.format(
           x="(CAST(mo.sy AS DOUBLE) - (CAST(mo.n_points * mo.sxy "
             "- CAST(mo.sx AS HUGEINT) * mo.sy AS DOUBLE) "
             "/ CAST(mo.n_points * mo.sxx - CAST(mo.sx AS HUGEINT) * mo.sx "
             "AS DOUBLE)) * CAST(mo.sx AS DOUBLE)) "
             "/ CAST(mo.n_points AS DOUBLE) / 1000000000.0")} AS logk6
FROM mo JOIN tot ON tot.source = mo.source JOIN vt ON vt.source = mo.source
"""


def heaps_ols(cum, *by):
    """Heaps-law OLS of ln(types) on ln(tokens) over cumulative
    checkpoints ``cum`` (*by, n, v), one fit per ``by`` group: each
    coordinate quantizes to floor(ln(x)*1e9 + 0.5), the moments sum in
    DECIMAL(38) (xq^2 overflows int64 — the q_zipf_fit lesson), one
    double division per coefficient. Output (*by, n_points, beta6,
    logk6); below two distinct points the slope's denominator is 0 and
    both coefficients are NULL. The fit of q_heaps_fit."""
    q9 = lambda col: F.floor(  # noqa: E731
        F.log(col.cast("double")) * F.lit(1e9) + F.lit(0.5)
    ).cast("long")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    mo = (
        cum.select(*by, q9(F.col("n")).alias("xq"), q9(F.col("v")).alias("yq"))
        .groupBy(*by)
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum("xq").alias("sx"),
            F.sum("yq").alias("sy"),
            F.sum(dec(F.col("xq")) * dec(F.col("xq"))).alias("sxx"),
            F.sum(dec(F.col("xq")) * dec(F.col("yq"))).alias("sxy"),
        )
    )
    dd = lambda c: c.cast("double")  # noqa: E731
    slope = F.try_divide(
        dd(dec(F.col("n_points")) * F.col("sxy") - dec(F.col("sx")) * dec(F.col("sy"))),
        dd(dec(F.col("n_points")) * F.col("sxx") - dec(F.col("sx")) * dec(F.col("sx"))),
    )
    intercept = (
        (dd(F.col("sy")) - slope * dd(F.col("sx")))
        / dd(F.col("n_points"))
        / F.lit(1e9)
    )
    return mo.select(
        *by, "n_points",
        SIM.stable_round6(slope).alias("beta6"),
        SIM.stable_round6(intercept).alias("logk6"),
    )


@q("q_heaps_fit", _HEAPS_ORACLE)
def q_heaps_fit(spark, sf_dir):
    """B31 ext: Heaps-law fit per source — OLS of ln(distinct types) on
    ln(tokens seen) at 32 ingest-order checkpoints, estimating the
    vocabulary-growth exponent beta in V ~ K * n^beta (Heaps 1978,
    public; natural text sits near 0.4-0.6). This is the measured form
    of the argument VERDICT r6 item 5 made from citation: word-type
    counts grow like n^beta, so any driver-side vocabulary collect
    (a BPE trainer's) MUST be frequency-capped — a corpus
    team fits beta once and sizes the cap from it. Plan shape: docs
    bucket by exact integer arithmetic on doc_id into 32 ordered
    checkpoints per source; token totals and FIRST-OCCURRENCE buckets
    are two hash aggregates (the corpus is never windowed — min(bucket)
    per (source, token) is what makes the cumulative vocabulary
    computable from per-bucket NEW-type counts); the only window is the
    32-row-per-source cumulative sum; moments run in DECIMAL(38)/
    HUGEINT (xq^2 overflows int64 — the q_zipf_fit lesson); one double
    division per coefficient (heaps_ols)."""
    from etl_data_processor_spark.ops.text import tokenize
    from pyspark.sql import Window

    d = _cat(spark, sf_dir).documents
    tok = d.select(
        "doc_id", "source", F.explode(tokenize(F.col("text"))).alias("token")
    )
    rng = d.groupBy("source").agg(
        F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx")
    )
    # exact integer division: (num - num mod den) / den is an exact
    # multiple, so the double division cannot round across a bucket edge
    num = (F.col("doc_id") - F.col("mn")) * _HEAPS_B
    den = F.col("mx") - F.col("mn") + 1
    bt = tok.join(F.broadcast(rng), "source").select(
        "source",
        "token",
        ((num - F.pmod(num, den)) / den).cast("long").alias("bucket"),
    )
    toks_per = bt.groupBy("source", "bucket").agg(F.count(F.lit(1)).alias("nt"))
    first_b = bt.groupBy("source", "token").agg(F.min("bucket").alias("fb"))
    types_per = first_b.groupBy("source", F.col("fb").alias("bucket")).agg(
        F.count(F.lit(1)).alias("nv")
    )
    # <= 32 rows per source: a bounded cumulative frame, not a corpus window
    win = Window.partitionBy("source").orderBy("bucket")
    cum = (
        toks_per.join(types_per, ["source", "bucket"], "left")
        .select(
            "source", "bucket", "nt",
            F.coalesce(F.col("nv"), F.lit(0)).alias("nv"),
        )
        .select(
            "source",
            F.sum("nt").over(win).alias("n"),
            F.sum("nv").over(win).alias("v"),
        )
    )
    tot = toks_per.groupBy("source").agg(F.sum("nt").alias("n_tokens"))
    vt = first_b.groupBy("source").agg(F.count(F.lit(1)).alias("n_types"))
    return (
        heaps_ols(cum, "source")
        .join(tot, "source")
        .join(vt, "source")
        .select("source", "n_points", "n_tokens", "n_types", "beta6", "logk6")
    )


# =====================================================================
# Label propagation community detection (B49 ext — Raghavan, Albert &
# Kumara 2007, made deterministic: synchronized rounds, ties to the
# lexicographically smallest label)
# =====================================================================

_LPA_ROUNDS = 3

# One synchronized LPA round in SQL: each node adopts the most frequent
# label among its neighbors, ties to the smallest label; isolated nodes
# (none here — every node in the edge list has a neighbor) keep theirs.
_LPA_ROUND_SQL = """
{next} AS (
    SELECT node, lbl
    FROM (
        SELECT e.dst AS node, l.lbl,
               CAST(COUNT(*) AS BIGINT) AS cnt,
               ROW_NUMBER() OVER (PARTITION BY e.dst
                                  ORDER BY COUNT(*) DESC, l.lbl ASC) AS rk
        FROM edges e JOIN {cur} l ON l.node = e.src
        GROUP BY e.dst, l.lbl
    )
    WHERE rk = 1
)
"""

_LPA_ORACLE = (
    """
WITH k AS (SELECT DISTINCT p_name AS key FROM part),
pairs AS (
    SELECT a.key AS key_a, b.key AS key_b
    FROM k a JOIN k b ON a.key < b.key
    WHERE levenshtein(a.key, b.key) <= 2
),
edges AS (
    SELECT key_a AS src, key_b AS dst FROM pairs
    UNION ALL
    SELECT key_b AS src, key_a AS dst FROM pairs
),
l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM edges),
"""
    + ",".join(
        _LPA_ROUND_SQL.format(cur=f"l{i}", next=f"l{i + 1}")
        for i in range(_LPA_ROUNDS)
    )
    + f"""
SELECT lbl AS community, CAST(COUNT(*) AS BIGINT) AS n_members
FROM l{_LPA_ROUNDS} GROUP BY lbl
"""
)


@q("q_label_propagation", _LPA_ORACLE)
def q_label_propagation(spark, sf_dir):
    """B49 ext: LABEL PROPAGATION community detection (Raghavan et al.
    2007, public) over the lev<=2 fuzzy part-name graph — the
    frequency-based community structure next to q_dedup_clusters'
    connectivity-based one (CC merges anything touching; LPA keeps
    weakly-bridged districts apart, which is what entity-resolution
    reviewers actually want to see). Made fully deterministic for the
    differential: labels ARE the name strings, rounds are synchronized
    (all nodes update from the previous round's labels), the argmax
    ties break to the lexicographically smallest label, and the round
    count is fixed (3) rather than run-to-convergence — so both engines
    walk the identical label lattice. The per-round argmax is
    min(struct(-count, label)) — a plain hash aggregate, NO per-node
    window; one edges⋈labels join + one aggregate per round. Edges come
    from the lossless length-band blocked candidate join (never
    all-pairs; the oracle's all-pairs form re-proves losslessness).
    Scale: rounds are the CC machinery's cost shape (ops/graph.py);
    label payloads are names, bounded by key length."""
    from etl_data_processor_spark.ops.text import fuzzy_key_pairs

    part = _cat(spark, sf_dir).part
    pairs = fuzzy_key_pairs(part, "p_name", max_dist=2).select(
        "key_a", "key_b"
    )
    edges = pairs.select(
        F.col("key_a").alias("src"), F.col("key_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("key_b").alias("src"), F.col("key_a").alias("dst"))
    )
    # read by every round and released by the loop; a cache, since behind
    # a checkpoint each round's join would shuffle the edge list again
    edges = edges.cache()

    def step(labels, _):
        counted = (
            edges.join(
                labels.select(F.col("node").alias("src"), "lbl"), "src"
            )
            .groupBy(F.col("dst").alias("node"), "lbl")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        return counted.groupBy("node").agg(
            F.min(F.struct((-F.col("cnt")).alias("nc"), F.col("lbl"))).alias(
                "__b"
            )
        ).select("node", F.col("__b.lbl").alias("lbl"))

    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    labels = iterate.rounds(labels, step, _LPA_ROUNDS, working=(edges,))
    return labels.groupBy(F.col("lbl").alias("community")).agg(
        F.count(F.lit(1)).alias("n_members")
    )
