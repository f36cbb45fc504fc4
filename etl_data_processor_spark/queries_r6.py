"""Round-6 extension batch: closing the BPE tokenizer loop (B64 ext).

q_bpe_pair_counts (round 5) computes the TRAINING statistic; this batch adds
the INFERENCE half — applying a trained merge list to encode the corpus
vocabulary into tokens — plus the trained-merge provenance: the literal merge
list below IS the greedy BPE trainer's output on the fixture corpus
(``train_bpe_merges`` in tests/reference.py; pinned by
tests/test_r6_ops.py), the same way a production pipeline ships a
trained tokenizer artifact next to the data.

House rules as ever: deterministic, DuckDB-oracled on the same parquet, and
shaped for 100 TB — the corpus is scanned once into the vocabulary, all
per-merge work runs on vocab-sized data, and the Spark side has no Python
boundary (each merge is a JVM-side ``aggregate`` fold).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_data_processor_spark.ops import sampling as SMP
from etl_data_processor_spark.ops import text as T
from etl_data_processor_spark.registry import cat as _cat
from etl_data_processor_spark.registry import q

# Trained on the fixture corpus via train_bpe_merges(documents, 16)
# (tests/reference.py)
# — the shipped-tokenizer artifact (tests/test_r6_ops.py re-trains and pins
# equality). Rank order matters: later merges build on earlier symbols
# (a+s -> as, as+h -> ash, h+ash -> hash).
BPE_MERGES: list[tuple[str, str]] = [
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"), ("s", "t"),
    ("m", "er"), ("a", "t"), ("l", "u"), ("a", "r"), ("p", "ar"),
    ("j", "o"), ("jo", "in"), ("a", "s"), ("as", "h"), ("h", "ash"),
    ("r", "ow"),
]

_MERGE_VALUES = ", ".join(
    f"({i + 1}, '{a}', '{b}')" for i, (a, b) in enumerate(BPE_MERGES)
)

# Shared DuckDB fragment: min-rank-iterate BPE over a `wf(word, ...)` CTE —
# the recursive replay both BPE oracles build on (one leftmost merge of the
# lowest-rank applicable pair per step; see q_bpe_encode's docstring for the
# equivalence to the Spark side's rank-order folds).
_BPE_ENC_CTES = """
    enc AS (
        SELECT word,
               ' ' || array_to_string(list_transform(range(1, length(word) + 1),
                                                     i -> word[i:i]), ' ')
                   || ' ' AS state
        FROM (SELECT DISTINCT word FROM wf)
        UNION ALL
        SELECT word,
               substr(state, 1, pos - 1) || ' ' || a || b || ' ' ||
               substr(state, pos + length(a) + length(b) + 3)
        FROM (
            SELECT e.word, e.state, m.a, m.b,
                   instr(e.state, ' ' || m.a || ' ' || m.b || ' ') AS pos
            FROM enc e,
                 LATERAL (SELECT m2.a, m2.b FROM merges m2
                          WHERE instr(e.state,
                                      ' ' || m2.a || ' ' || m2.b || ' ') > 0
                          ORDER BY m2.rank LIMIT 1) m
        )
    ),
    final AS (
        SELECT word, trim(state) AS encoding
        FROM enc e
        WHERE NOT EXISTS (SELECT 1 FROM merges m
                          WHERE instr(e.state,
                                      ' ' || m.a || ' ' || m.b || ' ') > 0)
    )"""


@q(
    "q_bpe_encode",
    f"""
    WITH RECURSIVE
    merges(rank, a, b) AS (VALUES {_MERGE_VALUES}),
    wf AS (
        SELECT w AS word, COUNT(*) AS freq FROM (
            SELECT UNNEST(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                      x -> x <> '')) AS w
            FROM documents)
        GROUP BY w
    ),{_BPE_ENC_CTES}
    SELECT f.word, f.encoding,
           CAST(len(regexp_split_to_array(f.encoding, ' ')) AS BIGINT)
               AS n_tokens,
           CAST(w.freq AS BIGINT) AS freq,
           CAST(len(regexp_split_to_array(f.encoding, ' ')) * w.freq
               AS BIGINT) AS total_tokens
    FROM final f JOIN wf w ON f.word = w.word
    ORDER BY f.word
    """,
)
def q_bpe_encode(spark, sf_dir):
    """Distributed BPE encoding (the inference half of the tokenizer loop;
    VERDICT r5 item 6): apply the trained merge list in rank order to the
    corpus VOCABULARY, returning each word's token sequence, its corpus
    frequency, and its weighted token contribution (sum(total_tokens) is
    the corpus token count under this tokenizer).

    100 TB shape — the corpus is scanned ONCE (word-frequency hash agg,
    map-side partials shrink the shuffle to vocabulary size); every merge
    then runs as a JVM-side ``aggregate`` fold over vocab-sized symbol
    arrays, so adding merges never re-touches the corpus, and the full
    token stream is a broadcast join of corpus words against this table.
    Applying merges one full pass per rank is provably equivalent to
    canonical min-rank-iterate BPE (see ops.text.bpe_encode_words); the
    DuckDB oracle replays the OTHER form — a recursive CTE merging the
    leftmost occurrence of the lowest-rank applicable pair, one merge per
    step — so a green differential proves the equivalence on the fixture,
    and tests/test_r6_ops.py proves it on random corpora against a
    pure-Python canonical encoder."""
    d = _cat(spark, sf_dir).documents
    wf = (
        d.select(F.explode(T.tokenize(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    enc = T.bpe_encode_words(wf, BPE_MERGES)
    return enc.select(
        "word",
        F.array_join("tokens", " ").alias("encoding"),
        F.size("tokens").cast("long").alias("n_tokens"),
        F.col("freq").cast("long").alias("freq"),
        (F.size("tokens") * F.col("freq")).cast("long").alias("total_tokens"),
    ).orderBy("word")


@q(
    "q_bpe_corpus_stats",
    f"""
    WITH RECURSIVE
    merges(rank, a, b) AS (VALUES {_MERGE_VALUES}),
    wc AS (
        SELECT source, w AS word, COUNT(*) AS freq FROM (
            SELECT source,
                   UNNEST(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                      x -> x <> '')) AS w
            FROM documents)
        GROUP BY source, w
    ),
    wf AS (SELECT word FROM wc GROUP BY word),{_BPE_ENC_CTES},
    wt AS (
        SELECT word,
               len(regexp_split_to_array(encoding, ' ')) AS n_toks
        FROM final
    )
    SELECT wc.source,
           CAST(SUM(wc.freq) AS BIGINT) AS n_words,
           CAST(SUM(wc.freq * length(wc.word)) AS BIGINT) AS n_chars,
           CAST(SUM(wc.freq * wt.n_toks) AS BIGINT) AS bpe_tokens,
           FLOOR(CAST(SUM(wc.freq * length(wc.word)) AS DOUBLE)
                 / CAST(SUM(wc.freq * wt.n_toks) AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS chars_per_token6
    FROM wc JOIN wt USING (word)
    GROUP BY wc.source
    ORDER BY wc.source
    """,
)
def q_bpe_corpus_stats(spark, sf_dir):
    """Tokenizer audit per source: corpus token counts under the trained
    BPE and the compression ratio (chars per token) — the fertility /
    efficiency statistic every tokenizer rollout is judged by. This IS
    the join-back path q_bpe_encode's docstring promises: the corpus is
    scanned ONCE into (source, word) counts (plan-pinned: exactly one
    parquet scan), each count row is encoded in place by the JVM-side
    folds — at most |vocab| x |sources| encodes, still vocabulary-scale
    work however large the corpus — and the per-source totals are exact
    integers (the only float is one final division, rounded identically
    on both engines)."""
    d = _cat(spark, sf_dir).documents
    wc = (
        d.select(
            "source", F.explode(T.tokenize(F.col("text"))).alias("word")
        )
        .groupBy("source", "word")
        .agg(F.count("*").alias("freq"))
    )
    enc = T.bpe_encode_words(wc, BPE_MERGES).select(
        "source",
        "freq",
        F.size("tokens").alias("n_toks"),
        F.length("word").alias("n_chars_w"),
    )
    return (
        enc.groupBy("source")
        .agg(
            F.sum("freq").cast("long").alias("n_words"),
            F.sum(F.col("freq") * F.col("n_chars_w")).cast("long").alias(
                "n_chars"
            ),
            F.sum(F.col("freq") * F.col("n_toks")).cast("long").alias(
                "bpe_tokens"
            ),
        )
        .select(
            "source",
            "n_words",
            "n_chars",
            "bpe_tokens",
            (
                F.floor(
                    F.col("n_chars")
                    / F.col("bpe_tokens")
                    * 1000000.0
                    + 0.5
                )
                / 1000000.0
            ).alias("chars_per_token6"),
        )
        .orderBy("source")
    )


# =====================================================================
# Distribution-drift monitoring (PSI) between sources
# =====================================================================

_QUALITY_DUCK = r"""ROUND(GREATEST(0.0,
        LEAST(length(text)/200.0, 1.0)
        * (length(regexp_replace(text, '[^A-Za-zæøå ]', '', 'g'))::DOUBLE
           / GREATEST(length(text), 1))
        * (1.0 - 4.0 * (length(regexp_replace(text, '[^\.,;:!\?]', '', 'g'))::DOUBLE
                        / GREATEST(length(text), 1)))
    ), 6)"""


@q(
    "q_quality_drift_psi",
    f"""
    WITH b AS (
        SELECT source,
               LEAST(CAST(FLOOR({_QUALITY_DUCK} * 10) AS INTEGER), 9) AS bin
        FROM documents
    ),
    cnt AS (SELECT source, bin, COUNT(*) AS c FROM b GROUP BY source, bin),
    tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY source),
    grid AS (
        SELECT t.source, t.n, CAST(g.i AS INTEGER) AS bin
        FROM tot t, range(0, 10) g(i)
    ),
    filled AS (
        SELECT g.source, g.bin, g.n, COALESCE(c.c, 0) AS c
        FROM grid g LEFT JOIN cnt c
          ON g.source = c.source AND g.bin = c.bin
    ),
    ref AS (SELECT MIN(source) AS rs FROM tot),
    rd AS (
        SELECT f.bin, f.c AS rc, f.n AS rn
        FROM filled f, ref WHERE f.source = ref.rs
    ),
    terms AS (
        SELECT f.source, f.n,
               CAST(FLOOR(
                   ((f.c + 1.0) / (f.n + 10.0) - (rd.rc + 1.0) / (rd.rn + 10.0))
                   * LN(((f.c + 1.0) / (f.n + 10.0))
                        / ((rd.rc + 1.0) / (rd.rn + 10.0)))
                   * 1000000000000.0 + 0.5) AS BIGINT) AS tq
        FROM filled f JOIN rd ON f.bin = rd.bin, ref
        WHERE f.source <> ref.rs
    )
    SELECT source, CAST(ANY_VALUE(n) AS BIGINT) AS n_docs,
           FLOOR(CAST(SUM(tq) AS DOUBLE) / 1000000.0 + 0.5) / 1000000.0
               AS psi6
    FROM terms GROUP BY source ORDER BY source
    """,
)
def q_quality_drift_psi(spark, sf_dir):
    """Population Stability Index of the quality-score distribution, every
    source vs the reference (lexicographically first) source — the
    standard drift monitor a corpus pipeline runs per ingest batch (PSI
    < 0.1 stable, > 0.25 shifted). Ten fixed-width bins over the
    deterministic 6dp quality score, +1 Laplace smoothing so empty bins
    stay finite, and the float stage follows the house fixed-point
    discipline: each (p-r)*ln(p/r) term quantizes to 1e-12 BEFORE the
    sum (integer summation is order-independent; a raw double SUM drifts
    with partition order — ops/exact). 100 TB shape: one corpus
    aggregate to (source, bin) counts; everything after is
    sources x 10 rows, reference bins broadcast back. The statistic is
    ops.drift.psi_kernel; this loader supplies the reference."""
    from etl_data_processor_spark.ops import drift as DR

    # the corpus collapses to <= |sources| x 10 rows here; cache the tiny
    # table so the kernel's consumers never re-run the corpus scan
    # (plan-pinned: one parquet scan)
    cnt = DR.psi_bin_counts(_cat(spark, sf_dir).documents).cache()
    rs = F.broadcast(cnt.agg(F.min("source").alias("rs")))
    ref = cnt.join(rs, F.col("source") == F.col("rs")).select("bin", "c")
    psi = DR.psi_kernel(cnt, ref)
    return psi.join(rs, F.col("source") != F.col("rs")).drop("rs").orderBy("source")


# =====================================================================
# Adaptive per-source length gate (nearest-rank quantile thresholds)
# =====================================================================


@q(
    "q_length_filter_adaptive",
    """
    WITH vc AS (
        SELECT source, n_chars, COUNT(*) AS c
        FROM documents GROUP BY source, n_chars
    ),
    cum AS (
        SELECT source, n_chars, c,
               SUM(c) OVER (PARTITION BY source ORDER BY n_chars
                            ROWS UNBOUNDED PRECEDING) AS cs,
               SUM(c) OVER (PARTITION BY source) AS n
        FROM vc
    ),
    thr AS (
        SELECT source, CAST(ANY_VALUE(n) AS BIGINT) AS n_docs,
               CAST(MIN(CASE WHEN cs >= (n + 19) // 20
                             THEN n_chars END) AS BIGINT) AS p05_chars,
               CAST(MIN(CASE WHEN cs >= (19 * n + 19) // 20
                             THEN n_chars END) AS BIGINT) AS p95_chars
        FROM cum GROUP BY source
    )
    SELECT t.source, t.n_docs, t.p05_chars, t.p95_chars,
           CAST(SUM(CASE WHEN v.n_chars BETWEEN t.p05_chars AND t.p95_chars
                         THEN v.c ELSE 0 END) AS BIGINT) AS kept,
           CAST(SUM(CASE WHEN v.n_chars < t.p05_chars
                         THEN v.c ELSE 0 END) AS BIGINT) AS dropped_short,
           CAST(SUM(CASE WHEN v.n_chars > t.p95_chars
                         THEN v.c ELSE 0 END) AS BIGINT) AS dropped_long
    FROM thr t JOIN vc v USING (source)
    GROUP BY t.source, t.n_docs, t.p05_chars, t.p95_chars
    ORDER BY t.source
    """,
)
def q_length_filter_adaptive(spark, sf_dir):
    """Adaptive per-source length gate: each source keeps documents inside
    its OWN [p05, p95] nearest-rank character-length quantiles (integer
    rank arithmetic, ceil via (n+19)//20 — no float index, so the
    thresholds are engine-exact), returning the per-source gate report.
    The fixed-threshold quality filters (q_text_quality, Gopher rules)
    miss per-domain length regimes; the adaptive gate is what corpus
    pipelines run per ingest source. 100 TB shape: ONE corpus aggregate
    to (source, n_chars) value counts; the quantile window runs over the
    per-source DISTINCT VALUE table (bounded by the length range, never
    the corpus), and the keep/drop report is a second pass over the same
    tiny table — the corpus itself is touched exactly once."""
    from pyspark.sql import Window

    d = _cat(spark, sf_dir).documents
    # the corpus collapses to (source, n_chars) value counts here; cache
    # the tiny table so the threshold window and the keep/drop report both
    # read it without re-running the corpus scan (plan-pinned)
    vc = d.groupBy("source", "n_chars").agg(F.count("*").alias("c")).cache()
    w = (
        Window.partitionBy("source")
        .orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = vc.withColumn("cs", F.sum("c").over(w)).withColumn(
        "n", F.sum("c").over(Window.partitionBy("source"))
    )
    thr = cum.groupBy("source").agg(
        F.first("n").cast("long").alias("n_docs"),
        F.min(
            F.when(
                F.col("cs") >= F.floor((F.col("n") + 19) / 20),
                F.col("n_chars"),
            )
        ).cast("long").alias("p05_chars"),
        F.min(
            F.when(
                F.col("cs") >= F.floor((19 * F.col("n") + 19) / 20),
                F.col("n_chars"),
            )
        ).cast("long").alias("p95_chars"),
    )
    rep = vc.join(F.broadcast(thr), "source")
    return (
        rep.groupBy("source")
        .agg(
            F.first("n_docs").alias("n_docs"),
            F.first("p05_chars").alias("p05_chars"),
            F.first("p95_chars").alias("p95_chars"),
            F.sum(
                F.when(
                    F.col("n_chars").between(
                        F.col("p05_chars"), F.col("p95_chars")
                    ),
                    F.col("c"),
                ).otherwise(0)
            ).cast("long").alias("kept"),
            F.sum(
                F.when(F.col("n_chars") < F.col("p05_chars"), F.col("c"))
                .otherwise(0)
            ).cast("long").alias("dropped_short"),
            F.sum(
                F.when(F.col("n_chars") > F.col("p95_chars"), F.col("c"))
                .otherwise(0)
            ).cast("long").alias("dropped_long"),
        )
        .orderBy("source")
    )


# =====================================================================
# Temperature-scaled corpus sampling (the mC4/PaLM multilingual recipe)
# =====================================================================

_TEMP_SEED = 31
_M32 = 1 << 32
_TOKS_DUCK = (
    "len(list_filter(regexp_split_to_array(trim(text), '\\s+'), "
    "x -> x <> ''))"
)


@q(
    "q_sample_temperature",
    f"""
    WITH toks AS (
        SELECT doc_id, source, {_TOKS_DUCK} AS n_toks FROM documents
    ),
    totals AS (
        SELECT source, CAST(SUM(n_toks) AS BIGINT) AS src_toks
        FROM toks GROUP BY source
    ),
    grand AS (SELECT CAST(SUM(src_toks) AS BIGINT) AS tot FROM totals),
    nq AS (
        SELECT t.source, t.src_toks, g.tot,
               CAST(FLOOR(SQRT(CAST(t.src_toks AS DOUBLE)
                               / CAST(g.tot AS DOUBLE))
                          * 1000000000000.0 + 0.5) AS BIGINT) AS nq
        FROM totals t, grand g
    ),
    den AS (SELECT CAST(SUM(nq) AS BIGINT) AS den FROM nq),
    rated AS (
        SELECT n.source, n.src_toks,
               LEAST(1.0,
                     (CAST(FLOOR(0.5 * n.tot) AS BIGINT)
                      * (CAST(n.nq AS DOUBLE) / CAST(d.den AS DOUBLE)))
                     / CAST(n.src_toks AS DOUBLE)) AS rate
        FROM nq n, den d
    ),
    kept AS (
        SELECT k.source, k.n_toks
        FROM toks k JOIN rated r ON k.source = r.source
        WHERE xor(((xor(((((k.doc_id)::BIGINT + 82287508839) % 4294967296) * 73244475) % 4294967296, (((((k.doc_id)::BIGINT + 82287508839) % 4294967296) * 73244475) % 4294967296) >> 16)) * 591119335) % 4294967296, (((xor(((((k.doc_id)::BIGINT + 82287508839) % 4294967296) * 73244475) % 4294967296, (((((k.doc_id)::BIGINT + 82287508839) % 4294967296) * 73244475) % 4294967296) >> 16)) * 591119335) % 4294967296) >> 13)
              < CAST(FLOOR(r.rate * {_M32}) AS BIGINT)
    )
    SELECT r.source, r.src_toks,
           FLOOR(r.rate * 1000000.0 + 0.5) / 1000000.0 AS rate6,
           CAST(COALESCE(COUNT(k.n_toks), 0) AS BIGINT) AS kept_docs,
           CAST(COALESCE(SUM(k.n_toks), 0) AS BIGINT) AS kept_tokens
    FROM rated r LEFT JOIN kept k ON r.source = k.source
    GROUP BY r.source, r.src_toks, r.rate
    ORDER BY r.source
    """,
)
def q_sample_temperature(spark, sf_dir):
    """Temperature-scaled corpus sampling (the public mC4/PaLM
    multilingual mixing recipe, tau = 2): per-source sampling rates
    proportional to p_s^(1/tau) — big sources are DOWN-weighted and small
    sources up-weighted relative to natural proportions, flattening the
    mixture — normalized to a 50% token budget and applied as a
    DETERMINISTIC hash sample (the decision depends only on doc_id, so
    the mix reproduces across engines, re-runs and partitionings).
    Complements q_corpus_mix (integer domain weights at a budget): this
    is the temperature knob form. tau = 2 makes p^(1/tau) an IEEE sqrt —
    correctly rounded and engine-identical — and each sqrt quantizes to
    1e-12 fixed point BEFORE the normalizing sum (integer summation is
    order-independent; the ops/exact discipline), so the rates are
    bit-identical on both engines. 100 TB shape, same as q_corpus_mix:
    token totals are one small aggregate, rates broadcast back, and the
    sample is a shuffle-free scan-stage filter — the corpus is never
    exchanged."""
    d = _cat(spark, sf_dir).documents
    toks = d.select(
        "doc_id", "source", T.token_count(F.col("text")).cast("long").alias("n_toks")
    )
    totals = toks.groupBy("source").agg(F.sum("n_toks").alias("src_toks"))
    grand = totals.agg(F.sum("src_toks").alias("tot"))
    nq = totals.crossJoin(F.broadcast(grand)).select(
        "source",
        "src_toks",
        "tot",
        F.floor(
            F.sqrt(F.col("src_toks") / F.col("tot")) * 1e12 + 0.5
        ).cast("long").alias("nq"),
    )
    den = nq.agg(F.sum("nq").alias("den"))
    rated = nq.crossJoin(F.broadcast(den)).select(
        "source",
        "src_toks",
        F.least(
            F.lit(1.0),
            (
                F.floor(0.5 * F.col("tot")).cast("long")
                * (F.col("nq").cast("double") / F.col("den").cast("double"))
            )
            / F.col("src_toks").cast("double"),
        ).alias("rate"),
    )
    kept = toks.join(
        F.broadcast(rated.select("source", "rate")), "source"
    ).filter(
        SMP.hash32(F.col("doc_id"), seed=_TEMP_SEED)
        < F.floor(F.col("rate") * _M32).cast("long")
    )
    agg = kept.groupBy("source").agg(
        F.count("*").alias("kept_docs"), F.sum("n_toks").alias("kept_tokens")
    )
    return (
        rated.join(agg, "source", "left")
        .select(
            "source",
            F.col("src_toks").cast("long").alias("src_toks"),
            (F.floor(F.col("rate") * 1000000.0 + 0.5) / 1000000.0).alias(
                "rate6"
            ),
            F.coalesce(F.col("kept_docs"), F.lit(0)).cast("long").alias(
                "kept_docs"
            ),
            F.coalesce(F.col("kept_tokens"), F.lit(0)).cast("long").alias(
                "kept_tokens"
            ),
        )
        .orderBy("source")
    )
