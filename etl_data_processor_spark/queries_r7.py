"""Round-7 extension batch: PassJoin fuzzy-candidate generation,
corpus diversity (distinct-n), weighted reservoir sampling (A-Res),
corpus BLEU eval, T5 span corruption, and PCM VAD segmentation.

House rules as ever: deterministic (hash-derived randomness, no RNG),
DuckDB-oracled on the same parquet, exact integers until one final
libm pair, and shaped for 100 TB — candidate generation is an equi-join
on a derived key, rankings are TakeOrderedAndProject (ranked_topk), the
only windows are per-doc/per-track bounded frames, and the sole Python
stage is the Arrow-batched binary PCM decode.
"""

from __future__ import annotations

from etl_data_processor_spark.ops import text as T
from etl_data_processor_spark.registry import cat as _cat
from etl_data_processor_spark.registry import q

# =====================================================================
# Fuzzy key matching, PassJoin scale path (B50 ext; VERDICT r6 item 2)
# =====================================================================


@q(
    "q_fuzzy_passjoin",
    """
    WITH k AS (SELECT DISTINCT p_name AS key FROM part)
    SELECT a.key AS key_a, b.key AS key_b,
           CAST(levenshtein(a.key, b.key) AS INTEGER) AS dist
    FROM k a JOIN k b ON a.key < b.key
    WHERE levenshtein(a.key, b.key) <= 2
    """,
)
def q_fuzzy_passjoin(spark, sf_dir):
    """q_fuzzy_match's exact output through PASSJOIN segment blocking
    (Li, Deng & Feng 2011, public; ops.text.fuzzy_key_pairs_passjoin):
    each key indexes its 3 even segments and probes with the
    position-windowed substrings of partner-length segments — 3 index +
    <= ~75 probe keys per key instead of the ~170 deletion variants PER
    SIDE of q_fuzzy_symdelete, i.e. ~4x less candidate-join exchange
    volume with the identical lossless guarantee (pigeonhole: <= 2 edits
    leave one of 3 segments untouched, and it occurs in the partner
    shifted by <= 2). The oracle is the same NAIVE all-pairs SQL, so a
    green differential PROVES the blocking lossless on a real text
    column. Honest tradeoff, measured (NOTES_r7): explode volume is ~4x
    lower but candidate PRECISION depends on segment entropy — short
    segments among the linkage fixture's sequential-ID names were 14x
    less selective than full-length deletion variants (18.0M vs ~1.25M
    candidates at sf0.1, forward or reversed), so the linkage family
    keeps symdelete and this key registers PassJoin as the alternative
    for HIGH-entropy key domains where the exchange volume, not the
    verify, dominates. All three blocking strategies stay registered:
    length band (cheapest per key at small scale), symmetric delete
    (precision-robust), PassJoin (lowest explode volume)."""
    return T.fuzzy_key_pairs_passjoin(
        _cat(spark, sf_dir).part, "p_name", max_dist=2
    )


# =====================================================================
# Corpus diversity: distinct-n ratios (B31 ext — Li et al. 2016's
# distinct-1/2/3, the generation-diversity diagnostic)
# =====================================================================

from pyspark.sql import functions as F  # noqa: E402

from etl_data_processor_spark.ops import similarity as SIM  # noqa: E402
from etl_data_processor_spark.ops.sampling import hash32_sql  # noqa: E402
from etl_data_processor_spark.ops.text import tokenize  # noqa: E402

_SQL_TOKENS = "list_filter(string_split(trim(text), ' '), t -> t <> '')"
_SQL_ROUND6 = "CAST(FLOOR(({x}) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0"

_DNG_ORACLE = f"""
WITH tok AS (SELECT source, {_SQL_TOKENS} AS w FROM documents),
g AS (
    SELECT source, nn.n AS n, array_to_string(w[i:i + nn.n - 1], ' ') AS g
    FROM tok, range(1, 4) nn(n), range(1, 4097) t(i)
    WHERE i + nn.n - 1 <= len(w)
)
SELECT source, CAST(n AS INT) AS n,
       CAST(COUNT(*) AS BIGINT) AS total_n,
       CAST(COUNT(DISTINCT g) AS BIGINT) AS distinct_n,
       {_SQL_ROUND6.format(x="CAST(COUNT(DISTINCT g) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)")} AS ratio6
FROM g GROUP BY source, n
"""


@q("q_distinct_ngrams", _DNG_ORACLE)
def q_distinct_ngrams(spark, sf_dir):
    """B31 ext: distinct-n diversity ratios (Li et al. 2016, public) —
    per source and n in 1..3, the fraction of n-gram OCCURRENCES that are
    distinct. Low distinct-2/3 flags templated or mode-collapsed text;
    corpus teams read this next to q_text_quality's surface ratios and
    q_ngram_novelty's cross-source overlap. Plan: ONE corpus explode
    emits (n, gram) structs for all three n (no per-n corpus pass), then
    a single hash aggregate per (source, n) with a distinct count —
    vocabulary-sized state, corpus-linear work, the identical plan at
    100 TB.

    r11 (guide §4.2): gram construction moved from the JVM
    higher-order-function chain (interpreted per gram; 13.9
    executor-cpu-s at sf0.1, the suite's #3 cost after round 10) into
    ONE Arrow pass emitting batch-aggregated (source, n, g, c)
    occurrence counts — exact strings, exact integer counts; the
    count/count_distinct aggregate (and the one division) stay in the
    JVM, so the result is bit-identical. The batch-level Counter ships
    the same partial-aggregate bytes through the exchange as before,
    minus the construction CPU."""
    from etl_data_processor_spark.ops.dedup import _parallelize

    # width guard: the gram pass is the CPU-heavy stage and a small
    # single-file scan arrives as one partition (stress: 14 s max
    # task at sf1 unguarded); a no-op on wide scans at 100 TB
    d = _parallelize(_cat(spark, sf_dir).documents.select("source", "text"))
    e = T.doc_grams_arrow(
        d, (1, 2, 3), "source", "string", shape="batch_counts"
    )
    ratio = F.count_distinct(F.col("g")).cast("double") / F.sum(
        F.col("c")
    ).cast("double")
    return e.groupBy("source", "n").agg(
        F.sum(F.col("c")).alias("total_n"),
        F.count_distinct(F.col("g")).alias("distinct_n"),
        SIM.stable_round6(ratio).alias("ratio6"),
    )


# =====================================================================
# Weighted reservoir sampling, A-Res keys (B41 ext — Efraimidis &
# Spirakis 2006: top-k by u^(1/w), the without-replacement counterpart
# of q_sample_weighted's Bernoulli keep)
# =====================================================================

_ARES_K = 50

_ARES_H = hash32_sql("doc_id")

_ARES_ORACLE = f"""
WITH s AS (
    SELECT doc_id, source, n_chars,
           LN((CAST(({{h}}) AS DOUBLE) + 1.0) / 4294967296.0)
             / CAST(GREATEST(n_chars, 1) AS DOUBLE) AS sc
    FROM documents
)
SELECT doc_id, source, n_chars,
       {_SQL_ROUND6.format(x="sc")} AS score6,
       CAST(ROW_NUMBER() OVER (
           ORDER BY CAST(FLOOR(sc * 1000000000000.0 + 0.5) AS BIGINT) DESC,
                    doc_id ASC
       ) AS INTEGER) AS rank
FROM s
QUALIFY rank <= {_ARES_K}
"""


@q("q_sample_ares", _ARES_ORACLE.format(h=_ARES_H))
def q_sample_ares(spark, sf_dir):
    """B41 ext: weighted reservoir sample WITHOUT replacement (A-Res,
    Efraimidis & Spirakis 2006, public): each row keys as u^(1/w) with
    u = (hash32(doc_id)+1)/2^32 and w = n_chars (the quality/length
    weight), and the k largest keys ARE a weighted random sample without
    replacement. Deterministic (hash-derived u, no RNG), partitioning-
    independent, engine-reproducible; ranking uses the 1e-12-quantized
    log-key ln(u)/w (monotone in u^(1/w)) with doc_id tiebreaks. Plan:
    shuffle-free scan projection + TakeOrderedAndProject with rank
    recovered on the <=k rows (ops.relational.ranked_topk — never a
    single-partition window). The 100 TB sample-k-docs-by-quality step in
    one pass."""
    from etl_data_processor_spark.ops.relational import ranked_topk
    from etl_data_processor_spark.ops.sampling import M32, hash32

    d = _cat(spark, sf_dir).documents
    u = (hash32(F.col("doc_id")).cast("double") + F.lit(1.0)) / F.lit(
        float(M32)
    )
    sc = F.log(u) / F.greatest(F.col("n_chars"), F.lit(1)).cast("double")
    scored = d.select(
        "doc_id", "source", "n_chars",
        SIM.stable_round6(sc).alias("score6"),
        F.floor(sc * F.lit(1e12) + F.lit(0.5)).cast("long").alias("sc_q"),
    )
    return ranked_topk(
        scored, [("sc_q", "desc"), ("doc_id", "asc")], _ARES_K,
        rank_col="rank",
    ).drop("sc_q")


# =====================================================================
# Corpus BLEU eval (B-eval ext — Papineni et al. 2002, with Chen &
# Cherry 2014 add-one smoothing for n >= 2): score every non-reference
# source against its row-leader src0 document
# =====================================================================

_BLEU_N = 4
_BLEU_SRCS = 20  # fixture layout: source = src{doc_id % 20}

_BLEU_GRAMS_SQL = """
    SELECT {id} AS pid, nn.n AS n,
           array_to_string(w[i:i + nn.n - 1], ' ') AS g,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM {src}, range(1, 5) nn(n), range(1, 4097) t(i)
    WHERE i + nn.n - 1 <= len(w)
    GROUP BY pid, n, g
"""

_BLEU_ORACLE = f"""
WITH cand AS (
    SELECT doc_id AS cid, source,
           doc_id - (doc_id % {_BLEU_SRCS}) AS rid,
           {_SQL_TOKENS} AS w
    FROM documents WHERE source <> 'src0'
),
ref AS (
    SELECT doc_id AS rid, {_SQL_TOKENS} AS w
    FROM documents WHERE source = 'src0'
),
pairs AS (SELECT c.cid, c.source, c.rid FROM cand c JOIN ref r USING (rid)),
cg AS ({_BLEU_GRAMS_SQL.format(id="cid", src="cand")}),
rg AS ({_BLEU_GRAMS_SQL.format(id="rid", src="ref")}),
clip AS (
    SELECT p.source, cg.n,
           CAST(SUM(LEAST(cg.c, COALESCE(rg.c, 0))) AS BIGINT) AS m,
           CAST(SUM(cg.c) AS BIGINT) AS t
    FROM pairs p
    JOIN cg ON cg.pid = p.cid
    LEFT JOIN rg ON rg.pid = p.rid AND rg.n = cg.n AND rg.g = cg.g
    GROUP BY p.source, cg.n
),
wide AS (
    SELECT source,
           MAX(CASE WHEN n = 1 THEN m END) AS m1,
           MAX(CASE WHEN n = 2 THEN m END) AS m2,
           MAX(CASE WHEN n = 3 THEN m END) AS m3,
           MAX(CASE WHEN n = 4 THEN m END) AS m4,
           MAX(CASE WHEN n = 1 THEN t END) AS t1,
           MAX(CASE WHEN n = 2 THEN t END) AS t2,
           MAX(CASE WHEN n = 3 THEN t END) AS t3,
           MAX(CASE WHEN n = 4 THEN t END) AS t4
    FROM clip GROUP BY source
),
lens AS (
    SELECT p.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(c.w)) AS BIGINT) AS c_len,
           CAST(SUM(len(r.w)) AS BIGINT) AS r_len
    FROM pairs p JOIN cand c ON c.cid = p.cid JOIN ref r ON r.rid = p.rid
    GROUP BY p.source
),
scored AS (
    SELECT l.source, l.n_docs, l.c_len, l.r_len,
           w.m1, w.m2, w.m3, w.m4, w.t1, w.t2, w.t3, w.t4,
           CASE WHEN w.m1 = 0 THEN 0.0 ELSE
             (CASE WHEN l.c_len >= l.r_len THEN 1.0
                   ELSE EXP(1.0 - CAST(l.r_len AS DOUBLE)
                                  / CAST(l.c_len AS DOUBLE)) END)
             * EXP((LN(CAST(w.m1 AS DOUBLE) / CAST(w.t1 AS DOUBLE))
                  + LN((CAST(w.m2 AS DOUBLE) + 1.0) / (CAST(w.t2 AS DOUBLE) + 1.0))
                  + LN((CAST(w.m3 AS DOUBLE) + 1.0) / (CAST(w.t3 AS DOUBLE) + 1.0))
                  + LN((CAST(w.m4 AS DOUBLE) + 1.0) / (CAST(w.t4 AS DOUBLE) + 1.0))
               ) / 4.0)
           END AS bleu
    FROM lens l JOIN wide w USING (source)
)
SELECT source, n_docs, c_len, r_len, m1, m2, m3, m4, t1, t2, t3, t4,
       {_SQL_ROUND6.format(x="bleu")} AS bleu6
FROM scored
"""


@q("q_bleu_eval", _BLEU_ORACLE)
def q_bleu_eval(spark, sf_dir):
    """Eval ext: corpus-level BLEU-4 (Papineni et al. 2002, public) of
    every non-reference source against its row-leader src0 document
    (fixture layout: doc_id % 20 indexes the source, so doc d's reference
    is doc d - d%20) — the eval-harness metric next to q_eval_ndcg/
    q_eval_winrate_wilson: n-gram precisions are CLIPPED per pair
    (min(cand count, ref count) per distinct gram), summed corpus-level
    per source, smoothed add-one for n>=2 (Chen & Cherry 2014 method —
    short references leave p4 zero otherwise), with the brevity penalty
    from total candidate/reference lengths. Determinism: matches/totals
    are exact integers; the only doubles are the final LN/EXP pair on
    identical operands (engine-identical libm — the repo's standing
    precedent). Plan (r10, guide §4.2/§2.3): the two TEXT payloads join
    once by rid and clipped matches are counted PER PAIR in one Arrow
    pass (ops.text.pair_clip_gram_counts, exact integers; str.split()
    == tokenize's trim+whitespace semantics), replacing the per-side
    gram explodes + gram-key join that shuffled the gram multisets
    (~17 MB / 13-21 executor-cpu-seconds at sf0.1); the final
    smoothing/brevity arithmetic is the unchanged JVM expression
    tree."""
    from etl_data_processor_spark.ops.dedup import _parallelize
    from etl_data_processor_spark.ops.text import pair_clip_gram_counts

    # width guard for the pair scorer (no-op on wide scans at 100 TB)
    d = _parallelize(
        _cat(spark, sf_dir).documents.select("doc_id", "source", "text")
    )
    cand = d.filter(F.col("source") != "src0").select(
        "source",
        (F.col("doc_id") - F.pmod(F.col("doc_id"), F.lit(_BLEU_SRCS))).alias("rid"),
        F.col("text").alias("__c"),
    )
    ref = d.filter(F.col("source") == "src0").select(
        F.col("doc_id").alias("rid"), F.col("text").alias("__r")
    )
    pc = pair_clip_gram_counts(
        cand.join(ref, "rid").select("source", "rid", "__c", "__r"),
        orders=tuple(range(1, _BLEU_N + 1)),
        mode="token",
    )
    # presence mirrors the explode form: a (source, n) clip row existed
    # iff some pair carried candidate grams of that order
    clip = (
        pc.groupBy("source", "n")
        .agg(
            F.sum("m").alias("m"),
            F.sum("t_cand").alias("t"),
            F.sum(F.when(F.col("n") == 1, F.col("lc"))).alias("__lc"),
            F.sum(F.when(F.col("n") == 1, F.col("lr"))).alias("__lr"),
            F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).alias("__nd"),
        )
        .filter(F.col("t") > 0)
    )
    wide = clip.groupBy("source").agg(
        *[
            F.max(F.when(F.col("n") == i, F.col(col))).alias(f"{col}{i}")
            for i in range(1, _BLEU_N + 1)
            for col in ("m", "t")
        ],
        F.max("__nd").alias("n_docs"),
        F.max("__lc").alias("c_len"),
        F.max("__lr").alias("r_len"),
    )
    dd = lambda c: c.cast("double")  # noqa: E731
    bp = F.when(F.col("c_len") >= F.col("r_len"), F.lit(1.0)).otherwise(
        F.exp(F.lit(1.0) - dd(F.col("r_len")) / dd(F.col("c_len")))
    )
    logsum = F.log(dd(F.col("m1")) / dd(F.col("t1")))
    for i in range(2, _BLEU_N + 1):
        logsum = logsum + F.log(
            (dd(F.col(f"m{i}")) + F.lit(1.0)) / (dd(F.col(f"t{i}")) + F.lit(1.0))
        )
    bleu = F.when(F.col("m1") == 0, F.lit(0.0)).otherwise(
        bp * F.exp(logsum / F.lit(float(_BLEU_N)))
    )
    return wide.select(
        "source", "n_docs", "c_len", "r_len",
        "m1", "m2", "m3", "m4", "t1", "t2", "t3", "t4",
        SIM.stable_round6(bleu).alias("bleu6"),
    )


# =====================================================================
# T5-style span corruption (B31/B64 ext — Raffel et al. 2020's
# pretraining objective: hash-seeded token masking, contiguous masked
# runs become sentinel spans, emitting the (inputs, targets) pair)
# =====================================================================

_SPAN_SALT = 100003  # position-mixing salt for the mask hash
_SPAN_MOD = 5        # mask rate 1/5

_SPAN_H = hash32_sql(f"doc_id * {_SPAN_SALT} + pos")

_SPAN_ORACLE = f"""
WITH tok AS (
    SELECT doc_id, CAST(t.i AS INTEGER) AS pos, w[i] AS token
    FROM (SELECT doc_id, {_SQL_TOKENS} AS w FROM documents),
         range(1, 4097) t(i)
    WHERE i <= len(w)
),
m AS (
    SELECT doc_id, pos, token,
           (({_SPAN_H}) % {_SPAN_MOD} = 0) AS masked
    FROM tok
),
s AS (
    SELECT *,
           masked AND NOT COALESCE(
               LAG(masked) OVER (PARTITION BY doc_id ORDER BY pos), FALSE
           ) AS span_start
    FROM m
),
z AS (
    SELECT *,
           SUM(CASE WHEN span_start THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) - 1 AS span_id
    FROM s
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) FILTER (WHERE masked) AS BIGINT) AS n_masked,
       CAST(COUNT(*) FILTER (WHERE span_start) AS BIGINT) AS n_spans,
       COALESCE(string_agg(
           CASE WHEN NOT masked THEN token
                WHEN span_start THEN '<extra_id_' || span_id || '>'
           END, ' ' ORDER BY pos), '') AS inputs,
       COALESCE(string_agg(
           CASE WHEN masked AND span_start
                    THEN '<extra_id_' || span_id || '> ' || token
                WHEN masked THEN token
           END, ' ' ORDER BY pos), '') AS targets
FROM z GROUP BY doc_id
"""


@q("q_span_corruption", _SPAN_ORACLE)
def q_span_corruption(spark, sf_dir):
    """B31/B64 ext: T5 span corruption (Raffel et al. 2020, public) — the
    pretraining-objective transform a training-data pipeline runs LAST:
    each token masks iff hash32(doc_id*salt + pos) % 5 == 0 (deterministic
    hash-seeded noise, no RNG — the portable-mixer discipline), contiguous
    masked runs collapse into '<extra_id_k>' sentinels in the INPUTS
    string, and the TARGETS string carries each sentinel followed by the
    masked-out tokens. Output per doc: token/mask/span counts + both
    strings, byte-identical across engines. Plan (r11, guide §4.2 —
    VERDICT r10 item 8): the whole transform is a pure per-doc function,
    so it runs as ONE MapInArrow pass inside the scan stage — zero
    shuffles, zero windows (the r7 form paid a token posexplode, two
    doc-keyed windows and a sort-collect_list re-assembly). At 100 TB
    this runs as the final map-shape pass before shard write —
    literally, now."""
    from etl_data_processor_spark.ops.dedup import _parallelize
    from etl_data_processor_spark.ops.text import span_corrupt_t5

    # width guard: spread the single-file test-scale scan before the
    # Arrow stage (no-op on wide scans at 100 TB)
    d = _parallelize(_cat(spark, sf_dir).documents.select("doc_id", "text"))
    return span_corrupt_t5(d, _SPAN_SALT, _SPAN_MOD)


# =====================================================================
# VAD-style energy segmentation over binary PCM (B33 ext — the
# speech-data-curation step: split each track into voiced segments)
# =====================================================================

_VAD_DOCS = 100
_VAD_BLOCK = 64

_VAD_ORACLE = f"""
WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < {_VAD_DOCS}),
samples AS (
    SELECT doc_id, CAST(t.i AS BIGINT) AS n,
           (((doc_id * 7 + CAST(t.i AS BIGINT) * 13) % 200) - 100)
             * CASE WHEN ((CAST(t.i AS BIGINT) // {_VAD_BLOCK} + doc_id) % 3 = 0)
                    THEN 0 ELSE 1 END AS w
    FROM ids, UNNEST(range(0, 1024)) AS t(i)
),
fr AS (
    SELECT doc_id, CAST(n // {_VAD_BLOCK} AS INT) AS frame_idx,
           CAST(SUM(w * w) AS BIGINT) AS sumsq
    FROM samples GROUP BY doc_id, frame_idx
),
v AS (
    SELECT *, sumsq > 0 AS voiced,
           (sumsq > 0) AND NOT COALESCE(
               LAG(sumsq > 0) OVER (PARTITION BY doc_id ORDER BY frame_idx),
               FALSE
           ) AS new_seg
    FROM fr
),
z AS (
    SELECT *, SUM(CASE WHEN new_seg THEN 1 ELSE 0 END)
                  OVER (PARTITION BY doc_id ORDER BY frame_idx) - 1 AS seg
    FROM v
)
SELECT doc_id, CAST(seg AS INTEGER) AS seg_idx,
       CAST(MIN(frame_idx) AS INTEGER) AS start_frame,
       CAST(MAX(frame_idx) AS INTEGER) AS end_frame,
       CAST(COUNT(*) AS BIGINT) AS n_frames,
       CAST(SUM(sumsq) AS BIGINT) AS energy
FROM z WHERE voiced GROUP BY doc_id, seg
"""


@q("q_audio_vad_segments", _VAD_ORACLE)
def q_audio_vad_segments(spark, sf_dir):
    """B33 ext: voice-activity-style segmentation over REAL binary PCM —
    the speech-curation step between ingest and transcription: an
    envelope-gated waveform (ops.multimodal.pcm_synthesize_gated — every
    third 64-sample block silent, per-track phase) is packed into a
    genuine binary column, DECODED back frame by frame in the
    Arrow-batched mapInPandas stage (ops.multimodal.pcm_frame_features,
    the q_audio_pcm_features plumbing), and frames with nonzero energy
    group into maximal voiced runs (gaps-and-islands per track). Output:
    per (track, segment) the frame range, length and total energy. The
    oracle recomputes everything from the closed-form waveform, so the
    binary round-trip + segmentation is value-checked end to end. Plan:
    one decode pass, one per-track window (bounded frames), one hash
    aggregate; at 100 TB tracks partition freely (no cross-track
    state)."""
    from pyspark.sql import Window

    from etl_data_processor_spark.ops.multimodal import (
        pcm_frame_features,
        pcm_synthesize_gated,
    )

    docs = _cat(spark, sf_dir).documents.filter(F.col("doc_id") < _VAD_DOCS)
    blobs = pcm_synthesize_gated(docs, n_samples=1024, block=_VAD_BLOCK)
    fr = pcm_frame_features(blobs, frame=_VAD_BLOCK).select(
        "doc_id", "frame_idx", "sumsq"
    )
    win = Window.partitionBy("doc_id").orderBy("frame_idx")
    voiced = F.col("sumsq") > 0
    v = fr.withColumn("voiced", voiced).withColumn(
        "new_seg",
        voiced & ~F.coalesce(F.lag(voiced).over(win), F.lit(False)),
    )
    z = v.withColumn(
        "seg",
        F.sum(F.col("new_seg").cast("long")).over(
            win.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        - 1,
    )
    return (
        z.filter("voiced")
        .groupBy("doc_id", F.col("seg").cast("int").alias("seg_idx"))
        .agg(
            F.min("frame_idx").alias("start_frame"),
            F.max("frame_idx").alias("end_frame"),
            F.count(F.lit(1)).alias("n_frames"),
            F.sum("sumsq").alias("energy"),
        )
    )


# =====================================================================
# Classifier eval: language-ID confusion matrix + per-class F1 (B-eval
# ext — turns q_text_langid's predictions into the standard multi-class
# report against the documents.lang ground truth)
# =====================================================================

_LC_GUESS_SQL = """
    WITH toks AS (
        SELECT doc_id, lang, regexp_split_to_array(trim(lower(text)), '\\s+') AS tk
        FROM documents
    ),
    scores AS (
        SELECT doc_id, lang,
               len(list_filter(tk, t -> list_contains({en}, t))) AS s_en,
               len(list_filter(tk, t -> list_contains({es}, t))) AS s_es,
               len(list_filter(tk, t -> list_contains({de}, t))) AS s_de,
               len(list_filter(tk, t -> list_contains({fr}, t))) AS s_fr
        FROM toks
    ),
    pred AS (
        SELECT doc_id, lang,
               COALESCE(CASE
                   WHEN s_en = 0 AND s_es = 0 AND s_de = 0 AND s_fr = 0 THEN NULL
                   WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
                   WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
                   WHEN s_de >= s_fr THEN 'de'
                   ELSE 'fr' END, 'und') AS guess
        FROM scores
    )
"""


def _lc_pred_sql():
    from etl_data_processor_spark.queries_north import _LANGID_SQL_LISTS

    return _LC_GUESS_SQL.format(**_LANGID_SQL_LISTS)


@q(
    "q_langid_confusion",
    _lc_pred_sql()
    + """
SELECT lang, guess, CAST(COUNT(*) AS BIGINT) AS n
FROM pred GROUP BY lang, guess
""",
)
def q_langid_confusion(spark, sf_dir):
    """Eval ext: the confusion matrix of q_text_langid's stopword-argmax
    prediction against the documents.lang ground-truth column (long form:
    one row per (true, predicted) cell; no-stopword-hit docs predict
    'und'). The standard first artifact of any classifier eval — here
    auditing the langid GATE itself, the way corpus teams validate a
    cheap heuristic against labeled data before trusting it at 100 TB.
    Plan: the per-doc prediction is one stopword-hit scan (broadcast
    literal lists), then a tiny (|langs| x |langs|) hash aggregate."""
    from etl_data_processor_spark.io import Catalog
    import __spark_entry__  # noqa: F401 (registry populated)
    from etl_data_processor_spark.registry import QUERIES

    pred = QUERIES["q_text_langid"](spark, sf_dir).select(
        "doc_id", F.coalesce(F.col("lang_guess"), F.lit("und")).alias("guess")
    )
    truth = Catalog(spark, sf_dir).documents.select("doc_id", "lang")
    return truth.join(pred, "doc_id").groupBy("lang", "guess").agg(
        F.count(F.lit(1)).alias("n")
    )


@q(
    "q_langid_f1",
    _lc_pred_sql()
    + """
, cls AS (SELECT DISTINCT lang AS c FROM pred),
m AS (
    SELECT c,
           CAST(COALESCE(SUM(CASE WHEN lang = c AND guess = c THEN 1 END), 0)
                AS BIGINT) AS tp,
           CAST(COALESCE(SUM(CASE WHEN lang <> c AND guess = c THEN 1 END), 0)
                AS BIGINT) AS fp,
           CAST(COALESCE(SUM(CASE WHEN lang = c AND guess <> c THEN 1 END), 0)
                AS BIGINT) AS fn
    FROM cls LEFT JOIN pred ON TRUE GROUP BY c
)
SELECT c AS lang, tp, fp, fn,
       CAST(FLOOR(CASE WHEN tp + fp = 0 THEN 0.0
                       ELSE CAST(tp AS DOUBLE) / (tp + fp) END
                  * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0 AS precision6,
       CAST(FLOOR(CASE WHEN tp + fn = 0 THEN 0.0
                       ELSE CAST(tp AS DOUBLE) / (tp + fn) END
                  * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0 AS recall6,
       CAST(FLOOR(CASE WHEN 2 * tp + fp + fn = 0 THEN 0.0
                       ELSE 2.0 * tp / (2 * tp + fp + fn) END
                  * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0 AS f16
FROM m
""",
)
def q_langid_f1(spark, sf_dir):
    """Eval ext: per-true-class precision/recall/F1 of the langid
    heuristic (zero-division pinned to 0.0, the sklearn convention) —
    the report read next to q_langid_confusion; macro-F1 is the mean of
    the f16 column. Exact integer tp/fp/fn; one tiny aggregate over the
    per-doc predictions, grouped against the distinct true-class set so
    classes the predictor never emits still report (tp=0)."""
    from etl_data_processor_spark.io import Catalog
    import __spark_entry__  # noqa: F401
    from etl_data_processor_spark.registry import QUERIES

    pred = QUERIES["q_text_langid"](spark, sf_dir).select(
        "doc_id", F.coalesce(F.col("lang_guess"), F.lit("und")).alias("guess")
    )
    truth = Catalog(spark, sf_dir).documents.select("doc_id", "lang")
    p = truth.join(pred, "doc_id")
    cls = p.select(F.col("lang").alias("c")).distinct()
    m = cls.join(p, F.lit(True), "left").groupBy("c").agg(
        F.coalesce(
            F.sum(
                F.when((F.col("lang") == F.col("c")) & (F.col("guess") == F.col("c")), 1)
            ),
            F.lit(0),
        ).alias("tp"),
        F.coalesce(
            F.sum(
                F.when((F.col("lang") != F.col("c")) & (F.col("guess") == F.col("c")), 1)
            ),
            F.lit(0),
        ).alias("fp"),
        F.coalesce(
            F.sum(
                F.when((F.col("lang") == F.col("c")) & (F.col("guess") != F.col("c")), 1)
            ),
            F.lit(0),
        ).alias("fn"),
    )
    dd = lambda c: c.cast("double")  # noqa: E731
    prec = F.when(F.col("tp") + F.col("fp") == 0, F.lit(0.0)).otherwise(
        dd(F.col("tp")) / dd(F.col("tp") + F.col("fp"))
    )
    rec = F.when(F.col("tp") + F.col("fn") == 0, F.lit(0.0)).otherwise(
        dd(F.col("tp")) / dd(F.col("tp") + F.col("fn"))
    )
    f1 = F.when(
        F.lit(2) * F.col("tp") + F.col("fp") + F.col("fn") == 0, F.lit(0.0)
    ).otherwise(
        F.lit(2.0) * dd(F.col("tp"))
        / dd(F.lit(2) * F.col("tp") + F.col("fp") + F.col("fn"))
    )
    return m.select(
        F.col("c").alias("lang"), "tp", "fp", "fn",
        SIM.stable_round6(prec).alias("precision6"),
        SIM.stable_round6(rec).alias("recall6"),
        SIM.stable_round6(f1).alias("f16"),
    )


# =====================================================================
# Zipf-fit corpus diagnostic (B31 ext — log-log OLS over the frequency
# head; the tokenizer-planning statistic next to q_stopword_discovery)
# =====================================================================

_ZIPF_TOP = 100

_ZIPF_ORACLE = f"""
WITH freq AS (
    SELECT token, CAST(COUNT(*) AS BIGINT) AS c
    FROM (SELECT unnest({_SQL_TOKENS}) AS token FROM documents)
    GROUP BY token
),
head AS (
    SELECT token, c,
           CAST(ROW_NUMBER() OVER (ORDER BY c DESC, token ASC) AS BIGINT)
             AS rnk
    FROM freq
    QUALIFY rnk <= {_ZIPF_TOP}
),
pts AS (
    SELECT CAST(FLOOR(LN(CAST(rnk AS DOUBLE)) * 1000000000.0 + 0.5)
                AS BIGINT) AS xq,
           CAST(FLOOR(LN(CAST(c AS DOUBLE)) * 1000000000.0 + 0.5)
                AS BIGINT) AS yq
    FROM head
),
mo AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(xq) AS BIGINT) AS sx, CAST(SUM(yq) AS BIGINT) AS sy,
           CAST(SUM(CAST(xq AS HUGEINT) * xq) AS HUGEINT) AS sxx,
           CAST(SUM(CAST(xq AS HUGEINT) * yq) AS HUGEINT) AS sxy
    FROM pts
)
SELECT n,
       {_SQL_ROUND6.format(
           x="CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE) "
             "/ CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)")}
         AS slope6,
       {_SQL_ROUND6.format(
           x="(CAST(sy AS DOUBLE) - (CAST(n * sxy - CAST(sx AS HUGEINT) * sy "
             "AS DOUBLE) / CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE))"
             " * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) / 1000000000.0")}
         AS intercept6
FROM mo
"""


@q("q_zipf_fit", _ZIPF_ORACLE)
def q_zipf_fit(spark, sf_dir):
    """B31 ext: Zipf-law fit over the frequency head — OLS slope of
    ln(count) on ln(rank) for the top-100 tokens (natural text fits
    slope ~ -1; a corpus that doesn't is synthetic, templated, or
    shredded by the tokenizer — the diagnostic tokenizer teams check
    before vocab sizing, Zipf 1949 / public). Determinism: ranks come
    from the exact frequency table with token tiebreaks; each ln is
    1e-9-quantized to an integer so the OLS moment sums are exact
    (q_trend_ols discipline; 128-bit products on the oracle side);
    slope/intercept are single double divisions. Plan: corpus-once token
    aggregate, TakeOrderedAndProject for the head, rank recovered on the
    <=100 rows (ranked_topk), one 1-row moment aggregate — no
    corpus-sized window."""
    from etl_data_processor_spark.ops.relational import ranked_topk

    d = _cat(spark, sf_dir).documents
    freq = (
        d.select(F.explode(tokenize(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    head = ranked_topk(
        freq, [("c", "desc"), ("token", "asc")], _ZIPF_TOP, rank_col="rnk"
    )
    q9 = lambda col: F.floor(  # noqa: E731
        F.log(col.cast("double")) * F.lit(1e9) + F.lit(0.5)
    ).cast("long")
    pts = head.select(q9(F.col("rnk")).alias("xq"), q9(F.col("c")).alias("yq"))
    # xq ~ ln(rank)*1e9 ~ 4.6e9, so xq^2 overflows BIGINT: the moment
    # products run in DECIMAL(38,0) (the oracle's HUGEINT twin)
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    mo = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xq").alias("sx"),
        F.sum("yq").alias("sy"),
        F.sum(dec(F.col("xq")) * dec(F.col("xq"))).alias("sxx"),
        F.sum(dec(F.col("xq")) * dec(F.col("yq"))).alias("sxy"),
    )
    dd = lambda c: c.cast("double")  # noqa: E731
    slope = dd(
        dec(F.col("n")) * F.col("sxy") - dec(F.col("sx")) * dec(F.col("sy"))
    ) / dd(dec(F.col("n")) * F.col("sxx") - dec(F.col("sx")) * dec(F.col("sx")))
    intercept = (
        (dd(F.col("sy")) - slope * dd(F.col("sx")))
        / dd(F.col("n"))
        / F.lit(1e9)
    )
    return mo.select(
        "n",
        SIM.stable_round6(slope).alias("slope6"),
        SIM.stable_round6(intercept).alias("intercept6"),
    )


# =====================================================================
# Quality-gate agreement: Cohen's kappa (B52 ext — do two cheap gates
# measure the same thing, beyond chance?)
# =====================================================================

_KAPPA_ORACLE = f"""
WITH ent AS (
    SELECT doc_id, SUM(tq) AS eq FROM (
        SELECT cnt.doc_id,
               CAST(FLOOR(-(CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                          * LOG2(CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                          * 1000000000000.0 + 0.5) AS BIGINT) AS tq
        FROM (SELECT doc_id, c, CAST(COUNT(*) AS BIGINT) AS k
              FROM (SELECT doc_id, unnest(string_split(text, '')) AS c
                    FROM documents) GROUP BY doc_id, c) cnt
        JOIN (SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n
              FROM (SELECT doc_id, c, CAST(COUNT(*) AS BIGINT) AS k
                    FROM (SELECT doc_id, unnest(string_split(text, '')) AS c
                          FROM documents) GROUP BY doc_id, c)
              GROUP BY doc_id) tot USING (doc_id)
    ) GROUP BY doc_id
),
cuts AS (
    SELECT quantile_cont(n_chars, 0.05) AS lo,
           quantile_cont(n_chars, 0.95) AS hi
    FROM documents
),
g AS (
    SELECT d.doc_id,
           CASE WHEN e.eq >= 2.0 * 1000000000000.0 THEN 1 ELSE 0 END AS a,
           CASE WHEN CAST(d.n_chars AS DOUBLE) >= cuts.lo
                 AND CAST(d.n_chars AS DOUBLE) <= cuts.hi
                THEN 1 ELSE 0 END AS b
    FROM documents d JOIN ent e USING (doc_id), cuts
),
ct AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(a * b) AS BIGINT) AS n11,
           CAST(SUM(a * (1 - b)) AS BIGINT) AS n10,
           CAST(SUM((1 - a) * b) AS BIGINT) AS n01,
           CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS n00
    FROM g
),
k AS (
    SELECT *,
           CAST(n11 + n00 AS DOUBLE) / n AS po,
           (CAST(n11 + n10 AS DOUBLE) * (n11 + n01)
            + CAST(n01 + n00 AS DOUBLE) * (n10 + n00))
             / (CAST(n AS DOUBLE) * n) AS pe
    FROM ct
)
SELECT n, n11, n10, n01, n00,
       {_SQL_ROUND6.format(x="po")} AS po6,
       {_SQL_ROUND6.format(x="pe")} AS pe6,
       {_SQL_ROUND6.format(
           x="CASE WHEN pe = 1.0 THEN 1.0 ELSE (po - pe) / (1.0 - pe) END")}
         AS kappa6
FROM k
"""


@q("q_gate_agreement_kappa", _KAPPA_ORACLE)
def q_gate_agreement_kappa(spark, sf_dir):
    """B52 ext: Cohen's kappa between two quality gates — the
    character-entropy gate (>= 2.0 bits, the capstone's stage 1) and the
    [p05, p95] length-quantile gate — i.e. chance-corrected agreement
    (Cohen 1960, public): raw agreement po against the chance rate pe
    from the marginals. Corpus teams run exactly this before REPLACING
    an expensive gate with a cheap one; kappa ~ 0 means the gates filter
    different documents no matter how high the raw overlap looks.
    Determinism: the 2x2 contingency is exact integers (the entropy gate
    compares 1e-12 integer sums; the quantile cuts are engine-identical
    percentile_cont); po/pe/kappa are a handful of double ops on those
    integers. Plan: one char-explode pass for the entropy gate, one
    2-float quantile aggregate, one 1-row contingency — no window, no
    Python."""
    d = _cat(spark, sf_dir).documents
    cnt = (
        d.select("doc_id", F.explode(F.split("text", "")).alias("c"))
        .groupBy("doc_id", "c")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    tot = cnt.groupBy("doc_id").agg(F.sum("k").alias("n"))
    p = F.col("k").cast("double") / F.col("n").cast("double")
    tq = F.floor(-p * F.log2(p) * F.lit(1e12) + F.lit(0.5)).cast("long")
    ent = (
        cnt.join(tot, "doc_id")
        .select("doc_id", tq.alias("tq"))
        .groupBy("doc_id")
        .agg(F.sum("tq").alias("eq"))
    )
    cuts = d.agg(
        F.percentile("n_chars", F.lit(0.05)).alias("lo"),
        F.percentile("n_chars", F.lit(0.95)).alias("hi"),
    )
    nc = F.col("n_chars").cast("double")
    g = (
        d.select("doc_id", "n_chars")
        .join(ent, "doc_id")
        .crossJoin(F.broadcast(cuts))
        .select(
            F.when(F.col("eq") >= F.lit(2.0) * F.lit(1e12), 1)
            .otherwise(0)
            .alias("a"),
            F.when((nc >= F.col("lo")) & (nc <= F.col("hi")), 1)
            .otherwise(0)
            .alias("b"),
        )
    )
    ct = g.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("a") * F.col("b")).alias("n11"),
        F.sum(F.col("a") * (F.lit(1) - F.col("b"))).alias("n10"),
        F.sum((F.lit(1) - F.col("a")) * F.col("b")).alias("n01"),
        F.sum((F.lit(1) - F.col("a")) * (F.lit(1) - F.col("b"))).alias("n00"),
    )
    dd = lambda c: c.cast("double")  # noqa: E731
    po = dd(F.col("n11") + F.col("n00")) / dd(F.col("n"))
    pe = (
        dd(F.col("n11") + F.col("n10")) * dd(F.col("n11") + F.col("n01"))
        + dd(F.col("n01") + F.col("n00")) * dd(F.col("n10") + F.col("n00"))
    ) / (dd(F.col("n")) * dd(F.col("n")))
    kappa = F.when(pe == 1.0, F.lit(1.0)).otherwise((po - pe) / (F.lit(1.0) - pe))
    return ct.select(
        "n", "n11", "n10", "n01", "n00",
        SIM.stable_round6(po).alias("po6"),
        SIM.stable_round6(pe).alias("pe6"),
        SIM.stable_round6(kappa).alias("kappa6"),
    )


# =====================================================================
# Dedup blocking audit: precision/recall of the SimHash candidate
# relation against the exact-Jaccard gold (B22/B52 ext — "how much
# near-dup mass does the cheap blocker actually catch?")
# =====================================================================

_AUD_TAU = 0.5   # gold: exact word-3-gram Jaccard >= tau within source
_AUD_HAM = 3     # predicted: portable-SimHash hamming <= 3 within source

_AUD_SHINGLES = (
    "list_distinct([w[i]||' '||w[i+1]||' '||w[i+2] "
    "for i in range(1, len(w)-1)])"
)
_AUD_CHARFOLD = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(range(1, length({t}) + 1), "
    "i -> CAST(ascii(substr({t}, CAST(i AS INTEGER), 1)) AS BIGINT))), "
    "(a, c) -> (a * 31 + c) % 4294967296)"
)

_AUD_ORACLE = f"""
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
tok AS (
    SELECT doc_id, source,
           unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
    FROM documents
),
h AS (SELECT doc_id, source, {_AUD_CHARFOLD.format(t="t")} AS h FROM tok),
bits AS (
    SELECT doc_id, source, CAST(b.b AS INTEGER) AS bit,
           CASE WHEN (h >> CAST(b.b AS INTEGER)) & 1 = 1
                THEN 1 ELSE -1 END AS s
    FROM h, UNNEST(range(32)) AS b(b)
),
votes AS (SELECT doc_id, source, bit, SUM(s) AS v FROM bits GROUP BY 1, 2, 3),
sig AS (
    SELECT doc_id, source,
           CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit)
                         ELSE 0 END) AS BIGINT) AS sig
    FROM votes GROUP BY doc_id, source
),
pred AS (
    SELECT a.source, a.doc_id AS id_a, b.doc_id AS id_b
    FROM sig a JOIN sig b
      ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sig, b.sig)) <= {_AUD_HAM}
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


@q("q_dedup_blocking_audit", _AUD_ORACLE)
def q_dedup_blocking_audit(spark, sf_dir):
    """B22/B52 ext: the dedup BLOCKING AUDIT — per source, precision and
    recall of the cheap near-dup candidate relation (portable 32-bit
    SimHash, hamming <= 3) against the exact gold relation (word-3-gram
    Jaccard >= 0.5, the q_dedup_ngram semantics). This is the
    measurement a corpus team runs before trusting a signature blocker
    at 100 TB — the audit q_fuzzy_passjoin's 14x-precision lesson shows
    is NOT optional. Scale shape: the gold side is the prefix-filter
    candidate join (Bayardo-complete, never all-pairs); the predicted
    side blocks sig pairs by 4x8-bit SimHash BANDS (pigeonhole: hamming
    <= 3 implies at least one equal band), then verifies
    bit_count(xor) — an equi-join, never an all-pairs hamming scan; the
    outcome classes reduce to a |sources|-row table. Exact integer
    tp/fp/fn; the oracle replays both relations (its pred side IS
    all-pairs — fine at oracle scale, the budget gate would catch a
    quadratic creep)."""
    from etl_data_processor_spark.ops.dedup import ngram_jaccard_pairs_blocked
    from etl_data_processor_spark.queries_north import _lsh_index

    d = _cat(spark, sf_dir).documents
    sh, _ = _lsh_index(spark, sf_dir)
    gold = ngram_jaccard_pairs_blocked(
        d, block_cols=["source"], threshold=_AUD_TAU, shingled=sh
    ).select("source", "id_a", "id_b")

    import __spark_entry__  # noqa: F401
    from etl_data_processor_spark.registry import QUERIES

    sig = QUERIES["q_simhash_portable"](spark, sf_dir).join(
        d.select("doc_id", "source"), "doc_id"
    )
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("bi"),
                F.shiftrightunsigned(F.col("sig"), 8 * b)
                .bitwiseAND(F.lit(255))
                .alias("bv"),
            )
            for b in range(4)
        ]
    )
    bt = sig.select(
        "doc_id", "source", "sig", F.explode(bands).alias("b")
    ).select("doc_id", "source", "sig", F.col("b.bi"), F.col("b.bv"))
    rhs = bt.select(
        F.col("doc_id").alias("id_b"), F.col("source").alias("src2"),
        F.col("sig").alias("sig2"), F.col("bi").alias("bi2"),
        F.col("bv").alias("bv2"),
    )
    pred = (
        bt.join(
            rhs.hint("shuffle_hash"),
            (F.col("source") == F.col("src2"))
            & (F.col("bi") == F.col("bi2"))
            & (F.col("bv") == F.col("bv2"))
            & (F.col("doc_id") < F.col("id_b")),
        )
        .filter(
            F.bit_count(F.col("sig").bitwiseXOR(F.col("sig2"))) <= _AUD_HAM
        )
        .select("source", F.col("doc_id").alias("id_a"), "id_b")
        .distinct()
    )
    g = gold.withColumn("__g", F.lit(1))
    p = pred.withColumn("__p", F.lit(1))
    u = g.join(p, ["source", "id_a", "id_b"], "full_outer")
    m = u.groupBy("source").agg(
        F.coalesce(F.sum(F.when(F.col("__g").isNotNull() & F.col("__p").isNotNull(), 1)), F.lit(0)).alias("tp"),
        F.coalesce(F.sum(F.when(F.col("__g").isNull(), 1)), F.lit(0)).alias("fp"),
        F.coalesce(F.sum(F.when(F.col("__p").isNull(), 1)), F.lit(0)).alias("fn"),
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
# ROUGE-N recall (B-eval ext — Lin 2004: the recall-oriented sibling of
# q_bleu_eval, same pairs, same clipped gram machinery)
# =====================================================================

_ROUGE_ORACLE = f"""
WITH cand AS (
    SELECT doc_id AS cid, source,
           doc_id - (doc_id % {_BLEU_SRCS}) AS rid,
           {_SQL_TOKENS} AS w
    FROM documents WHERE source <> 'src0'
),
ref AS (
    SELECT doc_id AS rid, {_SQL_TOKENS} AS w
    FROM documents WHERE source = 'src0'
),
pairs AS (SELECT c.cid, c.source, c.rid FROM cand c JOIN ref r USING (rid)),
cg AS (
    SELECT cid AS pid, nn.n AS n,
           array_to_string(w[i:i + nn.n - 1], ' ') AS g,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM cand, range(1, 3) nn(n), range(1, 4097) t(i)
    WHERE i + nn.n - 1 <= len(w)
    GROUP BY pid, n, g
),
rg AS (
    SELECT rid AS pid, nn.n AS n,
           array_to_string(w[i:i + nn.n - 1], ' ') AS g,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM ref, range(1, 3) nn(n), range(1, 4097) t(i)
    WHERE i + nn.n - 1 <= len(w)
    GROUP BY pid, n, g
),
-- recall side: every REF gram counts toward the denominator; matches
-- clip against the candidate counts
clip AS (
    SELECT p.source, rg.n,
           CAST(SUM(LEAST(rg.c, COALESCE(cg.c, 0))) AS BIGINT) AS m,
           CAST(SUM(rg.c) AS BIGINT) AS t
    FROM pairs p
    JOIN rg ON rg.pid = p.rid
    LEFT JOIN cg ON cg.pid = p.cid AND cg.n = rg.n AND cg.g = rg.g
    GROUP BY p.source, rg.n
)
SELECT source,
       MAX(CASE WHEN n = 1 THEN m END) AS m1,
       MAX(CASE WHEN n = 1 THEN t END) AS t1,
       MAX(CASE WHEN n = 2 THEN m END) AS m2,
       MAX(CASE WHEN n = 2 THEN t END) AS t2,
       {_SQL_ROUND6.format(
           x="CAST(MAX(CASE WHEN n = 1 THEN m END) AS DOUBLE)"
             " / MAX(CASE WHEN n = 1 THEN t END)")} AS rouge1_6,
       {_SQL_ROUND6.format(
           x="CAST(MAX(CASE WHEN n = 2 THEN m END) AS DOUBLE)"
             " / MAX(CASE WHEN n = 2 THEN t END)")} AS rouge2_6
FROM clip GROUP BY source
"""


def rouge_eval(cand, ref):
    """ROUGE-1/2 recall per candidate source: each ``cand`` row
    (doc_id, source, text) is paired to the ``ref`` row (rid, text)
    with rid = doc_id - (doc_id mod 20) (the q_bleu_eval pairing), the
    two texts are joined once by rid, and clipped word-gram matches are
    counted per pair in one Arrow pass (ops.text.pair_clip_gram_counts),
    the recall denominator being the REFERENCE gram totals. Exact
    integer matches/totals, one double division. The scoring kernel of
    q_rouge_n."""
    from etl_data_processor_spark.ops.text import pair_clip_gram_counts

    c = cand.select(
        "source",
        (F.col("doc_id") - F.pmod(F.col("doc_id"), F.lit(_BLEU_SRCS))).alias("rid"),
        F.col("text").alias("__c"),
    )
    r = ref.select("rid", F.col("text").alias("__r"))
    pc = pair_clip_gram_counts(
        c.join(r, "rid").select("source", "rid", "__c", "__r"),
        orders=(1, 2),
        mode="token",
    )
    # a (source, n) row exists iff some pair carried ref grams of order n
    clip = (
        pc.groupBy("source", "n")
        .agg(F.sum("m").alias("m"), F.sum("t_ref").alias("t"))
        .filter(F.col("t") > 0)
    )
    wide = clip.groupBy("source").agg(
        *[
            F.max(F.when(F.col("n") == i, F.col(col))).alias(f"{col}{i}")
            for i in (1, 2)
            for col in ("m", "t")
        ]
    )
    dd = lambda c: c.cast("double")  # noqa: E731
    return wide.select(
        "source", "m1", "t1", "m2", "t2",
        SIM.stable_round6(dd(F.col("m1")) / dd(F.col("t1"))).alias("rouge1_6"),
        SIM.stable_round6(dd(F.col("m2")) / dd(F.col("t2"))).alias("rouge2_6"),
    )


@q("q_rouge_n", _ROUGE_ORACLE)
def q_rouge_n(spark, sf_dir):
    """Eval ext: corpus-level ROUGE-1/ROUGE-2 recall (Lin 2004, public) —
    the recall-oriented sibling of q_bleu_eval over the SAME candidate/
    reference pairing: per pair, clipped gram matches are divided by the
    REFERENCE gram total (did the candidate cover the reference?),
    micro-averaged per source. Exact integer matches/totals; one double
    division. Plan (r10): the q_bleu_eval pair-scorer shape, scored by
    rouge_eval."""
    from etl_data_processor_spark.ops.dedup import _parallelize

    d = _parallelize(
        _cat(spark, sf_dir).documents.select("doc_id", "source", "text")
    )
    return rouge_eval(
        d.filter(F.col("source") != "src0"),
        d.filter(F.col("source") == "src0").select(
            F.col("doc_id").alias("rid"), "text"
        ),
    )


# =====================================================================
# Jensen-Shannon drift (B-drift ext — the bounded, symmetric divergence
# next to q_quality_drift_psi's PSI and q_ks_drift's KS)
# =====================================================================

_JSD_ORACLE = f"""
WITH toks AS (
    SELECT source, unnest({_SQL_TOKENS}) AS token FROM documents
),
cs AS (SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c FROM toks
       GROUP BY source, token),
cg AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY token),
ns AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM cs GROUP BY source),
ng AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cg),
grid AS (
    SELECT s.source, g.token, COALESCE(x.c, 0) AS cs, g.c AS cg,
           ns.n AS nsrc, ng.n AS ntot
    FROM (SELECT DISTINCT source FROM cs) s
    CROSS JOIN cg g
    LEFT JOIN cs x ON x.source = s.source AND x.token = g.token
    JOIN ns ON ns.source = s.source CROSS JOIN ng
),
terms AS (
    SELECT source,
           CAST(FLOOR(CASE WHEN cs = 0 THEN 0.0 ELSE
               (CAST(cs AS DOUBLE) / nsrc)
               * LN((CAST(cs AS DOUBLE) / nsrc) /
                    ((CAST(cs AS DOUBLE) / nsrc
                      + CAST(cg AS DOUBLE) / ntot) / 2.0)) END
               * 1000000000000.0 + 0.5) AS BIGINT) AS pq,
           CAST(FLOOR(
               (CAST(cg AS DOUBLE) / ntot)
               * LN((CAST(cg AS DOUBLE) / ntot) /
                    ((CAST(cs AS DOUBLE) / nsrc
                      + CAST(cg AS DOUBLE) / ntot) / 2.0))
               * 1000000000000.0 + 0.5) AS BIGINT) AS qq
    FROM grid
)
SELECT source,
       {_SQL_ROUND6.format(
           x="(CAST(SUM(pq) AS DOUBLE) + CAST(SUM(qq) AS DOUBLE))"
             " / 2.0 / 1000000000000.0")} AS jsd6
FROM terms GROUP BY source
"""


@q("q_js_divergence", _JSD_ORACLE)
def q_js_divergence(spark, sf_dir):
    """Drift ext: Jensen-Shannon divergence of each source's unigram
    distribution against the GLOBAL corpus distribution — the bounded
    (<= ln 2), symmetric member of the drift family next to PSI
    (unbounded, needs binning floors) and KS (max-gap only). JSD(P||Q) =
    (KL(P||M) + KL(Q||M))/2 with M the midpoint. Determinism: every
    p*ln(p/m) term quantizes to a 1e-12 integer before summation (the
    ops/exact discipline), so cross-engine sums are exact; zero source
    counts contribute only the q-side term (0*ln0 pinned to 0). Scale:
    the corpus collapses to a (source, token) count table; the grid is
    |sources| x |vocab| — vocabulary-sized work however large the
    corpus. The statistic is ops.drift.jsd_kernel."""
    from etl_data_processor_spark.ops import drift as DR
    from etl_data_processor_spark.ops.dedup import _parallelize

    d = _parallelize(_cat(spark, sf_dir).documents.select("source", "text"))
    # r11 (guide §4.2): token counts come from the Arrow pass (the token
    # explode + string hash agg measured 9.3 executor-cpu-s at sf0.1).
    # The vocabulary-sized cs feeds the kernel's source list, its grid
    # and its totals, and the reference (the corpus counts) is cs summed
    # over sources, which deletes a second corpus pass. The static plan
    # duplicates a multi-consumer subtree, so cs is checkpointed once
    # (the graph/PageRank house pattern; nothing persists across
    # executions) and the reference is cached over it.
    cs = DR.jsd_token_counts(d).localCheckpoint(eager=True)
    ref = cs.groupBy("token").agg(F.sum("c").alias("c")).cache()
    return DR.jsd_kernel(cs, ref)


# =====================================================================
# l-diversity audit (B-privacy ext — Machanavajjhala et al. 2007: the
# k-anonymity follow-up q_k_anonymity's docstring points at)
# =====================================================================


@q(
    "q_l_diversity",
    """
    WITH qi AS (
        SELECT c_nationkey,
               CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
               c_mktsegment
        FROM customer
    ),
    g AS (
        SELECT c_nationkey, bal_band,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS l
        FROM qi GROUP BY c_nationkey, bal_band
    )
    SELECT c_nationkey, bal_band, n, l, l < 3 AS violates_l3
    FROM g
    """,
)
def q_l_diversity(spark, sf_dir):
    """Privacy ext: l-DIVERSITY audit (Machanavajjhala et al. 2007,
    public) — k-anonymity's follow-up: an equivalence class can be
    large (k-anonymous) yet still leak when every member shares the
    SENSITIVE value. Quasi-identifiers = (nation, coarse balance band);
    sensitive attribute = market segment; flag classes with fewer than
    l=3 distinct sensitive values. One aggregate pass with a distinct
    count — the release gate runs this next to q_k_anonymity before
    publishing any grouped extract."""
    qi = _cat(spark, sf_dir).customer.select(
        "c_nationkey",
        F.expr("CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT)").alias("bal_band"),
        "c_mktsegment",
    )
    return (
        qi.groupBy("c_nationkey", "bal_band")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(F.col("c_mktsegment")).alias("l"),
        )
        .withColumn("violates_l3", F.col("l") < 3)
    )


# =====================================================================
# ORC scan + sink roundtrip (B1 ext — the third columnar format after
# parquet; proves pushdown/pruning hold beyond parquet)
# =====================================================================


def _ensure_orc_copy(spark, sf_dir: str) -> str:
    """Idempotent setup hook (the ensure_bucketed_join_tables pattern):
    one ORC copy of the documents table per sf_dir under the warehouse,
    written once and reused; a partial/stale dir (no _SUCCESS) is
    rebuilt."""
    import hashlib
    import os
    import shutil

    warehouse = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = os.path.join(warehouse, f"_orc_documents_{key}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        shutil.rmtree(path, ignore_errors=True)
        _cat(spark, sf_dir).documents.select(
            "doc_id", "source", "lang", "n_chars"
        ).write.mode("overwrite").orc(path)
    return path


@q(
    "q_scan_orc",
    """
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(n_chars) AS BIGINT) AS chars
    FROM documents
    WHERE lang = 'en' AND n_chars >= 100
    GROUP BY source
    """,
)
def q_scan_orc(spark, sf_dir):
    """B1 ext: ORC source/sink roundtrip — the documents table written
    once to ORC (idempotent setup hook) and aggregated back with filter
    pushdown + column pruning through Spark's native ORC reader (plan
    pin: PushedFilters on lang/n_chars, 3-column ReadSchema). The oracle
    aggregates the SAME rows from parquet, so a green differential
    proves the roundtrip byte-exact. At 100 TB this is the
    mixed-format-lake reality: the engine must scan whichever columnar
    format the upstream team landed, with the same pruning guarantees."""
    path = _ensure_orc_copy(spark, sf_dir)
    d = spark.read.orc(path)
    return (
        d.filter((F.col("lang") == "en") & (F.col("n_chars") >= 100))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").alias("chars"),
        )
    )


# =====================================================================
# Blocking tradeoff curve: precision/recall vs hamming threshold (B22/
# B52 ext — the tuning view over q_dedup_blocking_audit's fixed point)
# =====================================================================

_TRD_ORACLE = f"""
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
ng AS (SELECT CAST(COUNT(*) AS BIGINT) AS g FROM gold),
tok AS (
    SELECT doc_id, source,
           unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
    FROM documents
),
h AS (SELECT doc_id, source, {_AUD_CHARFOLD.format(t="t")} AS h FROM tok),
bits AS (
    SELECT doc_id, source, CAST(b.b AS INTEGER) AS bit,
           CASE WHEN (h >> CAST(b.b AS INTEGER)) & 1 = 1
                THEN 1 ELSE -1 END AS s
    FROM h, UNNEST(range(32)) AS b(b)
),
votes AS (SELECT doc_id, source, bit, SUM(s) AS v FROM bits GROUP BY 1, 2, 3),
sig AS (
    SELECT doc_id, source,
           CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit)
                         ELSE 0 END) AS BIGINT) AS sig
    FROM votes GROUP BY doc_id, source
),
pred AS (
    SELECT a.source, a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS ham
    FROM sig a JOIN sig b
      ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sig, b.sig)) <= 3
),
lab AS (
    SELECT p.ham, (g.id_a IS NOT NULL) AS is_gold
    FROM pred p LEFT JOIN gold g
      ON g.source = p.source AND g.id_a = p.id_a AND g.id_b = p.id_b
),
grid AS (SELECT CAST(t.i AS INTEGER) AS h FROM UNNEST(range(0, 4)) t(i)),
m AS (
    SELECT grid.h,
           CAST(COALESCE(SUM(CASE WHEN lab.ham <= grid.h AND lab.is_gold
                                  THEN 1 END), 0) AS BIGINT) AS tp,
           CAST(COALESCE(SUM(CASE WHEN lab.ham <= grid.h AND NOT lab.is_gold
                                  THEN 1 END), 0) AS BIGINT) AS fp
    FROM grid LEFT JOIN lab ON TRUE GROUP BY grid.h
)
SELECT m.h, m.tp, m.fp, CAST(ng.g - m.tp AS BIGINT) AS fn,
       CAST(FLOOR(CASE WHEN m.tp + m.fp = 0 THEN 0.0
                       ELSE CAST(m.tp AS DOUBLE) / (m.tp + m.fp) END
                  * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0 AS precision6,
       CAST(FLOOR(CASE WHEN ng.g = 0 THEN 0.0
                       ELSE CAST(m.tp AS DOUBLE) / ng.g END
                  * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0 AS recall6
FROM m CROSS JOIN ng
"""


@q("q_blocking_tradeoff", _TRD_ORACLE)
def q_blocking_tradeoff(spark, sf_dir):
    """B22/B52 ext: the blocker TUNING CURVE — precision/recall of the
    banded portable-SimHash candidate relation at every hamming
    threshold h in 0..3 against the exact Jaccard>=0.5 gold (the
    threshold sweep q_dedup_blocking_audit's single fixed point feeds;
    0..3 because the 4x8-bit banding guarantee covers hamming <= 3).
    One pass computes each candidate pair's hamming distance; the four
    thresholds are cumulative conditional sums over that (<= 4+|gold|)-
    bucket table — no re-blocking per threshold. This is the table a
    corpus team reads to PICK the threshold: on this fixture precision
    collapses well before recall is at risk, so the shipped h must stay
    small (the audit's 'simhash at h<=3 is too loose' finding, now with
    the whole curve). Scale shape identical to the audit: equi-join-
    blocked relations, a constant-size report."""
    from etl_data_processor_spark.ops.dedup import ngram_jaccard_pairs_blocked
    from etl_data_processor_spark.queries_north import _lsh_index

    d = _cat(spark, sf_dir).documents
    sh, _ = _lsh_index(spark, sf_dir)
    gold = ngram_jaccard_pairs_blocked(
        d, block_cols=["source"], threshold=_AUD_TAU, shingled=sh
    ).select("source", "id_a", "id_b")

    import __spark_entry__  # noqa: F401
    from etl_data_processor_spark.registry import QUERIES

    sig = QUERIES["q_simhash_portable"](spark, sf_dir).join(
        d.select("doc_id", "source"), "doc_id"
    )
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("bi"),
                F.shiftrightunsigned(F.col("sig"), 8 * b)
                .bitwiseAND(F.lit(255))
                .alias("bv"),
            )
            for b in range(4)
        ]
    )
    bt = sig.select(
        "doc_id", "source", "sig", F.explode(bands).alias("b")
    ).select("doc_id", "source", "sig", F.col("b.bi"), F.col("b.bv"))
    rhs = bt.select(
        F.col("doc_id").alias("id_b"), F.col("source").alias("src2"),
        F.col("sig").alias("sig2"), F.col("bi").alias("bi2"),
        F.col("bv").alias("bv2"),
    )
    ham = F.bit_count(F.col("sig").bitwiseXOR(F.col("sig2")))
    pred = (
        bt.join(
            rhs.hint("shuffle_hash"),
            (F.col("source") == F.col("src2"))
            & (F.col("bi") == F.col("bi2"))
            & (F.col("bv") == F.col("bv2"))
            & (F.col("doc_id") < F.col("id_b")),
        )
        .filter(ham <= 3)
        .select(
            "source", F.col("doc_id").alias("id_a"), "id_b",
            ham.cast("int").alias("ham"),
        )
        .distinct()
    )
    lab = pred.join(
        gold.withColumn("__g", F.lit(1)), ["source", "id_a", "id_b"], "left"
    ).select("ham", F.col("__g").isNotNull().alias("is_gold"))
    ng = gold.agg(F.count(F.lit(1)).alias("g"))
    grid = spark.range(4).select(F.col("id").cast("int").alias("h"))
    m = (
        grid.join(lab, F.lit(True), "left")
        .groupBy("h")
        .agg(
            F.coalesce(
                F.sum(F.when((F.col("ham") <= F.col("h")) & F.col("is_gold"), 1)),
                F.lit(0),
            ).alias("tp"),
            F.coalesce(
                F.sum(F.when((F.col("ham") <= F.col("h")) & ~F.col("is_gold"), 1)),
                F.lit(0),
            ).alias("fp"),
        )
        .crossJoin(F.broadcast(ng))
    )
    dd = lambda c: c.cast("double")  # noqa: E731
    prec = F.when(F.col("tp") + F.col("fp") == 0, F.lit(0.0)).otherwise(
        dd(F.col("tp")) / dd(F.col("tp") + F.col("fp"))
    )
    rec = F.when(F.col("g") == 0, F.lit(0.0)).otherwise(
        dd(F.col("tp")) / dd(F.col("g"))
    )
    return m.select(
        "h", "tp", "fp", (F.col("g") - F.col("tp")).alias("fn"),
        SIM.stable_round6(prec).alias("precision6"),
        SIM.stable_round6(rec).alias("recall6"),
    )
