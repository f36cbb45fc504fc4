"""Text analysis operators for training-data pipelines (north star B31).

All tokenization/scoring is pure Column expressions (split/explode/length/
regexp) so it scales linearly with zero Python boundary. Heuristic language
ID and quality scoring follow the standard public recipes (stopword hit-rate,
length/punctuation ratios) — the kind of cheap pre-filters an LLM data
pipeline runs over 100 TB before anything expensive.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

# Tiny per-language stopword seeds for heuristic language ID. Deliberately
# small: the point is the Spark shape (literal arrays + overlap scoring),
# not lexicon quality.
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por", "con", "los"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "den", "ein", "zu"],
    "fr": ["le", "la", "de", "et", "est", "un", "une", "les", "des", "que"],
}


def tokenize(text: Column) -> Column:
    """Whitespace tokenization into array<string>; empties removed."""
    return F.filter(F.split(F.trim(text), r"\s+"), lambda t: t != "")


def _char_entropy_q12_fn(texts):
    """Per-document Shannon character entropy as the 1e12-quantized
    integer term sum eq = sum over distinct chars of
    floor(-(k/n) * log2(k/n) * 1e12 + 0.5) — the exact arithmetic of
    the q_char_entropy_filter JVM expression chain, computed in ONE
    vectorized Arrow pass (r10, guide §4.2): counting runs in
    collections.Counter (C speed) and the per-distinct-char float math
    in CPython, whose log2 is glibc's — BIT-IDENTICAL to the DuckDB
    oracle's LOG2 (verified: same hex expansion), so the differential
    gate is unchanged. The JVM form this replaces paid a full char
    explode (one row per character) through two hash aggregates and a
    join — measured 8 executor-cpu-seconds at sf0.1 against ~1 for
    this pass.

    Edge semantics mirror split(text, ''): an EMPTY string splits to
    [''] on both engines (one char, k = n = 1, eq = 0); a NULL text
    returns null (the explode path dropped the row — callers filter
    nulls if their relation did)."""
    import math
    from collections import Counter

    import pandas as pd

    log2, floor = math.log2, math.floor
    out = []
    for t in texts:
        if t is None:
            out.append(None)
            continue
        n = len(t)
        if n == 0:
            out.append(0)
            continue
        nd = float(n)
        eq = 0
        for k in Counter(t).values():
            p = k / nd
            eq += floor((-p) * log2(p) * 1e12 + 0.5)
        out.append(eq)
    return pd.Series(out, dtype="Int64")


@functools.cache
def _char_entropy_udf():
    from pyspark.sql.types import LongType

    return F.pandas_udf(_char_entropy_q12_fn, LongType())


def char_entropy_q12(text: Column) -> Column:
    """Column form of :func:`_char_entropy_q12_fn` (the pandas UDF is
    built lazily — decorating at import time would parse the return
    type before any session exists)."""
    return _char_entropy_udf()(text)


def token_count(text: Column) -> Column:
    """Whitespace token count — cheap `wc -w` style."""
    return F.size(tokenize(text))


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-ish token estimate: count regex word/number/punct chunks, the
    public rule-of-thumb pre-tokenizer shape (letters runs, digit runs,
    single punctuation)."""
    chunks = F.regexp_extract_all(
        text, F.lit(r"([A-Za-z]+|[0-9]+|[^A-Za-z0-9\s])"), 1
    )
    return F.size(chunks)


def explode_tokens(df: DataFrame, text_col: str = "text", out: str = "token") -> DataFrame:
    """tokens exploded to one row per token — feeds term counting / TF-IDF."""
    return df.select("*", F.explode(tokenize(F.col(text_col))).alias(out))


def term_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Global term frequency: explode + groupBy(token). Spark plans
    partial+final hash agg, so the explosion never materializes globally."""
    return (
        explode_tokens(df, text_col)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def quality_score(text: Column) -> Column:
    """Heuristic document quality in [0,1]: penalize very short docs, heavy
    punctuation, and low alphabetic ratio. Mirrors public LLM-corpus
    quality-filter recipes (length/punct/alpha ratios)."""
    n = F.length(text)
    alpha = F.length(F.regexp_replace(text, r"[^A-Za-za-zæøåÆØÅ ]", ""))
    punct = F.length(F.regexp_replace(text, r"[^\.,;:!\?]", ""))
    alpha_ratio = alpha / F.greatest(n, F.lit(1))
    punct_ratio = punct / F.greatest(n, F.lit(1))
    len_score = F.least(n / F.lit(200.0), F.lit(1.0))
    return F.round(
        F.greatest(
            F.lit(0.0),
            len_score * alpha_ratio * (F.lit(1.0) - F.lit(4.0) * punct_ratio),
        ),
        6,
    )


def repetition_stats(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Gopher-style per-document repetition signals: (id, n_tokens,
    distinct_ratio, top_bigram_share). Low distinct_ratio or a high
    top-bigram share marks boilerplate/looping text — the repetition
    filters public LLM-corpus recipes apply alongside quality_score.

    Plan: the per-doc scalars are narrow expressions (no shuffle); the top
    bigram needs explode -> count(doc, bigram) -> max per doc — two
    exchanges, the second re-keying (doc, bigram) down to (doc), both
    partial-aggregated so the exploded frame never moves whole. The final
    join is doc-keyed and reuses the max side's partitioning. Division by
    zero (docs with < 2 tokens) is guarded with a CASE on both engines —
    Spark 4 ANSI would throw, DuckDB would emit inf."""
    w = F.split(F.col(text_col), " ")
    scal = df.select(
        F.col(id_col),
        F.size(w).alias("n_tokens"),
        F.size(F.array_distinct(w)).alias("n_distinct"),
    )
    n = F.size(w)
    bigrams = F.zip_with(
        F.slice(w, 1, n - 1),
        F.slice(w, 2, n - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    top = (
        df.select(F.col(id_col), F.explode(bigrams).alias("bigram"))
        .groupBy(id_col, "bigram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(F.max("c").alias("top_cnt"))
    )
    from etl_data_processor_spark.ops.similarity import stable_round6

    return scal.join(top, id_col, "left").select(
        id_col,
        "n_tokens",
        stable_round6(F.col("n_distinct") / F.col("n_tokens")).alias("distinct_ratio"),
        F.when(
            F.col("n_tokens") > 1,
            stable_round6(F.coalesce(F.col("top_cnt"), F.lit(0)) / (F.col("n_tokens") - 1)),
        )
        .otherwise(F.lit(0.0))
        .alias("top_bigram_share"),
    )


def language_id(text: Column) -> Column:
    """Heuristic language ID: stopword hit-count per language over the token
    array, argmax wins, NULL when no evidence. Pure expressions (arrays_
    overlap-style scoring), so it runs in codegen."""
    toks = tokenize(F.lower(text))
    scores = []
    for lang, words in STOPWORDS.items():
        lit_words = F.array(*[F.lit(w) for w in words])
        score = F.size(F.filter(toks, lambda t: F.array_contains(lit_words, t)))
        scores.append(F.struct(score.alias("score"), F.lit(lang).alias("lang")))
    best = F.array_max(F.array(*scores))
    return F.when(best.getField("score") > 0, best.getField("lang"))


# PII scrubbing patterns: (label, RE2-safe regex, replacement). RE2-safe
# means no lookbehind/backrefs, so the SAME pattern runs in Spark (Java
# regex) and any RE2 engine — portability of the redaction rule is part of
# the contract (a corpus scrubbed twice by different engines must agree).
# Order matters: emails first (they contain dots/digits an IP/phone rule
# could nibble), then IPv4, then phones LAST — the phone pattern greedily
# spans digits+spaces (spaced phone formats), so a phone directly followed
# by an IP would have its leading octet eaten if phones ran first; IPs
# contain dots, which the phone pattern cannot cross, so IP-first is safe
# (pinned by tests/test_corpus_ops.py).
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b(\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    ("phone", r"\+\d[\d ]{6,}\d", "<PHONE>"),
]


def scrub_pii(text: Column) -> Column:
    """Redact emails / +intl phones / IPv4s with typed placeholders.

    A chained ``regexp_replace`` — one pass per pattern, all JVM-side
    codegen, no Python boundary: at 100 TB this runs at scan speed and the
    chain stays inside one whole-stage-codegen span (generalizes the
    reference's regex-normalization habit, main.py:217-232, to the
    corpus-scrubbing op every training pipeline ships).
    """
    out = text
    for _, pattern, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, repl)
    return out


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    window: int = 500,
    stride: int = 400,
) -> DataFrame:
    """Split each document into fixed-size overlapping character windows.

    One row per chunk (``chunk_id``, ``chunk``): chunk i covers
    ``[i*stride, i*stride + window)``; the last window may be short; a
    document shorter than one window yields exactly one chunk. The fan-out
    is ``explode(sequence(...))`` — narrow, no shuffle, and the chunk count
    is integer arithmetic so the SAME rows come out of any engine. This is
    the RAG / pretraining context-window chunker; token-budget packing is
    the inverse (see q_pack_sequences).
    """
    n = F.length(F.col(text_col))
    nch = F.when(n <= window, F.lit(1)).otherwise(
        F.expr(
            f"(length({text_col}) - {window} + {stride - 1}) div {stride}"
        ).cast("int")
        + 1
    )
    return (
        df.withColumn("chunk_id", F.explode(F.sequence(F.lit(0), nch - 1)))
        .withColumn(
            "chunk",
            F.expr(f"substring({text_col}, chunk_id * {stride} + 1, {window})"),
        )
        .drop(text_col)
    )


def fingerprint(text: Column) -> Column:
    """Document fingerprint: 64-bit stable hash of normalized text
    (lowercase, collapsed whitespace) — the exact-dedup key at scale."""
    normalized = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    return F.xxhash64(normalized)


def deletion_neighborhood(col: str, k: int = 2, hashed: bool = False) -> Column:
    """``array<string>`` of every variant of ``col`` with up to ``k``
    characters deleted — the symmetric-delete blocking key set (public
    SymSpell / FastSS technique). Completeness for Levenshtein: if
    ``lev(s, t) <= k`` then ``del_k(s)`` and ``del_k(t)`` intersect — a
    substitution is simulated by deleting the differing character from
    BOTH sides, an insertion/deletion by one deletion on ONE side, so a
    common ancestor string always exists within ``k`` deletions per side.
    An equi-join on the exploded variants is therefore a LOSSLESS
    candidate filter for ``lev <= k`` (verify with ``F.levenshtein``
    after), and — unlike coarse attribute blocking — its candidate count
    per row is bounded by how many OTHER rows share a near-identical
    spelling, not by block population: the candidate space stays linear
    in N however large the table grows.

    Pure Column expression (no UDF): O(len^k) variants per row, i.e.
    ~170 for a 18-char key at k=2. The CASE guards matter: Spark's
    ``sequence(a, b)`` DESCENDS when ``b < a``, so short strings must
    short-circuit to empty arrays instead of generating phantom indexes.

    ``hashed=True`` returns ``array<bigint>`` of xxhash64(variant)
    instead of the strings: the candidate join then shuffles 8-byte
    longs, not ~L-char strings (the join is a candidate FILTER, so a
    hash collision only admits one spurious pair that the levenshtein
    verify rejects — losslessness is unaffected).
    """
    if k not in (1, 2):
        raise ValueError("deletion_neighborhood supports k in {1, 2}")
    c = col
    d1 = (
        f"CASE WHEN length({c}) >= 1 THEN "
        f"transform(sequence(1, length({c})), i -> "
        f"concat(substring({c}, 1, i - 1), substring({c}, i + 1, length({c})))) "
        f"ELSE array() END"
    )
    if k == 1:
        raw = f"concat(array({c}), {d1})"
    else:
        d2 = (
            f"CASE WHEN length({c}) >= 2 THEN "
            f"flatten(transform(sequence(1, length({c}) - 1), i -> "
            f"transform(sequence(i + 1, length({c})), j -> "
            f"concat(substring({c}, 1, i - 1), "
            f"substring({c}, i + 1, j - i - 1), "
            f"substring({c}, j + 1, length({c})))))) "
            f"ELSE array() END"
        )
        raw = f"concat(array({c}), {d1}, {d2})"
    if hashed:
        return F.expr(f"array_distinct(transform({raw}, x -> xxhash64(x)))")
    return F.expr(f"array_distinct({raw})")


def symdelete_hash_arrays(name_col: str) -> Column:
    """``deletion_neighborhood(name, 2, hashed=True)`` as a VECTORIZED
    Arrow pass (r11, guide §4.2): an ``array<bigint>`` of the distinct
    ≤2-deletion variant hashes of ``name_col``, computed in batched
    numpy — explode it exactly like the expression form.

    Why: the expression form builds ~L²/2 variant strings per row
    through interpreted higher-order functions (transform / flatten /
    sequence / array_distinct are CodegenFallback) and xxhash64-es each
    — measured 3.5 executor-cpu-s per side per 150k rows at sf0.1, the
    single largest stage of both linkage keys. This pass computes the
    variant hashes WITHOUT materializing variant strings: a polynomial
    rolling hash over the UTF-32 code points gives every deletion
    variant's hash from prefix hashes + :func:`pow_table` powers in O(1) each,
    batched across all rows of equal length in numpy (uint64 wraparound
    arithmetic), then a splitmix64 finalizer + variant-length salt
    decorrelates the lattice. Per-row ``array_distinct`` semantics are
    kept by a vectorized sort-and-mask unique. Only the NAME column
    crosses the Python boundary inbound and only the hash arrays cross
    outbound (~8 bytes/variant); the explode and every key column stay
    in JVM codegen (a first cut that exploded inside the Arrow pass
    re-shipped the key columns per variant and lost 2x wall to the
    extra Arrow bytes).

    The hash VALUE differs from xxhash64(variant) by design — a
    blocking key only needs both sides to hash the same variant string
    to the same 64-bit value, which holds (same chars + same length ⇒
    same polynomial + same salt). Losslessness is untouched (a real
    shared variant still collides on purpose); a hash collision only
    admits a spurious candidate that the levenshtein verify rejects —
    the exact argument ``deletion_neighborhood(hashed=True)`` already
    carries.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    B = 0x100000001B3  # FNV-64 prime as the polynomial base

    pair_cache: dict = {}

    def pair_idx(length: int):
        hit = pair_cache.get(length)
        if hit is None:
            ii, jj = np.triu_indices(length, k=1)
            hit = (ii.astype(np.int64), jj.astype(np.int64))
            pair_cache[length] = hit
        return hit

    def mix(h, out_len: int):
        # variant-length salt + splitmix64 finalizer
        z = h ^ (np.uint64(out_len) << np.uint64(58))
        z = z ^ (z >> np.uint64(30))
        z = z * np.uint64(0xBF58476D1CE4E5B9)
        z = z ^ (z >> np.uint64(27))
        z = z * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))

    def variants_for_group(chars):
        """(N, L) uint64 code points -> (N, V) variant hashes, V =
        1 + L + L(L-1)/2, unsorted, undeduped."""
        n, length = chars.shape
        pw = pow_table(B, length + 1, 64)
        P = np.empty((n, length + 1), dtype=np.uint64)
        P[:, 0] = np.uint64(0)
        for t in range(length):
            P[:, t + 1] = P[:, t] * np.uint64(B) + chars[:, t]
        cols = [mix(P[:, length], length)[:, None]]  # the string itself
        if length >= 1:
            # delete position i: prefix * B^(L-1-i) + suffix(i+1)
            i = np.arange(length)
            suf = P[:, length][:, None] - P[:, i + 1] * pw[length - 1 - i]
            h1 = P[:, i] * pw[length - 1 - i] + suf
            cols.append(mix(h1, length - 1))
        if length >= 2:
            ii, jj = pair_idx(length)
            mid = P[:, jj] - P[:, ii + 1] * pw[jj - ii - 1]
            suf = (
                P[:, length][:, None]
                - P[:, jj + 1] * pw[length - 1 - jj]
            )
            h2 = (
                P[:, ii] * pw[length - 2 - ii]
                + mid * pw[length - 1 - jj]
                + suf
            )
            cols.append(mix(h2, length - 2))
        return np.concatenate(cols, axis=1)

    def _hashes(s):
        n = len(s)
        names = ["" if x is None else x for x in s.tolist()]
        lens = np.fromiter((len(x) for x in names), dtype=np.int64, count=n)
        out = [None] * n
        for length in np.unique(lens):
            sel = np.flatnonzero(lens == length)
            if length == 0:
                uniq = mix(np.zeros((len(sel), 1), dtype=np.uint64), 0)
                keep = np.ones(uniq.shape, dtype=bool)
            else:
                grp = [names[t] for t in sel]
                chars = np.frombuffer(
                    "".join(grp).encode("utf-32-le"), dtype=np.uint32
                ).reshape(len(sel), int(length)).astype(np.uint64)
                h = variants_for_group(chars)
                # per-row array_distinct: sort + change mask
                uniq = np.sort(h, axis=1)
                keep = np.ones(uniq.shape, dtype=bool)
                keep[:, 1:] = uniq[:, 1:] != uniq[:, :-1]
            rowcounts = keep.sum(axis=1)
            flat = uniq[keep].view(np.int64)
            offs = np.zeros(len(sel) + 1, dtype=np.int64)
            np.cumsum(rowcounts, out=offs[1:])
            for pos in range(len(sel)):
                out[sel[pos]] = flat[offs[pos]:offs[pos + 1]]
        return pd.Series(out)

    _hashes.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(_hashes, ArrayType(LongType()))(name_col)


def fuzzy_key_pairs_symdelete(
    df: DataFrame, key_col: str, max_dist: int = 2
) -> DataFrame:
    """:func:`fuzzy_key_pairs`'s output contract (DISTINCT key pairs
    within edit distance ``max_dist``) with SYMMETRIC-DELETE blocking
    instead of a length band — the 100 TB scale path. The length band
    shrinks the quadratic by ~(2k+1)/L but every in-band pair still runs
    levenshtein: Σ|band|² work. The deletion-variant equi-join
    (:func:`deletion_neighborhood`, lossless for lev ≤ k) bounds
    candidates per key by spelling-neighbor DENSITY, independent of how
    many keys share a length — the structure that measured
    q_record_linkage from 94.8× to 13.1× CPU at 10× data
    (SCALE_STRESS.json). Costs more per key at small scale (~L²/2
    variants each side); choose it when bands are big, i.e. at scale.

    The oracle differential runs the naive all-pairs SQL, so a green run
    PROVES this blocking lossless on the fixture, not just plausible."""
    keys = df.select(F.col(key_col).cast("string").alias("key")).distinct()
    # r11: at k=2 the variant hashes come from the vectorized Arrow pass
    # (symdelete_hash_arrays — the interpreted-HOF expression chain was
    # the dominant stage CPU of every symdelete consumer); k=1 keeps the
    # expression form (the Arrow pass enumerates the k=2 lattice).
    variants = (
        symdelete_hash_arrays("key")
        if max_dist == 2
        else deletion_neighborhood("key", max_dist, hashed=True)
    )
    a = keys.select("key", F.explode(variants).alias("__v"))
    b = a.select(F.col("key").alias("key_b"), F.col("__v").alias("__vb"))
    # shuffle_hash: Catalyst under-sizes post-Generate frames and would
    # broadcast an exploded side (see q_record_linkage's measured spill).
    # The verified distance is PROJECTED once per candidate and carried
    # through the pair-dedup aggregate; filtering on the aggregated value
    # (not in the join condition / a pushable filter) keeps Catalyst from
    # inlining a second levenshtein into the final projection (VERDICT r5
    # item 8 — the old form evaluated it in the join condition AND again
    # per surviving pair). Candidates at 2 < lev <= 4 (shared ancestor but
    # failed verify) now reach the dedup agg before dying; that agg ships
    # (key, key_b, dist) triples with map-side partial dedup — cheaper than
    # a second levenshtein per surviving pair, and the aggregate cannot be
    # re-ordered below itself.
    pairs = (
        a.join(
            b.hint("shuffle_hash"),
            (F.col("__v") == F.col("__vb")) & (F.col("key") < F.col("key_b")),
        )
        .select(
            "key",
            "key_b",
            # threshold form (r11): banded DP + early-out, exact
            # distance when <= max_dist, -1 past it — every candidate
            # row of a pair yields the identical value, so the min-agg
            # and the kept pairs' dist values are unchanged
            F.levenshtein(F.col("key"), F.col("key_b"), max_dist)
            .cast("int").alias("dist"),
        )
        .groupBy("key", "key_b")
        .agg(F.min("dist").alias("dist"))
        .filter(F.col("dist") >= 0)  # -1 == lev > max_dist
    )
    return pairs.select(F.col("key").alias("key_a"), "key_b", "dist")


_PJ_STRUCT = "array<struct<v:bigint,i:int,l:int>>"


def _pj_cum(i: int, m: int, l: str) -> str:
    """SQL for the 1-based start offset (exclusive prefix-length sum) of
    segment ``i`` when a length-``l`` string splits into ``m`` even
    segments of lengths floor((l+j-1)/m), j=1..m."""
    if i == 1:
        return "0"
    terms = [f"(({l} + {j - 1}) DIV {m})" for j in range(1, i)]
    return "(" + " + ".join(terms) + ")"


def passjoin_index_keys(col: str, k: int = 2) -> Column:
    """``array<struct<v,i,l>>`` of the ``k+1`` PassJoin segment keys of
    ``col`` (Li, Deng & Feng 2011, public): the string splits into k+1
    near-even segments (lengths floor((l+i-1)/(k+1))); v = xxhash64 of
    the segment text, i = segment ordinal, l = the string's own length.

    Pigeonhole completeness: an alignment with <= k edits touches <= k
    segments (each substitution/deletion edits one segment's character;
    each insertion lands inside or at the boundary of one segment), so
    at least one segment survives UNEDITED and appears contiguously and
    exactly in the partner string, start-shifted by the net indel
    balance before it — at most k positions. Equi-joining these keys
    against :func:`passjoin_probe_keys` is therefore a LOSSLESS
    candidate filter for lev <= k (verify with ``F.levenshtein`` after),
    at k+1 index rows per string instead of the ~L^2/2 deletion variants
    of :func:`deletion_neighborhood` — the candidate-volume cut VERDICT
    r6 item 2 asked for. Hashing costs one spurious pair per collision,
    which the verify rejects (same argument as ``hashed=True`` there).
    """
    m = k + 1
    c, ln = col, f"length({col})"
    entries = []
    for i in range(1, m + 1):
        seg = f"(({ln} + {i - 1}) DIV {m})"
        p = f"(1 + {_pj_cum(i, m, ln)})"
        entries.append(
            f"named_struct('v', xxhash64(substring({c}, {p}, {seg})), "
            f"'i', {i}, 'l', {ln})"
        )
    return F.expr(f"array({', '.join(entries)})")


def passjoin_probe_keys(col: str, k: int = 2) -> Column:
    """``array<struct<v,i,l>>`` of the PassJoin PROBE keys of ``col``:
    for every partner length l within +-k of ``col``'s own length and
    every segment ordinal i, the substrings of ``col`` with segment
    (l, i)'s exact length starting within +-k of segment (l, i)'s start
    position (clipped to the string; empty when the window is void —
    Spark's ``sequence(a, b)`` DESCENDS for b < a, so the CASE guard is
    load-bearing). Joint with :func:`passjoin_index_keys` on (v, i, l)
    this is lossless for lev <= k (see there): <= (2k+1)^2 * (k+1)
    probe keys per string — ~75 at k=2 before dedup/clipping, vs ~170
    deletion variants PER SIDE — and the join keys are short segment
    hashes."""
    m = k + 1
    c, ln = col, f"length({col})"
    per_i = []
    for i in range(1, m + 1):
        seg = f"((l + {i - 1}) DIV {m})"
        p = f"(1 + {_pj_cum(i, m, 'l')})"
        lo = f"greatest({p} - {k}, 1)"
        hi = f"least({p} + {k}, {ln} - {seg} + 1)"
        per_i.append(
            f"CASE WHEN {hi} >= {lo} THEN "
            f"transform(sequence({lo}, {hi}), q -> "
            f"named_struct('v', xxhash64(substring({c}, q, {seg})), "
            f"'i', {i}, 'l', l)) "
            f"ELSE CAST(array() AS {_PJ_STRUCT}) END"
        )
    return F.expr(
        f"array_distinct(flatten(transform("
        f"sequence(greatest({ln} - {k}, 0), {ln} + {k}), l -> "
        f"flatten(array({', '.join(per_i)})))))"
    )


def fuzzy_key_pairs_passjoin(
    df: DataFrame, key_col: str, max_dist: int = 2
) -> DataFrame:
    """:func:`fuzzy_key_pairs`'s output contract through PassJoin segment
    blocking — the LOW-VOLUME scale path (VERDICT r6 item 2): the
    deletion-variant equi-join ships ~170 hashed variants per key on BOTH
    sides; PassJoin ships k+1 index keys and <= ~(2k+1)^2*(k+1) windowed
    probe keys (~5x less exchange volume at k=2), with the same lossless
    guarantee (the oracle differential runs the naive all-pairs SQL, so a
    green run PROVES completeness on the fixture). Candidates verify with
    one levenshtein, projected through the pair-dedup aggregate exactly
    like :func:`fuzzy_key_pairs_symdelete`."""
    keys = df.select(F.col(key_col).cast("string").alias("key")).distinct()
    a = keys.select(
        "key", F.explode(passjoin_index_keys("key", max_dist)).alias("__s")
    )
    b = keys.select(
        F.col("key").alias("key_b"),
        F.explode(passjoin_probe_keys("key", max_dist)).alias("__p"),
    )
    pairs = (
        a.join(
            b.hint("shuffle_hash"),
            (F.col("__s") == F.col("__p")) & (F.col("key") < F.col("key_b")),
        )
        .select(
            "key",
            "key_b",
            # threshold form (r11): banded DP + early-out, exact
            # distance when <= max_dist, -1 past it — every candidate
            # row of a pair yields the identical value, so the min-agg
            # and the kept pairs' dist values are unchanged
            F.levenshtein(F.col("key"), F.col("key_b"), max_dist)
            .cast("int").alias("dist"),
        )
        .groupBy("key", "key_b")
        .agg(F.min("dist").alias("dist"))
        .filter(F.col("dist") >= 0)  # -1 == lev > max_dist
    )
    return pairs.select(F.col("key").alias("key_a"), "key_b", "dist")


def fuzzy_key_pairs(
    df: DataFrame, key_col: str, max_dist: int = 2
) -> DataFrame:
    """Fuzzy-match pairs of DISTINCT keys within edit distance ``max_dist``
    (entity resolution / spell-clustering, e.g. trade names across sources).

    Blocking is a LENGTH BAND: levenshtein(a,b) >= |len(a)-len(b)|, so a pair
    within ``max_dist`` must have lengths within ``max_dist`` — the band is a
    lossless filter (the oracle differential runs the naive all-pairs SQL, so
    any pair the band dropped would fail the gate). Each probe-side key
    explodes to its 2*max_dist+1 candidate length buckets and equi-joins the
    build side on (bucket = exact length): one hash shuffle on small ints, a
    ~(2k+1)/L fraction of the quadratic per block, and each pair is produced
    exactly once (the build side sits only at its own length). At 100 TB the
    key set is the DISTINCT of a column — orders of magnitude smaller than
    the fact — and the expensive levenshtein runs only inside bands.
    """
    keys = df.select(F.col(key_col).cast("string").alias("key")).distinct()
    build = keys.select("key", F.length("key").alias("bucket"))
    probe = keys.select(
        F.col("key").alias("key_b"),
        F.explode(
            F.sequence(
                F.greatest(F.length("key") - max_dist, F.lit(1)),
                F.length("key") + max_dist,
            )
        ).alias("bucket"),
    )
    return (
        build.join(probe, "bucket")
        .filter(F.col("key") < F.col("key_b"))
        .select(
            F.col("key").alias("key_a"),
            "key_b",
            F.levenshtein("key", "key_b").cast("int").alias("dist"),
        )
        .filter(F.col("dist") <= max_dist)
    )


def dedup_segments(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 3,
    min_docs: int = 3,
) -> DataFrame:
    """CCNet/Gopher-style cross-document duplicated-segment removal: chunk
    every document into fixed ``width``-word segments, drop every segment
    whose exact text occurs in >= ``min_docs`` DISTINCT documents (shared
    boilerplate: headers, navigation, license blurbs), and reassemble the
    surviving segments in order. Returns one row per input document:
    (doc_id, clean_text, n_chunks, n_dropped) — fully-boilerplate documents
    survive with clean_text = ''.

    This is the REMOVAL counterpart of q_boilerplate's detection report
    (queries_ext3.py): the public corpus pipelines dedup at sub-document
    granularity *before* document-level MinHash, because shared boilerplate
    otherwise inflates Jaccard similarity between unrelated pages.

    100 TB shape: the segment table is one projection + posexplode (no
    shuffle); the boilerplate set is one hash aggregate on the segment key
    with map-side partial counts; removal is a left-anti equi-join on the
    same key (the aggregate output is a small fraction of the corpus — only
    segments that actually repeat across >= min_docs docs); reassembly is
    one hash aggregate on doc_id with collect_list + array_sort (bounded by
    the document's own size, never a global window). Three narrow shuffles
    total, each on a key whose cardinality the data bounds.

    No reference counterpart (main.py has no corpus-level text surface);
    north-star training-data operator.
    """
    w = F.split(F.trim(F.col(text_col)), r"\s+")
    docs = (
        df.select(F.col(id_col).alias("doc_id"), w.alias("w"))
        .filter(F.size("w") > 0)
        .withColumn("n_chunks", F.ceil(F.size("w") / width).cast("long"))
    )
    chunks = docs.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "transform(sequence(0, CAST(n_chunks AS INT) - 1), "
                f"i -> array_join(slice(w, i*{width}+1, {width}), ' '))"
            )
        ).alias("pos", "chunk"),
    )
    dups = (
        chunks.groupBy("chunk")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("chunk")
    )
    kept = chunks.join(dups, "chunk", "left_anti")
    ragg = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "chunk"))),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("clean_text"),
        F.count("*").alias("n_kept"),
    )
    return (
        docs.select("doc_id", "n_chunks")
        .join(ragg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            "n_chunks",
            (F.col("n_chunks") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_dropped"),
        )
    )


def bpe_pair_counts(
    df: DataFrame, text_col: str = "text", top_n: int = 20
) -> DataFrame:
    """The distributed core of BPE tokenizer TRAINING (Sennrich et al.
    2016, public): weighted adjacent-symbol-pair counts over the corpus
    vocabulary, i.e. the statistic whose argmax picks the next merge.
    Returns the ``top_n`` (pair, cnt) rows with a deterministic total
    order (cnt desc, pair asc).

    100 TB shape — this is exactly how production BPE trainers scale: the
    CORPUS is touched once (explode words -> hash-agg word frequencies;
    map-side partial counts make the shuffle vocabulary-sized), and the
    pair enumeration runs on the VOCABULARY table (millions of rows, not
    trillions) with the word frequency as the weight. Each merge
    iteration after the first re-derives pairs from the (tiny) vocab
    only; the corpus is never re-scanned.
    """
    words = df.select(F.explode(tokenize(F.col(text_col))).alias("word"))
    wf = (
        words.groupBy("word")
        .agg(F.count("*").alias("freq"))
        .filter(F.length("word") >= 2)
    )
    pairs = wf.select(
        "freq",
        F.explode(
            F.expr(
                "transform(sequence(1, length(word) - 1), "
                "i -> substring(word, CAST(i AS INT), 2))"
            )
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").alias("cnt"))
        .orderBy(F.desc("cnt"), "pair")
        .limit(top_n)
    )


def dedup_consecutive_words(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style intra-document repetition REMOVAL: collapse runs of
    consecutively-repeated words to a single occurrence ("the the the" ->
    "the") and reassemble the document. Returns (doc_id, clean_text,
    n_words, n_removed). The STATS counterpart is repetition_stats (used
    by the filter rules); this is the scrubber applied to documents that
    pass the keep threshold but still carry stutter artifacts (OCR, ASR
    transcripts, crawler glitches).

    100 TB shape: the only window is PARTITION BY doc_id (data-parallel,
    frame bounded by the document's own length — never a global or
    low-cardinality window), plus one hash aggregate for reassembly.
    """
    w = F.split(F.trim(F.col(text_col)), r"\s+")
    toks = (
        df.select(F.col(id_col).alias("doc_id"), w.alias("w"))
        .filter(F.size("w") > 0)
        .select("doc_id", F.posexplode("w").alias("pos", "word"))
    )
    win = W.partitionBy("doc_id").orderBy("pos")
    kept = toks.withColumn("prev", F.lag("word").over(win)).filter(
        F.col("prev").isNull() | (F.col("word") != F.col("prev"))
    )
    ragg = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "word"))),
                lambda s: s["word"],
            ),
            " ",
        ).alias("clean_text"),
        F.count("*").alias("n_kept"),
    )
    tot = toks.groupBy("doc_id").agg(F.count("*").alias("n_words"))
    return tot.join(ragg, "doc_id").select(
        "doc_id",
        "clean_text",
        "n_words",
        (F.col("n_words") - F.col("n_kept")).cast("long").alias("n_removed"),
    )


def train_bpe_merges(
    df: DataFrame,
    n_merges: int = 16,
    text_col: str = "text",
    max_vocab: int = 65536,
) -> list[tuple[str, str]]:
    """Greedy BPE merge-list training (Sennrich et al. 2016, public):
    repeatedly merge the highest-weighted adjacent symbol pair over the
    corpus vocabulary. Returns the merges in rank order. Argmax ties
    break deterministically (count desc, pair asc — the same total order
    :func:`bpe_pair_counts` publishes).

    100 TB shape: the CORPUS is touched exactly once — the word-frequency
    hash aggregate (map-side partials shrink the shuffle to vocabulary
    size) — and the driver collects at most ``max_vocab`` word types (the
    most frequent, ties word-asc, via TakeOrderedAndProject). Word-type
    counts grow ~sqrt(corpus) (Heaps' law), so an UNCAPPED collect would
    pull billions of types onto the driver at 100 TB (VERDICT r6 #3);
    capping is standard practice (production BPE trainers prune hapax/
    low-frequency types), and tail types cannot win a merge argmax while
    n_merges << vocab on any realistic corpus — the trained list on the
    fixture is pinned unchanged in tests/test_r6_ops.py. The iterative
    merge loop then runs on the collected vocabulary (a bounded MODEL
    artifact, like k-means centroids in
    ops.similarity.train_ivf_centroids), where each iteration is a linear
    pass over vocab symbol sequences. Pure Python on driver-side model
    state, never on corpus rows."""
    from collections import Counter

    rows = (
        df.select(F.explode(tokenize(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("word"))
        .limit(max_vocab)
        .collect()
    )
    words = Counter()
    for r in rows:
        words[tuple(r["word"])] += r["freq"]
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pc: Counter = Counter()
        for syms, f in words.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += f
        if not pc:
            break
        (a, b), _cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((a, b))
        nxt: Counter = Counter()
        for syms, f in words.items():
            nxt[_bpe_apply_pair(syms, a, b)] += f
        words = nxt
    return merges


def _bpe_apply_pair(syms: tuple, a: str, b: str) -> tuple:
    """One full merge pass: replace every left-to-right non-overlapping
    adjacent (a, b) with a+b — the canonical BPE within-rank rule."""
    out: list = []
    for s in syms:
        if out and out[-1] == a and s == b:
            out[-1] = a + b
        else:
            out.append(s)
    return tuple(out)


def bpe_encode_words(
    words: DataFrame, merges: list[tuple[str, str]], word_col: str = "word"
) -> DataFrame:
    """Distributed BPE ENCODING — apply a trained merge list to a
    vocabulary table, returning (word, tokens: array<string>). This is
    the inference half of the tokenizer loop (:func:`train_bpe_merges`
    is the training half): at 100 TB the corpus is scanned once into the
    distinct-word vocab, every distinct word is encoded HERE exactly
    once (vocab-sized work, however large the corpus), and the token
    stream is a broadcast join of corpus words against this table.

    Each merge is one JVM-side ``aggregate`` fold over the symbol array
    (left-to-right, non-overlapping) — no Python boundary, no UDF.
    Applying merges ONE FULL PASS PER RANK, ascending, is provably
    identical to the canonical min-rank-iterate BPE: merging pair p
    (rank r) only creates adjacencies involving the NEW symbol, and any
    trained pair containing that symbol was learned after it existed, so
    its rank exceeds r — no pass can ever re-enable an earlier rank, and
    within a pass the fold cannot cascade because a just-merged symbol
    ab never equals the pair's left element a. The DuckDB oracle replays
    the min-rank-iterate form instead (one leftmost merge per recursion
    step), so a green differential PROVES the equivalence on the fixture
    corpus; tests/test_r6_ops.py proves it on random corpora against a
    pure-Python canonical encoder."""
    def make_pass(a: str, b: str):
        la, lb, lab = F.lit(a), F.lit(b), F.lit(a + b)

        def step(acc, x):
            return F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == la)
                & (x == lb),
                F.concat(
                    F.slice(acc, F.lit(1), F.size(acc) - 1), F.array(lab)
                ),
            ).otherwise(F.concat(acc, F.array(x)))

        return step

    # Empty-word guard (ADVICE r6): sequence(1, 0) infers step -1 and
    # yields [1, 0], so an empty word would split into ['',''] instead of
    # []. Callers feed tokenize()-derived non-empty vocab words, but the
    # function is a general utility — make the edge correct, not latent.
    col = F.expr(
        f"CASE WHEN length({word_col}) = 0 "
        f"THEN CAST(array() AS array<string>) "
        f"ELSE transform(sequence(1, length({word_col})), "
        f"i -> substring({word_col}, CAST(i AS INT), 1)) END"
    )
    empty = F.array().cast("array<string>")
    for a, b in merges:
        col = F.aggregate(col, empty, make_pass(a, b))
    return words.withColumn("tokens", col)


def _one_to(n: Column) -> Column:
    """``sequence(1, n)`` that is EMPTY for ``n <= 0``. Spark infers step
    -1 for ``sequence(1, 0)`` and yields ``[1, 0]`` — so a fold over an
    empty word's positions would visit two phantom indices (ADVICE r6).
    """
    return F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(
        F.array().cast("array<int>")
    )


def unigram_vocab_scores(
    words: DataFrame,
    max_piece: int = 4,
    top_multi: int = 48,
    word_col: str = "word",
    count_col: str = "wcount",
) -> dict[str, int]:
    """Frequency-derived unigram-LM piece vocabulary (SentencePiece shape):
    every single character of the corpus plus the ``top_multi`` most
    frequent length-2..``max_piece`` substrings (occurrence-weighted count,
    ties piece-asc). Returns ``{piece: score_q}`` with score_q =
    floor(ln(cnt/total)*1e9) — an INTEGER fixed-point log-prob, so any
    downstream DP maximizes an exact integer sum. Substring counting is
    distributed (one explode + hash agg over the DISTINCT-word table);
    only the final chars+``top_multi`` rows are collected — bounded model
    state, the shipped-tokenizer artifact (same precedent as BPE merges /
    IVF centroids)."""
    import math as _math

    L = F.length(word_col)
    all_subs = F.flatten(
        F.transform(
            _one_to(L),
            lambda s: F.transform(
                F.sequence(F.lit(1), F.least(F.lit(max_piece), L - s + 1)),
                lambda l: F.substring(F.col(word_col), s, l),
            ),
        )
    )
    subs = (
        words.select(F.col(count_col).alias("__wc"),
                     F.explode(all_subs).alias("piece"))
        .groupBy("piece")
        .agg(F.sum("__wc").alias("cnt"))
    )
    chars = subs.filter(F.length("piece") == 1)
    multi = (
        subs.filter(F.length("piece") >= 2)
        .orderBy(F.desc("cnt"), F.asc("piece"))
        .limit(top_multi)
    )
    rows = chars.unionAll(multi).collect()
    total = sum(r["cnt"] for r in rows)
    return {
        r["piece"]: _math.floor(_math.log(r["cnt"] / total) * 1e9)
        for r in rows
    }


def unigram_viterbi(
    words: DataFrame,
    score_of: dict[str, int],
    max_piece: int = 4,
    word_col: str = "word",
) -> DataFrame:
    """Viterbi-optimal unigram-LM segmentation of ``word_col`` under an
    integer piece-score vocabulary (Kudo 2018 inference). Appends
    ``n_tokens`` (int), ``pieces`` ('|'-joined), ``score_q`` (bigint).
    Tie policy: max score, then fewest tokens, then longest-last-piece
    (== lexicographically greatest REVERSED piece-length sequence —
    proven against a brute-force enumeration oracle in q_unigram_viterbi
    and tests/test_r6b_ops.py). Two JVM-side ``aggregate`` folds
    (forward DP + backtrace), no Python boundary; the score map enters
    as a literal — vocabulary-bounded model state. Pieces absent from
    the vocabulary carry a -2^40 penalty; as long as every single
    character is in-vocab (unigram_vocab_scores guarantees it) they are
    never chosen."""
    pairs: list[Column] = []
    for p in sorted(score_of):
        pairs.extend([F.lit(p), F.lit(score_of[p]).cast("long")])
    smap = F.create_map(*pairs)
    MISS = F.lit(-(2**40)).cast("long")
    L = F.length(word_col)

    def cand(acc, i, l):
        prev = F.element_at(acc, i - l + 1)
        piece = F.col(word_col).substr(i - l + 1, F.lit(l))
        s = prev.getField("s") + F.coalesce(F.element_at(smap, piece), MISS)
        return F.struct(
            s.alias("s"),
            (prev.getField("negn") - 1).alias("negn"),
            F.lit(l).alias("l"),
        )

    def step(acc, i):
        dead = F.struct(
            F.lit(-(2**62)).cast("long").alias("s"),
            F.lit(-(2**30)).alias("negn"),
            F.lit(0).alias("l"),
        )
        cands = [
            F.when(i >= l, cand(acc, i, l)).otherwise(dead)
            for l in range(1, max_piece + 1)
        ]
        return F.concat(acc, F.array(F.greatest(*cands)))

    init = F.array(
        F.struct(
            F.lit(0).cast("long").alias("s"),
            F.lit(0).alias("negn"),
            F.lit(0).alias("l"),
        )
    )
    best = F.aggregate(_one_to(L), init, step)

    def back(st, _):
        pos = st.getField("pos")
        cut = F.element_at(F.col("__best"), pos + 1).getField("l")
        piece = F.col(word_col).substr(pos - cut + 1, cut)
        return F.when(pos <= 0, st).otherwise(
            F.struct(
                (pos - cut).alias("pos"),
                F.concat(F.array(piece), st.getField("ps")).alias("ps"),
            )
        )

    binit = F.struct(
        L.alias("pos"), F.array().cast("array<string>").alias("ps")
    )
    return (
        words.withColumn("__best", best)
        .withColumn(
            "__ps",
            F.aggregate(_one_to(L), binit, back).getField("ps"),
        )
        .withColumn("__top", F.element_at("__best", L + 1))
        .withColumn("n_tokens", -F.col("__top").getField("negn"))
        .withColumn("pieces", F.array_join("__ps", "|"))
        .withColumn("score_q", F.col("__top").getField("s"))
        .drop("__best", "__ps", "__top")
    )


# --- portable string hashing -------------------------------------------------

_POLY_MOD = 4294967296  # 2^32


def char_poly_hash(s: Column) -> Column:
    """Portable 32-bit polynomial string hash: fold h = (h*31 + code) mod
    2^32 over the string's character codes. Pure integer arithmetic both
    engines implement identically (the DuckDB mirror is
    :func:`char_poly_hash_sql`); parity holds for single-codepoint
    characters (ASCII/BMP — Spark ``ascii`` and DuckDB ``unicode`` both
    return the first codepoint). Intended for VOCABULARY-sized frames
    (distinct tokens), not per-corpus-row hot paths: the char fold costs
    O(len) per distinct string once, then broadcasts."""
    codes = F.transform(F.split(s, ""), lambda c: F.ascii(c).cast("long"))
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * 31 + c) % F.lit(_POLY_MOD),
    )


def char_poly_hash_sql(expr: str) -> str:
    """DuckDB expression computing exactly :func:`char_poly_hash`.

    ``greatest(unicode(c), 0)`` pins the empty-string edge (ADVICE r6):
    both engines split '' into [''], but Spark ``ascii('')`` is 0 while
    DuckDB ``unicode('')`` is -1 — clamping matches Spark's 0 so hashing
    an empty string yields 0 on both engines. (Parity remains
    single-codepoint/BMP, as documented on :func:`char_poly_hash`.)"""
    return (
        f"list_reduce(list_prepend(0::BIGINT, list_transform("
        f"string_split({expr}, ''), c -> greatest(unicode(c), 0)::BIGINT)), "
        f"(a, b) -> (a * 31 + b) % {_POLY_MOD})"
    )


def pow_table(base: int, n: int, bits: int):
    """``uint64[n]`` of ``base**i mod 2**bits`` for i = 0..n-1, built
    from masked Python ints (a numpy uint64 SCALAR product warns on
    overflow; the ARRAY products that consume the table wrap silently,
    which is the arithmetic :func:`token_poly` relies on)."""
    import numpy as np

    mask = (1 << bits) - 1
    out, acc = [], 1
    for _ in range(n):
        out.append(acc)
        acc = (acc * base) & mask
    return np.array(out, dtype=np.uint64)


def token_poly(tokens: list, base: int, bits: int):
    """Per-token polynomial hashes as ``uint64[len(tokens)]`` — the
    batched Python twin of :func:`char_poly_hash` (``base=31, bits=32``)
    and the one token-hash kernel of every Arrow pass in this module
    and in ops.dedup. The exactness contract, stated once here:

    - Code points: h(t) = sum_j ord(t[j]) * base^(L-1-j) mod 2^bits with
      L = len(t), i.e. the Horner fold ``h = (h*base + ord(c)) mod
      2^bits`` over the token's UTF-32 code points. A non-BMP character
      is ONE term (Python's ``ord``; ``ascii()`` in the JVM twin returns
      the same first code point), so no input needs a fallback path.
    - Power-of-two modulus: ``1 <= bits <= 64`` is asserted — the
      modulus is 2^bits, never an arbitrary prime.
    - Wraparound: the power table (:func:`pow_table`), every
      code-point * power product and the per-token ``reduceat`` sum run
      in uint64, whose wraparound is reduction mod 2^64; 2^bits divides
      2^64, so the final mask is exact however large the intermediates
      (or the token) get.
    - Null and empty: an empty token hashes to 0. Tokens must be ``str``
      — callers map a NULL text to zero tokens, so NULL never reaches
      the kernel.
    """
    import numpy as np

    assert 1 <= bits <= 64, "token_poly needs a 2**bits modulus, bits <= 64"
    lens = np.fromiter(map(len, tokens), dtype=np.int64, count=len(tokens))
    cps = np.frombuffer(
        "".join(tokens).encode("utf-32-le", "surrogatepass"), dtype=np.uint32
    )
    ends = np.cumsum(lens)
    exps = np.repeat(ends - 1, lens) - np.arange(len(cps))
    terms = cps * pow_table(base, int(lens.max(initial=0)), bits)[exps]
    out = np.zeros(len(tokens), dtype=np.uint64)
    ne = lens > 0
    if ne.any():
        out[ne] = np.add.reduceat(terms, (ends - lens)[ne])
    return out & np.uint64((1 << bits) - 1)


def arrow_pass(df: DataFrame, fn, schema) -> DataFrame:
    """``df.mapInArrow`` running ``fn`` once per Arrow batch — the one
    scaffold of every Arrow pass in this module and in ops.dedup.

    ``fn`` takes the batch as ``{column: list}`` and returns
    ``{field: list}`` for the fields of the ``pa.Schema`` ``schema``
    (extra keys are ignored; empty lists make an empty batch). The Spark
    schema is derived from ``schema`` with ``from_arrow_schema`` (int32
    -> int, int64 -> bigint, string -> string, all nullable), so a pass
    declares its output types once.

    Exactness contract of the passes built on it: NULL arrives as
    ``None`` and a NULL text is treated as the empty string (zero
    tokens, so it contributes no token, gram or count); token hashes are
    :func:`token_poly`; passes emit only exact integers and exact
    strings, and every division and final aggregate stays in the
    caller's JVM plan, so the keys stay value-oracled bit for bit.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import from_arrow_schema

    def run(batches):
        for batch in batches:
            yield pa.RecordBatch.from_pydict(fn(batch.to_pydict()), schema=schema)

    return df.mapInArrow(run, from_arrow_schema(schema))


def _key_fields(key_col: str | None, key_ddl: str) -> list:
    """The optional leading key field of a keyed pass's ``pa.schema``."""
    import pyarrow as pa

    if key_col is None:
        return []
    return [(key_col, pa.int64() if key_ddl == "long" else pa.string())]


def _columns(names: tuple, rows: list) -> dict:
    """Row tuples -> the ``{name: column}`` dict :func:`arrow_pass` takes."""
    return {name: [r[i] for r in rows] for i, name in enumerate(names)}


def token_poly_bucket_counts(
    docs: DataFrame,
    mod: int,
    key_col: str | None = None,
    key_ddl: str = "long",
    text_col: str = "text",
) -> DataFrame:
    """Hashed-unigram bucket counts for the DSIR family in ONE Arrow
    pass (r11, guide §4.2): tokenize + :func:`token_poly` (base 31 mod
    2^32, i.e. :func:`char_poly_hash`) + pmod bucket + count,
    batch-aggregated. The replaced JVM chain evaluated the char fold as
    an interpreted lambda PER CHARACTER of the full corpus token
    stream — the dominant stage of q_selection_pipeline's DSIR leg.

    Tokens from ``str.split()`` (== tokenize's trim+\\s+ on this corpus);
    hashing, NULL and empty handling as in :func:`token_poly` /
    :func:`arrow_pass`; bucket = h % mod on the non-negative 32-bit hash
    == pmod.

    Output: ``(key, bucket long, c long)`` rows when ``key_col`` is
    given (per-key bucket counts, <= mod rows per key per batch), else
    ``(bucket long, c long)``.
    """
    import numpy as np
    import pyarrow as pa

    def count(b):
        keys = b[key_col] if key_col else [None] * len(b[text_col])
        words = [(t or "").split() for t in b[text_col]]
        codes: dict = {}  # key -> dense owner code
        owner = np.repeat(
            np.array([codes.setdefault(k, len(codes)) for k in keys], dtype=np.int64),
            [len(w) for w in words],
        )
        bks = token_poly([t for w in words for t in w], 31, 32) % np.uint64(mod)
        vals, cnt = np.unique(owner * mod + bks.astype(np.int64), return_counts=True)
        ukeys = list(codes)
        return {
            key_col: [ukeys[o] for o in (vals // mod).tolist()],
            "bucket": (vals % mod).tolist(),
            "c": cnt.tolist(),
        }

    schema = pa.schema(
        _key_fields(key_col, key_ddl) + [("bucket", pa.int64()), ("c", pa.int64())]
    )
    return arrow_pass(docs.select(*filter(None, (key_col, text_col))), count, schema)


def pair_clip_gram_counts(
    pairs_txt: DataFrame,
    orders: tuple,
    mode: str,
    char_cap: int | None = None,
) -> DataFrame:
    """Per-(source, ref id, order) CLIPPED n-gram match counts for a
    candidate/reference pair relation, in ONE Arrow pass (r10, guide
    §4.2) — the scoring core of the corpus eval family (BLEU / ROUGE-N /
    chrF).

    Input: ``(source string, rid long, __c string, __r string)`` — one
    row per (candidate doc, its reference doc), both raw strings
    prepared by the caller (token mode: the raw text, tokenized here
    with str.split() == ops.text.tokenize's trim+\\s+ semantics; char
    mode: the caller's whitespace-stripped string).

    Output: one row per (input pair, order n):
    ``(source, n int, m long, t_ref long, t_cand long[, lc, lr long])``
    where m = sum over distinct grams of min(ref count, cand count) —
    the clip both precision (BLEU: m/t_cand) and recall (ROUGE/chrF
    legs: m/t_ref) metrics share — and t_* are the gram-occurrence
    totals per side. Token mode also emits lc/lr (uncapped token
    counts, BLEU's brevity-penalty lengths). Values follow the
    :func:`arrow_pass` contract.

    Why this shape (measured, r10): the explode form shuffles each
    side's full gram-count multiset (tens of MB at sf0.1; ~10-50x the
    raw text bytes) through two hash aggregates and a 3-way join —
    q_chrf_eval alone burned 27-34 executor-cpu-seconds. Joining the
    two TEXT payloads once by rid and counting per pair moves each
    byte once and replaces the gram shuffles with a tiny
    (source, n)-keyed aggregate; at 100 TB the rid join is one text
    shuffle where the gram plan shuffled the (bigger) gram streams
    three times. Reference counters are memoized per (rid, n) within a
    task — the rid join key co-locates a reference's pairs.
    """
    from collections import Counter

    import pyarrow as pa

    token_mode = mode == "token"
    schema = pa.schema(
        [
            ("source", pa.string()),
            ("n", pa.int32()),
            ("m", pa.int64()),
            ("t_ref", pa.int64()),
            ("t_cand", pa.int64()),
        ]
        + ([("lc", pa.int64()), ("lr", pa.int64())] if token_mode else [])
    )

    def counts(units, n, memo=None, key=None):
        if memo is not None and (key, n) in memo:
            return memo[(key, n)]
        top = len(units) - n + 1
        if char_cap is not None:
            top = min(top, char_cap)
        if token_mode:
            c = Counter(
                tuple(units[i:i + n]) for i in range(max(top, 0))
            )
        else:
            c = Counter(units[i:i + n] for i in range(max(top, 0)))
        if memo is not None:
            if len(memo) > 20000:
                memo.clear()
            memo[(key, n)] = c
        return c

    def score(b):
        memo: dict = {}
        out: dict = {name: [] for name in schema.names}
        for s, r, ct, rt in zip(b["source"], b["rid"], b["__c"], b["__r"]):
            ct, rt = ct or "", rt or ""  # null text == no grams
            cu = ct.split() if token_mode else ct
            ru = rt.split() if token_mode else rt
            for n in orders:
                cc = counts(cu, n)
                rc = counts(ru, n, memo, r)
                if len(cc) < len(rc):
                    m = sum(
                        min(k_c, rc[g])
                        for g, k_c in cc.items() if g in rc
                    )
                else:
                    m = sum(
                        min(k_r, cc[g])
                        for g, k_r in rc.items() if g in cc
                    )
                out["source"].append(s)
                out["n"].append(n)
                out["m"].append(m)
                out["t_ref"].append(sum(rc.values()))
                out["t_cand"].append(sum(cc.values()))
                if token_mode:
                    out["lc"].append(len(cu))
                    out["lr"].append(len(ru))
        return out

    return arrow_pass(pairs_txt, score, schema)


def doc_grams_arrow(
    docs: DataFrame,
    orders: tuple,
    key_col: str | None,
    key_ddl: str = "long",
    text_col: str = "text",
    shape: str = "doc_distinct",
) -> DataFrame:
    """Word n-gram rows for a (key, text) relation in ONE Arrow pass
    (r11, guide §4.2) — the construction core of the gram-statistics
    family (q_distinct_ngrams / q_ngram_novelty / q_contamination_ngrams).

    Why: building gram STRINGS with the JVM higher-order-function chain
    (``transform(sequence...) -> array_join(slice(w, i, n))``) is
    interpreted per element and dominated those keys' stage CPU
    (q_distinct_ngrams 13.9 executor-cpu-s at sf0.1, the suite's #3
    cost after round 10). Python ``' '.join(tokens[i:i+n])`` over an
    Arrow batch is the same exact strings at a fraction of the cost —
    the identical move as pair_clip_gram_counts (r10, measured 34 ->
    0.35 cpu-s on q_chrf_eval).

    Tokens come from ``str.split()`` (same semantics as
    ops.text.tokenize's trim+\\s+ on this corpus); grams are plain
    space-joins of token slices, and short/empty/null docs emit nothing,
    which is the DuckDB oracle's ``WHERE i + n - 1 <= len(w)`` guard
    exactly. One gram generator feeds a per-shape reducer; values follow
    the :func:`arrow_pass` contract.

    Shapes (``key_col=None`` drops the key column):

    - ``doc_distinct``: one row ``(key, g)`` per DISTINCT gram of each
      doc, single order ``orders[0]``. Valid because each input ROW is
      one document (the fixtures' doc_id is unique — checked at all 3
      SFs), so per-row dedup IS per-doc dedup and the caller's
      ``.distinct()`` exchange disappears.
    - ``batch_counts``: rows ``(key, n, g, c)`` — gram-occurrence
      counts per (key, n, g) aggregated over each Arrow batch; the
      caller's hash aggregate collapses residual cross-batch
      duplicates map-side before any exchange (same bytes as the JVM
      partial agg shipped, minus the construction cost).
    - ``doc_counts``: one row ``(key, n_grams)`` per doc with >= 1
      gram — the DISTINCT-gram count per doc of ``orders[0]``, for
      callers that need per-doc totals without the gram strings.
    """
    from collections import Counter

    import pyarrow as pa

    n0 = orders[0]

    def doc_tokens(b):
        keys = b[key_col] if key_col else [None] * len(b[text_col])
        return zip(keys, ((t or "").split() for t in b[text_col]))

    def grams(w, n):
        return [" ".join(w[i:i + n]) for i in range(len(w) - n + 1)]

    def batch_counts(b):
        cnt = Counter(
            (k, n, g) for k, w in doc_tokens(b) for n in orders for g in grams(w, n)
        )
        return {**_columns((key_col, "n", "g"), list(cnt)), "c": list(cnt.values())}

    def doc_distinct(b):
        ks: list = []
        gs: list = []
        for k, w in doc_tokens(b):
            seen = set(grams(w, n0))
            ks += [k] * len(seen)
            gs += seen
        return {key_col: ks, "g": gs}

    def doc_counts(b):
        rows = [(k, len(set(grams(w, n0)))) for k, w in doc_tokens(b) if len(w) >= n0]
        return _columns((key_col, "n_grams"), rows)

    reducers = {
        "batch_counts": (
            batch_counts,
            [("n", pa.int32()), ("g", pa.string()), ("c", pa.int64())],
        ),
        "doc_distinct": (doc_distinct, [("g", pa.string())]),
        "doc_counts": (doc_counts, [("n_grams", pa.int64())]),
    }
    if shape not in reducers:  # pragma: no cover - programming error
        raise ValueError(f"unknown shape {shape!r}")
    fn, fields = reducers[shape]
    schema = pa.schema(_key_fields(key_col, key_ddl) + fields)
    return arrow_pass(docs.select(*filter(None, (key_col, text_col))), fn, schema)


def span_corrupt_t5(docs: DataFrame, salt: int, mod: int) -> DataFrame:
    """T5 span corruption as ONE per-doc Arrow pass (r11, guide §4.2 —
    VERDICT r10 item 8): the whole transform is a pure function of
    (doc_id, text), so the token posexplode + two doc-keyed windows +
    sort-collect_list re-assembly (three corpus-token-sized operator
    waves and one exchange) collapse into a single MapInArrow node with
    ZERO shuffles — at 100 TB the objective runs inside the scan stage,
    the shape the docstring always promised ("the final map-shape pass
    before shard write").

    Exactness vs the unchanged DuckDB oracle: tokens come from
    ``str.split()`` (same semantics as ops.text.tokenize's trim+\\s+ on
    this corpus); the mask hash replicates ops.sampling.hash32 in
    uint64 numpy (every intermediate < 2^62, masks at & (2^32-1)
    exactly like pmod on non-negative keys); the rest is the
    :func:`arrow_pass` contract. Docs with zero tokens emit no row,
    mirroring the explode+groupBy form.

    Input: ``(doc_id long, text string)``. Output: one row per non-empty
    doc: ``(doc_id, n_tokens, n_masked, n_spans, inputs, targets)``.
    """
    import numpy as np
    import pyarrow as pa

    from etl_data_processor_spark.ops.sampling import M32, _A1, _A2

    mask32 = np.uint64(M32 - 1)
    a1 = np.uint64(_A1)
    a2 = np.uint64(_A2)
    s16 = np.uint64(16)
    s13 = np.uint64(13)

    schema = pa.schema(
        [
            ("doc_id", pa.int64()),
            ("n_tokens", pa.int64()),
            ("n_masked", pa.int64()),
            ("n_spans", pa.int64()),
            ("inputs", pa.string()),
            ("targets", pa.string()),
        ]
    )

    def transform(b):
        out: dict = {k: [] for k in schema.names}
        for did, txt in zip(b["doc_id"], b["text"]):
            toks = (txt or "").split()
            nt = len(toks)
            if nt == 0:
                continue
            # hash32(doc_id * salt + pos) % mod == 0, pos = 1..nt
            key = np.arange(1, nt + 1, dtype=np.uint64) + np.uint64(
                did * salt
            )
            h = key & mask32
            h = (h * a1) & mask32
            h = h ^ (h >> s16)
            h = (h * a2) & mask32
            h = h ^ (h >> s13)
            masked = (h % np.uint64(mod)) == 0
            prev = np.empty_like(masked)
            prev[0] = False
            prev[1:] = masked[:-1]
            span_start = masked & ~prev
            span_id = np.cumsum(span_start) - 1
            inp: list = []
            tgt: list = []
            for t, mk, st, sid in zip(
                toks, masked.tolist(), span_start.tolist(),
                span_id.tolist(),
            ):
                if not mk:
                    inp.append(t)
                elif st:
                    inp.append(f"<extra_id_{sid}>")
                    tgt.append(f"<extra_id_{sid}> {t}")
                else:
                    tgt.append(t)
            out["doc_id"].append(did)
            out["n_tokens"].append(nt)
            out["n_masked"].append(int(masked.sum()))
            out["n_spans"].append(int(span_start.sum()))
            out["inputs"].append(" ".join(inp))
            out["targets"].append(" ".join(tgt))
        return out

    return arrow_pass(docs.select("doc_id", "text"), transform, schema)
