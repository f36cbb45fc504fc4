"""Round-6 batch-2 tests (B66): inverted index, hybrid RRF, unigram
Viterbi, Fellegi–Sunter EM.

Differential strategy as in test_r5_ops/test_r6_ops: each operator is
compared against an independent pure-Python reference on RANDOM input
(tiny alphabet → heavy collisions and ties), not just the fixture; the
fixture-level value proof is the DuckDB oracle differential in the sweep.
"""

from __future__ import annotations

import math
import random
from collections import Counter

import pytest
from pyspark.sql import functions as F

from etl_data_processor_spark.ops.text import (
    unigram_viterbi,
    unigram_vocab_scores,
)


# --- unigram Viterbi -------------------------------------------------------


def _py_best_segmentation(word, score_of, max_piece=4):
    """Brute-force reference: enumerate EVERY vocab segmentation, pick by
    (max score, min n_tokens, lexicographically greatest reversed
    piece-length sequence) — the documented tie policy."""
    segs = []

    def rec(pos, lens, pieces, score):
        if pos == len(word):
            segs.append((score, len(pieces), lens[:], pieces[:]))
            return
        for l in range(1, max_piece + 1):
            if pos + l > len(word):
                break
            p = word[pos : pos + l]
            if p in score_of:
                lens.append(l)
                pieces.append(p)
                rec(pos + l, lens, pieces, score + score_of[p])
                lens.pop()
                pieces.pop()

    rec(0, [], [], 0)
    assert segs, f"no vocab segmentation for {word!r}"
    return max(segs, key=lambda s: (s[0], -s[1], list(reversed(s[2]))))


def test_unigram_viterbi_random_differential(spark):
    rng = random.Random(1234)
    alphabet = "abc"
    words = sorted(
        {
            "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 9)))
            for _ in range(120)
        }
    )
    wcounts = {w: rng.randint(1, 50) for w in words}
    wdf = spark.createDataFrame(
        [(w, c) for w, c in wcounts.items()], "word string, wcount long"
    )
    score_of = unigram_vocab_scores(wdf, max_piece=4, top_multi=16)
    # vocabulary invariants: full char coverage + bounded multi budget
    assert all(c in score_of for c in set("".join(words)))
    assert sum(1 for p in score_of if len(p) >= 2) <= 16
    assert all(s < 0 for s in score_of.values())

    got = {
        r["word"]: (r["n_tokens"], r["pieces"], r["score_q"])
        for r in unigram_viterbi(wdf, score_of, max_piece=4).collect()
    }
    assert set(got) == set(words)
    for w in words:
        score, ntok, _lens, pieces = _py_best_segmentation(w, score_of)
        assert got[w] == (ntok, "|".join(pieces), score), w


def test_unigram_viterbi_vocab_scores_reference(spark):
    """Vocabulary scores match an independent pure-Python count."""
    rows = [("aba", 2), ("bab", 1), ("aa", 3)]
    wdf = spark.createDataFrame(rows, "word string, wcount long")
    score_of = unigram_vocab_scores(wdf, max_piece=3, top_multi=4)
    cnt = Counter()
    for w, c in rows:
        for s in range(len(w)):
            for l in range(1, 4):
                if s + l <= len(w):
                    cnt[w[s : s + l]] += c
    chars = {p for p in cnt if len(p) == 1}
    multi = sorted(
        (p for p in cnt if len(p) >= 2),
        key=lambda p: (-cnt[p], p),
    )[:4]
    vocab = chars | set(multi)
    total = sum(cnt[p] for p in vocab)
    expected = {
        p: math.floor(math.log(cnt[p] / total) * 1e9) for p in vocab
    }
    assert score_of == expected


# --- inverted index --------------------------------------------------------


def test_inverted_index_roundtrip(spark, sf_dir):
    """Decoding the gap lists reconstructs exactly the per-token sorted
    doc-id postings recomputed naively from the corpus."""
    from etl_data_processor_spark.queries_r6b import (
        _IDX_BLOCK,
        q_inverted_index,
    )

    idx = q_inverted_index(spark, sf_dir).collect()
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    )
    truth: dict[tuple, Counter] = {}
    for r in docs:
        for tok in r["text"].split(" "):
            if tok:
                key = (tok, r["doc_id"] // _IDX_BLOCK)
                truth.setdefault(key, Counter())[r["doc_id"]] += 1
    assert {(r["token"], r["block"]) for r in idx} == set(truth)
    for r in idx:
        post = truth[(r["token"], r["block"])]
        ids = sorted(post)
        # decode: prefix-sum of gaps from the block base
        decoded, cur = [], r["block"] * _IDX_BLOCK
        for g in r["doc_gaps"]:
            cur += g
            decoded.append(cur)
        assert decoded == ids
        assert list(r["tfs"]) == [post[i] for i in ids]
        assert r["df"] == len(ids)
        assert r["cf"] == sum(post.values())
        # every gap after the first is >= 1; the first is >= 0 in-block
        assert all(g >= 1 for g in r["doc_gaps"][1:])
        assert 0 <= r["doc_gaps"][0] < _IDX_BLOCK if ids else True


# --- hybrid RRF ------------------------------------------------------------


def test_hybrid_rrf_fusion_consistency(spark, sf_dir):
    """RRF scores recompute exactly from the leg ranks, the fused rank
    follows the quantized score with doc_id tiebreak, and every leg
    winner (rank 1) appears in the fused top-10."""
    from etl_data_processor_spark.queries_r6b import (
        _FUSED_K,
        _LEG_K,
        _RRF_K,
        q_hybrid_rrf,
    )

    rows = q_hybrid_rrf(spark, sf_dir).collect()
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 1, 2}
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r["fused_rank"])
        assert [r["fused_rank"] for r in rs] == list(
            range(1, _FUSED_K + 1)
        )
        prev = None
        for r in rs:
            expect = 0.0
            if r["lex_rank"] is not None:
                assert 1 <= r["lex_rank"] <= _LEG_K
                expect += 1.0 / (_RRF_K + r["lex_rank"])
            if r["vec_rank"] is not None:
                assert 1 <= r["vec_rank"] <= _LEG_K
                expect += 1.0 / (_RRF_K + r["vec_rank"])
            assert r["rrf6"] == pytest.approx(expect, abs=1e-6)
            assert r["doc_id"] != qid  # self excluded from both legs
            key = (-math.floor(expect * 1e12 + 0.5), r["doc_id"])
            assert prev is None or key > prev
            prev = key
        # a leg winner scores >= 1/61 alone — always inside the top 10
        assert any(r["lex_rank"] == 1 for r in rs)
        assert any(r["vec_rank"] == 1 for r in rs)


# --- Fellegi–Sunter EM -----------------------------------------------------


def _py_fs_em(patterns, iters=2):
    """Pure-Python reference of the quantized EM in queries_r6b:
    posteriors as 1e-12 fixed-point ints, ratio-of-exact-integer
    M-steps, clamp to [1e-6, 0.999999]."""

    def qz12(x):
        return math.floor(x * 1e12 + 0.5) / 1e12

    def clamp(x):
        return min(max(qz12(x), 1e-6), 0.999999)

    lam, m, u = 0.1, [0.9] * 3, [0.1] * 3

    def estep():
        out = {}
        for g, n in patterns.items():
            pm = lam
            pu = 1.0 - lam
            for i in range(3):
                pm = pm * (m[i] if g[i] else 1.0 - m[i])
                pu = pu * (u[i] if g[i] else 1.0 - u[i])
            out[g] = math.floor(pm / (pm + pu) * 1e12 + 0.5)
        return out

    for _ in range(iters):
        wq = estep()
        S = sum(wq[g] * n for g, n in patterns.items())
        T = sum(patterns.values())
        V = sum((10**12 - wq[g]) * n for g, n in patterns.items())
        lam = clamp(S / (T * 1e12))
        m = [
            clamp(
                sum(wq[g] * n for g, n in patterns.items() if g[i]) / S
            )
            for i in range(3)
        ]
        u = [
            clamp(
                sum(
                    (10**12 - wq[g]) * n
                    for g, n in patterns.items()
                    if g[i]
                )
                / V
            )
            for i in range(3)
        ]
    return lam, m, u, estep()


@pytest.mark.slow
def test_fs_em_random_differential(spark):
    """The in-engine EM (DataFrame ops) equals the pure-Python quantized
    EM on random pattern tables — including posteriors and weights."""
    from tests.reference import fs_estep, fs_mstep

    rng = random.Random(99)
    for trial in range(3):
        patterns = {
            g: rng.randint(1, 10_000)
            for g in [
                (a, b, c)
                for a in (0, 1)
                for b in (0, 1)
                for c in (0, 1)
            ]
            if rng.random() > 0.2
        }
        if not patterns:
            continue
        pat = spark.createDataFrame(
            [(g[0], g[1], g[2], n) for g, n in patterns.items()],
            "g1 int, g2 int, g3 int, n long",
        )
        p0 = spark.range(1).select(
            F.lit(0.1).alias("lam"),
            F.lit(0.9).alias("m1"), F.lit(0.9).alias("m2"),
            F.lit(0.9).alias("m3"),
            F.lit(0.1).alias("u1"), F.lit(0.1).alias("u2"),
            F.lit(0.1).alias("u3"),
        )
        p1 = fs_mstep(fs_estep(pat, p0))
        p2 = fs_mstep(fs_estep(pat, p1))
        ef = {
            (r["g1"], r["g2"], r["g3"]): r["wq"]
            for r in fs_estep(pat, p2).collect()
        }
        prow = p2.collect()[0]
        lam, m, u, wq = _py_fs_em(patterns)
        assert prow["lam"] == pytest.approx(lam, abs=1e-12), trial
        for i in range(3):
            assert prow[f"m{i + 1}"] == pytest.approx(m[i], abs=1e-12)
            assert prow[f"u{i + 1}"] == pytest.approx(u[i], abs=1e-12)
        assert ef == wq


def test_fs_em_fixture_semantics(spark, sf_dir):
    """On the clean-vs-dirty fixture: the all-agree pattern must carry the
    highest match weight and a ~1 posterior; the no-agreement pattern the
    lowest weight and ~0 posterior; lambda is shared by all rows."""
    from etl_data_processor_spark.queries_r6b import q_linkage_fs_em

    rows = q_linkage_fs_em(spark, sf_dir).collect()
    assert rows
    by_g = {(r["g_name"], r["g_bal"], r["g_seg"]): r for r in rows}
    top = by_g.get((1, 1, 1))
    assert top is not None
    assert top["weight6"] == max(r["weight6"] for r in rows)
    assert top["posterior6"] > 0.99
    worst = min(rows, key=lambda r: (r["g_name"], r["g_bal"], r["g_seg"]))
    if (worst["g_name"], worst["g_bal"], worst["g_seg"]) == (0, 0, 0):
        assert worst["weight6"] == min(r["weight6"] for r in rows)
        assert worst["posterior6"] < 0.01
    assert len({r["lambda6"] for r in rows}) == 1
    # weights are monotone in the agreement vector (adding an agreement
    # can only raise the weight when m_i > u_i — true on this fixture)
    for g, r in by_g.items():
        for i in range(3):
            if g[i] == 0:
                up = (*g[:i], 1, *g[i + 1 :])
                if up in by_g:
                    assert by_g[up]["weight6"] > r["weight6"]
