"""Property-based tests (hypothesis): the Column-expression scalar ops must
agree with straightforward pure-Python reference implementations on random
inputs. Batched: hypothesis generates a corpus per test, one Spark job
checks all examples (per-example Spark jobs would be unusably slow)."""

from __future__ import annotations

import pytest

import math
import re

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from etl_data_processor_spark.ops import scalar as S

# printable text w/o surrogates, bounded size
TEXT = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), max_codepoint=0x2FF),
    max_size=60,
)


def py_classify(text: str) -> str | None:
    for pattern, label in S.DECISION_PATTERNS:
        if re.search(f"(?i){pattern}", text):
            return label
    return None


@settings(max_examples=30, deadline=None)
@given(st.lists(TEXT, min_size=1, max_size=60))
@pytest.mark.slow
def test_classify_matches_python(spark, texts):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, t string")
    got = {
        r.i: r.s
        for r in df.select(
            "i", S.classify_first_match(F.col("t"), S.DECISION_PATTERNS).alias("s")
        ).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == py_classify(t), repr(t)


@settings(max_examples=20, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=10**12), min_size=1, max_size=50))
@pytest.mark.slow
def test_ceil_div_matches_python(spark, ns):
    df = spark.createDataFrame([(i, n) for i, n in enumerate(ns)], "i long, n long")
    got = {r.i: r.p for r in df.select("i", S.ceil_div(F.col("n"), 25).alias("p")).collect()}
    for i, n in enumerate(ns):
        assert got[i] == math.ceil(n / 25) == -(-n // 25), n


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=31),
            st.sampled_from(list(S.DANISH_MONTHS)),
            st.integers(min_value=1900, max_value=2100),
        ),
        min_size=1,
        max_size=40,
    )
)
@pytest.mark.slow
def test_danish_date_normalization_matches_python(spark, dates):
    rows = [
        (i, f"Godkendt den {d}. {m} {y}") for i, (d, m, y) in enumerate(dates)
    ]
    df = spark.createDataFrame(rows, "i long, t string")
    got = {r.i: r.d for r in df.select("i", S.normalize_danish_date(F.col("t")).alias("d")).collect()}
    for i, (d, m, y) in enumerate(dates):
        assert got[i] == f"{y}-{S.DANISH_MONTHS[m]}-{d:02d}"


def py_sample_frames(b: bytes, every_k: int, frame_size: int):
    n_frames = (len(b) + frame_size - 1) // frame_size
    return {
        i: (b[i * frame_size : (i + 1) * frame_size], n_frames)
        for i in range(0, n_frames, every_k)
    }


@settings(max_examples=15, deadline=None)
@given(
    st.lists(st.binary(max_size=200), min_size=1, max_size=20),
    st.integers(min_value=1, max_value=5),
    st.integers(min_value=1, max_value=32),
)
@pytest.mark.slow
def test_sample_frames_matches_python(spark, blobs, every_k, frame_size):
    from etl_data_processor_spark.ops import multimodal as MM

    df = spark.createDataFrame(
        [(i, bytearray(b)) for i, b in enumerate(blobs)], "doc_id long, blob binary"
    )
    rows = MM.sample_frames(
        df, every_k=every_k, frame_size=frame_size
    ).collect()
    got = {}
    for r in rows:
        got.setdefault(r.doc_id, {})[r.frame_idx] = (
            bytes(r.frame_blob),
            r.n_frames_total,
        )
    for i, b in enumerate(blobs):
        assert got.get(i, {}) == py_sample_frames(b, every_k, frame_size), (
            repr(b), every_k, frame_size,
        )
