"""Round-11 pins (optimization round 2): every JVM->Arrow rewrite in this
round must produce BIT-IDENTICAL values to the expression chain it
replaced. Each test runs the kept reference implementation next to the
production path on the real corpus plus hostile edge rows (null text,
empty text, whitespace-only, sub-k docs, all-ties) and asserts null-safe
equality row by row.

- word_shingles: Arrow pass vs reference.word_shingles_expr
  (split+HOF+distinct).
- minhash signatures: numpy (a*h+b) % p per-doc mins vs the nested-HOF
  reference.minhash_sigs_expr.
- simhash: numpy bit-vote majority vs the zip_with accumulator chain.
- doc_grams_arrow: batch_counts / doc_distinct / doc_counts shapes vs
  the explode+HOF gram construction they replaced.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_data_processor_spark.ops import dedup as D
from etl_data_processor_spark.ops import text as T
from tests import reference as R

EDGE_ROWS = [
    (1, None),
    (2, ""),
    (3, "   "),
    (4, "a"),
    (5, "a b"),
    (6, "a b c"),
    (7, "a b c d a b c"),
    (8, "x  y   z w"),
    (9, "the the the the"),
    (10, "one two three four five six seven eight nine ten"),
]


@pytest.fixture(scope="module")
def edge(spark):
    return spark.createDataFrame(EDGE_ROWS, "doc_id int, text string")


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )


def test_word_shingles_arrow_matches_expr(spark, sf_dir, edge):
    for df in (edge, _docs(spark, sf_dir)):
        cmp = df.select(
            R.word_shingles_expr(F.col("text")).alias("o"),
            D.word_shingles(F.col("text")).alias("n"),
        )
        assert cmp.filter(~F.col("o").eqNullSafe(F.col("n"))).count() == 0


def test_minhash_sigs_arrow_matches_expr(spark, sf_dir, edge):
    p = (1 << 31) - 1
    params = D._affine_params(32, p)
    for df in (edge, _docs(spark, sf_dir)):
        hashed = D.with_shingles(df, "text", 3).withColumn(
            "__h",
            F.transform(
                F.col("shingles"),
                lambda s: F.xxhash64(s).bitwiseAND(F.lit(0x7FFFFFFF)),
            ),
        )
        cmp = hashed.select(
            R.minhash_sigs_expr(F.col("__h"), params, p).alias("o"),
            D._minhash_sigs_col(F.col("__h"), params, p).alias("n"),
        )
        assert cmp.filter(~F.col("o").eqNullSafe(F.col("n"))).count() == 0


def test_simhash_arrow_matches_expr(spark, sf_dir, edge):
    def _bit_value(bit):
        return (1 << bit) if bit < 63 else -(1 << 63)

    def old_simhash(text):
        toks = F.split(F.trim(F.lower(text)), r"\s+")
        hashes = F.transform(toks, lambda t: F.xxhash64(t))
        bitvals = F.array(
            *[F.lit(_bit_value(b)).cast("long") for b in range(64)]
        )
        votes = F.aggregate(
            hashes,
            F.array_repeat(F.lit(0).cast("long"), 64),
            lambda acc, h: F.zip_with(
                acc,
                bitvals,
                lambda a, m: a + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1),
            ),
        )
        return F.aggregate(
            F.zip_with(
                votes,
                bitvals,
                lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long")),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    for df in (edge, _docs(spark, sf_dir)):
        cmp = df.select(
            old_simhash(F.col("text")).alias("o"),
            D.simhash(F.col("text")).alias("n"),
        )
        assert cmp.filter(~F.col("o").eqNullSafe(F.col("n"))).count() == 0


def test_charfold_simhash_arrow_matches_expr(spark, sf_dir, edge):
    for df in (edge, _docs(spark, sf_dir)):
        toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
        h1 = F.transform(toks, lambda t: R.charfold(t, 31))
        h2 = F.transform(toks, lambda t: R.charfold(t, 37))
        st = D.charfold_simhash(F.col("text"), (31, 37))
        cmp = df.select(
            R.sig32(h1).alias("o_lo"),
            R.sig32(h2).alias("o_hi"),
            st.alias("st"),
        ).select(
            "o_lo", "o_hi",
            F.col("st.s0").alias("n_lo"), F.col("st.s1").alias("n_hi"),
        )
        bad = cmp.filter(
            ~(
                F.col("o_lo").eqNullSafe(F.col("n_lo"))
                & F.col("o_hi").eqNullSafe(F.col("n_hi"))
            )
        ).count()
        assert bad == 0


def test_token_poly_bucket_counts_matches_expr(spark, sf_dir, edge):
    from etl_data_processor_spark.ops.text import (
        char_poly_hash,
        token_poly_bucket_counts,
    )

    mod = 64
    for df in (edge, _docs(spark, sf_dir)):
        toks = df.select(
            "doc_id", F.explode(T.tokenize(F.col("text"))).alias("token")
        )
        bucket = F.pmod(char_poly_hash(F.col("token")), F.lit(mod))
        old = toks.select("doc_id", bucket.alias("bucket")).groupBy(
            "doc_id", "bucket"
        ).agg(F.count(F.lit(1)).alias("c"))
        new = token_poly_bucket_counts(df, mod, "doc_id", "long").groupBy(
            "doc_id", "bucket"
        ).agg(F.sum("c").alias("c"))
        assert old.exceptAll(new).count() == 0
        assert new.exceptAll(old).count() == 0
        # keyless shape == keyed totals
        old_tot = old.groupBy("bucket").agg(F.sum("c").alias("c"))
        new_tot = token_poly_bucket_counts(df, mod).groupBy("bucket").agg(
            F.sum("c").alias("c")
        )
        assert old_tot.exceptAll(new_tot).count() == 0
        assert new_tot.exceptAll(old_tot).count() == 0


def _gram_rows_expr(df, n):
    """The replaced JVM construction: per-doc gram explode (all
    occurrences) with the oracle's i + n - 1 <= len(w) guard."""
    w = T.tokenize(F.col("text"))
    arr = F.transform(
        T._one_to(F.size(w) - n + F.lit(1)),
        lambda i: F.array_join(F.slice(w, i, n), " "),
    )
    return df.select("doc_id", F.explode(arr).alias("g"))


def test_doc_grams_arrow_batch_counts_matches_explode(spark, sf_dir, edge):
    for df in (edge, _docs(spark, sf_dir)):
        old = (
            _gram_rows_expr(df, 2)
            .groupBy("doc_id", "g")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        new = (
            T.doc_grams_arrow(df, (2,), "doc_id", "long", shape="batch_counts")
            .groupBy("doc_id", "g")
            .agg(F.sum("c").alias("c"))
        )
        assert old.exceptAll(new).count() == 0
        assert new.exceptAll(old).count() == 0


def test_doc_grams_arrow_doc_distinct_and_counts(spark, sf_dir, edge):
    for df in (edge, _docs(spark, sf_dir)):
        old = _gram_rows_expr(df, 3).distinct()
        new = T.doc_grams_arrow(
            df, (3,), "doc_id", "long", shape="doc_distinct"
        )
        assert old.exceptAll(new).count() == 0
        assert new.exceptAll(old).count() == 0
        old_counts = old.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_grams")
        )
        new_counts = T.doc_grams_arrow(
            df, (3,), "doc_id", "long", shape="doc_counts"
        )
        assert old_counts.exceptAll(new_counts).count() == 0
        assert new_counts.exceptAll(old_counts).count() == 0
