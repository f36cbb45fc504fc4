"""Portable bloom-filter semi-join pruning.

The classic shuffle-join reducer: build a bloom filter over the SMALL
(already-filtered) side's join keys, and prune the BIG side with a
bit-test BEFORE it reaches the exchange — only potentially-matching rows
shuffle. Spark has a built-in runtime version
(spark.sql.optimizer.runtime.bloomFilter.enabled), but it only fires for
qualifying shapes and its filter is opaque; this one is explicit,
composable (the membership predicate is a plain Column usable in any
plan position), and PORTABLE — positions come from the same integer
mixer the sampling ops use (ops/sampling.py::hash32), so the pruned join
is bit-equal to the plain join on any engine and can be fully oracled.

Correctness does not depend on the filter at all: bloom filters have no
false negatives (every inserted key tests positive — it is pure
conjunction of bits that insertion set), so prune-then-exact-join equals
the plain join; false positives only cost wasted shuffle rows.

Scale shape: the filter is built DISTRIBUTED — keys explode to k bit
positions, positions fold to 64-bit words via a bit_or hash aggregate,
and the driver collects at most m/64 words (the filter size, NOT the key
count). The big side's test is k array-lookups + bit-tests per row in
one Arrow-batched numpy pass, filtered before the join; the words ship
in the UDF closure.

Reference parity: none (main.py:1-422 has no joins at scale); north-star
scope (SURVEY.md §2 join-family extension).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_data_processor_spark.ops.sampling import (
    _A1 as _A1_NP,
    _A2 as _A2_NP,
    hash32,
)


def _positions(key: Column, m_bits: int, k: int, seed: int) -> list[Column]:
    """k bit positions by double hashing: pos_i = (h1 + i*h2) mod m.
    h1, h2 < 2^32 and i*h2 < k*2^32 << 2^63 — no ANSI overflow."""
    h1 = hash32(key, seed)
    h2 = hash32(key, seed + 1)
    return [F.pmod(h1 + F.lit(i) * h2, F.lit(m_bits)) for i in range(k)]


def build_bloom(
    keys: DataFrame,
    key_col: str,
    m_bits: int = 1 << 16,
    k: int = 5,
    seed: int = 0,
) -> list[int]:
    """Bloom filter of ``keys[key_col]`` as ``m_bits/64`` words. One
    distributed pass: explode to positions, partial+final bit_or per word,
    collect m/64 rows max."""
    assert m_bits % 64 == 0
    pos = keys.select(
        F.explode(
            F.array(*_positions(F.col(key_col), m_bits, k, seed))
        ).alias("pos")
    ).distinct()
    rows = (
        pos.select(
            (F.col("pos") / 64).cast("long").alias("w"),
            # variable shift amounts need call_function (the python
            # wrappers only take literal numBits)
            F.call_function(
                "shiftleft",
                F.lit(1).cast("long"),
                (F.col("pos") % 64).cast("int"),
            ).alias("bit"),
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("word"))
        .collect()
    )
    words = [0] * (m_bits // 64)
    for r in rows:
        words[r["w"]] = r["word"]
    return words


def might_contain_batch(
    words: list[int], m_bits: int, k: int = 5, seed: int = 0
):
    """Membership test as an Arrow-vectorized pandas UDF: TRUE for every
    inserted key (no false negatives), false-positive rate
    ~(1-e^{-kn/m})^k.

    Numpy batch ops rather than expressions: the k-probe AND chain of
    array lookups and bit-tests (``might_contain`` in tests/reference.py)
    drops out of whole-stage codegen and evaluates interpreted (measured
    ~3 µs/row — 35 s over a 12M-row fact, vs ~0.5 s here). Same trade as
    ops/similarity's lsh_signatures_batch: the numpy path computes the
    identical integer mixer (numpy int64 mod/multiply/shift replicate
    hash32's pmod semantics exactly — parity pinned by test)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    W = np.array(words, dtype=np.int64).astype(np.uint64)
    M32 = np.int64(1 << 32)
    A1 = np.int64(_A1_NP)
    A2 = np.int64(_A2_NP)

    def mix(x: "np.ndarray", s: int) -> "np.ndarray":
        h = np.mod(x + np.int64((s * 0x9E3779B9) % (1 << 63)), M32)
        h = np.mod(h * A1, M32)
        h = h ^ (h >> np.int64(16))
        h = np.mod(h * A2, M32)
        return h ^ (h >> np.int64(13))

    def _test(keys):
        x = keys.to_numpy(dtype=np.int64)
        h1 = mix(x, seed)
        h2 = mix(x, seed + 1)
        ok = np.ones(len(x), dtype=bool)
        for i in range(k):
            pos = np.mod(h1 + np.int64(i) * h2, np.int64(m_bits))
            bit = (
                W[pos >> np.int64(6)]
                >> (pos.astype(np.uint64) & np.uint64(63))
            ) & np.uint64(1)
            ok &= bit.astype(bool)
        return pd.Series(ok)

    # real annotation OBJECTS (this module uses future-annotations, so
    # inline hints stringify and pyspark cannot resolve 'pd.Series')
    _test.__annotations__ = {"keys": pd.Series, "return": pd.Series}
    return pandas_udf(_test, "boolean")


def bloom_pruned_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    m_bits: int = 1 << 16,
    k: int = 5,
    seed: int = 0,
    how: str = "inner",
) -> DataFrame:
    """fact ⋈ dim with the fact side bloom-pruned on the dim's key set
    first. Result == plain join (no false negatives); the win is that
    non-matching fact rows die at the scan instead of crossing the
    exchange — at 100 TB a 1%-selective dim turns a full-fact shuffle
    into a 1%-fact shuffle for the price of one pass over the dim.

    Only match-reducing join types are sound: pruning drops fact rows
    that cannot match, which changes the RESULT of left/full/anti
    joins (a left join must keep non-matching fact rows; an anti join
    returns exactly the rows pruning removes). Those types are
    rejected."""
    if how not in ("inner", "left_semi", "semi", "leftsemi", "cross"):
        raise ValueError(
            f"bloom_pruned_join is only sound for match-reducing joins "
            f"(inner/semi); got how={how!r} — pruning would change the "
            "result of outer/anti joins"
        )
    words = build_bloom(dim.select(dim_key), dim_key, m_bits, k, seed)
    pred = might_contain_batch(words, m_bits, k, seed)(F.col(fact_key))
    pruned = fact.filter(pred)
    return pruned.join(dim, pruned[fact_key] == dim[dim_key], how)
