"""Property tests (SURVEY.md §5.2): results must be invariant to physical
layout — repartitioning must never change any declared query's result
multiset. This is the local stand-in for 'stable under cluster re-planning'.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from etl_data_processor_spark.io import Catalog

# Queries whose plans start from Catalog tables; we rerun them against a
# repartition-scrambled copy of the inputs and compare result multisets.
PARTITION_INVARIANT_SAMPLE = [
    "q_agg_group",
    "q_join_star",
    "q_dedup",
    "q_win_running",
    "q_dedup_minhash",
    "q_cosine_topk",
    "q_flagship_q3",
    # round-2 extension batch: window/sampling/stat ops must not depend on
    # physical layout either (the deterministic-sampling and decimal-moment
    # designs exist precisely for this property)
    "q_interval_merge",
    "q_group_sample_topk",
    "q_emb_quantize",
    "q_corr_exact",
    "q_agg_incremental",
    # round-2 batch #2/#3: sketch, similarity-join and trend ops — the
    # portable-hash and exact-moments designs promise layout independence
    "q_sketch_hll_portable",
    "q_jaccard_join_prefix",
    "q_trend_ols",
    "q_sliding_distinct_hll",
]


def test_prefix_filter_equals_bruteforce_on_random_corpora(spark):
    """The prefix-filtering lemma implementation must equal brute force on
    adversarial random corpora — small vocabularies force heavy
    global-frequency TIES, the place where a wrong rank order silently
    breaks recall (the fixture gate can't exercise this)."""
    import random

    from pyspark.sql import functions as F

    from etl_data_processor_spark.ops.dedup import (
        exact_jaccard,
        prefix_filter_jaccard_pairs,
    )

    for seed in [1, 7, 42]:
        rng = random.Random(seed)
        vocab = [f"t{i}" for i in range(6)]
        docs = []
        for i in range(14):
            n = rng.randint(1, 6)
            docs.append((i, sorted(rng.sample(vocab, n))))
        tk = spark.createDataFrame(docs, "doc_id long, toks array<string>")
        got = {
            (r["id_a"], r["id_b"])
            for r in prefix_filter_jaccard_pairs(
                tk, "doc_id", "toks", (7, 10)
            ).collect()
        }
        a = tk.select(F.col("doc_id").alias("id_a"), F.col("toks").alias("ta"))
        b = tk.select(F.col("doc_id").alias("id_b"), F.col("toks").alias("tb"))
        brute = {
            (r["id_a"], r["id_b"])
            for r in a.crossJoin(b)
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(exact_jaccard(F.col("ta"), F.col("tb")) >= 0.7)
            .collect()
        }
        assert got == brute, (seed, got ^ brute)


def test_jaro_winkler_matches_duckdb_on_random_strings(spark):
    """The Python Jaro-Winkler must reproduce DuckDB's C++ implementation
    on adversarial random strings (repeats, shared prefixes, length
    skew) — not just the fixture vocabulary."""
    import math
    import random

    import duckdb

    from etl_data_processor_spark.queries_ext2 import _jaro_winkler

    rng = random.Random(5)
    alpha = "abcde"
    strs = [
        "".join(rng.choice(alpha) for _ in range(rng.randint(0, 9)))
        for _ in range(60)
    ]
    con = duckdb.connect()
    for a in strs[:30]:
        for b in strs[30:]:
            duck = con.sql(
                "SELECT jaro_winkler_similarity(?, ?)", params=[a, b]
            ).fetchone()[0]
            mine = _jaro_winkler(a, b)
            r6 = lambda x: math.floor(x * 1e6 + 0.5) / 1e6  # noqa: E731
            assert r6(duck) == r6(mine), (a, b, duck, mine)


def canon(rows, cols):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])

    def cell(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else repr(v)
        return str(v)

    return sorted("|".join(cell(r[i]) for i in idx) for r in rows)


@pytest.fixture(scope="module")
def scrambled_sf_dir(spark, sf_dir, tmp_path_factory):
    """Rewrite every fixture table with a scrambled partitioning (5 parts,
    round-robin) — same rows, different physical layout."""
    out = str(tmp_path_factory.mktemp("scrambled"))
    cat = Catalog(spark, sf_dir)
    from etl_data_processor_spark.io import TABLES

    for t in TABLES:
        df = cat.table(t)
        if t == "events":
            # write ts as long nanos again? No — write as-is (timestamp),
            # Catalog handles both layouts.
            pass
        df.repartition(5).write.parquet(f"{out}/{t}.parquet")
    return out


@pytest.mark.parametrize("name", PARTITION_INVARIANT_SAMPLE)
def test_result_invariant_under_repartition(name, spark, sf_dir, scrambled_sf_dir):
    q = entry_mod.queries()[name]
    a = q(spark, sf_dir)
    b = q(spark, scrambled_sf_dir)
    ra, rb = a.collect(), b.collect()
    assert sorted(a.columns) == sorted(b.columns)
    assert canon(ra, a.columns) == canon(rb, b.columns)


def test_hll_sketch_merge_properties(spark, sf_dir):
    """The three properties that make sketches safe at 100 TB: (1) the
    estimate is partition-invariant (register maxima are order-free), (2)
    union-of-parts equals sketch-of-whole exactly (not just approximately),
    (3) the estimate tracks the exact count within HLL error bounds."""
    from pyspark.sql import functions as F

    from etl_data_processor_spark.io import Catalog
    from etl_data_processor_spark.ops import sketches as SK

    o = Catalog(spark, sf_dir).orders
    whole = SK.hll_merge(
        SK.hll_partial(o, ["o_orderstatus"], "o_custkey")
    ).collect()[0].distinct_est
    parts_fine = SK.hll_partial(
        o, ["o_orderstatus", "o_orderpriority"], "o_custkey"
    )
    merged = SK.hll_merge(parts_fine).collect()[0].distinct_est
    assert merged == whole  # union associativity: exact register equality

    repart = SK.hll_merge(
        SK.hll_partial(o.repartition(13, "o_orderkey"), ["o_orderstatus"], "o_custkey")
    ).collect()[0].distinct_est
    assert repart == whole  # partition-invariance

    exact = o.select(F.countDistinct("o_custkey")).collect()[0][0]
    assert abs(whole - exact) / exact < 0.05


def test_quantize_reconstruction_error_bound(spark, sf_dir):
    """int8 quantization invariant: round-half-up guarantees the
    reconstruction error |x - q*scale/127| <= scale/127/2 + ulp slack for
    every element of every vector — the bound that makes the 4x compression
    safe for ANN recall. Checked exhaustively over the fixture embeddings
    with a single all-elements aggregate (no per-row Python)."""
    from etl_data_processor_spark.ops.similarity import stable_round6  # noqa: F401

    e = Catalog(spark, sf_dir).embeddings
    mx = F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double"))))
    v = e.select("vec_id", "embedding", mx.alias("mx")).filter(F.col("mx") > 0)
    err = F.transform(
        "embedding",
        lambda x: F.abs(
            x.cast("double")
            - F.floor(x.cast("double") / F.col("mx") * 127.0 + 0.5)
            * F.col("mx")
            / 127.0
        ),
    )
    worst = v.select(
        (F.array_max(err) / (F.col("mx") / 127.0)).alias("rel")
    ).agg(F.max("rel").alias("worst")).collect()[0].worst
    assert worst <= 0.5 + 1e-9, worst


def test_interval_merge_islands_are_maximal(spark, sf_dir):
    """Structural invariant of q_interval_merge: within a user, merged
    islands are disjoint AND separated by a real gap (next start strictly
    after previous end) — i.e. the merge is maximal, no two output islands
    could have been coalesced further."""
    out = entry_mod.queries()["q_interval_merge"](spark, sf_dir)
    rows = sorted(
        ((r.user_id, r.start_us, r.end_us) for r in out.collect())
    )
    by_user: dict = {}
    for u, s, e in rows:
        assert s <= e
        by_user.setdefault(u, []).append((s, e))
    gaps_checked = 0
    for u, spans in by_user.items():
        for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
            assert s2 > e1, (u, e1, s2)  # disjoint AND non-mergeable
            gaps_checked += 1
    assert gaps_checked > 0


def test_cms_merge_and_overestimate_properties(spark, sf_dir):
    """Count-min invariants: (1) the per-slice sketches' summed counters
    are IDENTICAL to the whole-data sketch (counters are plain sums — the materialize-once /
    merge-later contract); (2) the estimate never underestimates, for EVERY
    key (collisions only add)."""
    from etl_data_processor_spark.ops import sketches as SK

    ev = Catalog(spark, sf_dir).events

    whole = SK.cms_partial(ev, [], F.col("user_id"))
    parts = (
        SK.cms_partial(ev.filter(F.col("event_id") % 2 == 0), [], F.col("user_id"))
        .unionByName(
            SK.cms_partial(
                ev.filter(F.col("event_id") % 2 == 1), [], F.col("user_id")
            )
        )
        .groupBy("cms_row", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    a = {(r.cms_row, r.bucket): r.cnt for r in whole.collect()}
    b = {(r.cms_row, r.bucket): r.cnt for r in parts.collect()}
    assert a == b  # exact mergeability

    truec = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("true_cnt"))
    est = SK.cms_estimate(whole, truec.select("user_id"), "user_id")
    joined = truec.join(est, "user_id")
    viol = joined.filter(F.col("est_cnt") < F.col("true_cnt")).count()
    assert viol == 0  # CMS never underestimates
