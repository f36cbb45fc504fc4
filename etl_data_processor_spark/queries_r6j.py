"""Round-6 capstone (B74): the composed SELECTION pipeline — the
round-6 layer end to end in one declarative plan.

q_selection_pipeline chains six operators this round shipped
individually: character-entropy gibberish gate -> length-quantile gate
-> exact dedup -> n-gram benchmark decontamination -> DSIR importance
selection -> deterministic shard placement, emitting the final per-doc
selection manifest. The point is the COMPOSITION: every stage's output
feeds the next inside one DAG (no materialization between stages), and
the DuckDB oracle replays the identical chain, so the differential
proves the stage INTERACTIONS (gate-then-quantile ordering, dedup
survivors feeding contamination, contamination survivors feeding the
raw-side DSIR distribution), not just each stage alone.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_data_processor_spark.ops.dedup import normalize_text
from etl_data_processor_spark.ops.relational import ranked_topk
from etl_data_processor_spark.ops.sampling import hash32, hash32_sql
from etl_data_processor_spark.ops.text import char_poly_hash_sql
from etl_data_processor_spark.registry import cat as _cat
from etl_data_processor_spark.registry import q

_SQL_TOKENS = "list_filter(string_split(trim(text), ' '), t -> t <> '')"

_SEL_REF = "src0"      # benchmark / target-domain source
_SEL_ENT_MIN = 2.0     # entropy gate (bits)
_SEL_CONTAM_TAU = 0.2  # trigram-overlap drop threshold
_SEL_BUCKETS = 64      # DSIR hashed-feature buckets
_SEL_TOP_K = 100       # selection budget
_SEL_SHARDS = 4

_H = char_poly_hash_sql("token")

_SEL_ORACLE = f"""
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
g1 AS (
    SELECT d.doc_id, d.source, d.text, d.n_chars
    FROM documents d JOIN ent USING (doc_id)
    WHERE ent.eq >= {_SEL_ENT_MIN} * 1000000000000.0
),
cuts AS (
    SELECT quantile_cont(n_chars, 0.05) AS lo,
           quantile_cont(n_chars, 0.95) AS hi
    FROM g1
),
g2 AS (
    SELECT g1.* FROM g1, cuts
    WHERE CAST(n_chars AS DOUBLE) >= cuts.lo
      AND CAST(n_chars AS DOUBLE) <= cuts.hi
),
keep AS (
    SELECT MIN(doc_id) AS doc_id FROM (
        SELECT doc_id,
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
        FROM g2
    ) GROUP BY norm
),
g3 AS (SELECT g2.* FROM g2 JOIN keep USING (doc_id)),
bgrams AS (
    SELECT DISTINCT list_aggregate(w[i:i+2], 'string_agg', ' ') AS g
    FROM (SELECT {_SQL_TOKENS} AS w FROM documents
          WHERE source = '{_SEL_REF}') t, range(1, 4097) r(i)
    WHERE i + 2 <= len(w)
),
cand0 AS (SELECT * FROM g3 WHERE source <> '{_SEL_REF}'),
cgrams AS (
    SELECT doc_id, list_aggregate(w[i:i+2], 'string_agg', ' ') AS g
    FROM (SELECT doc_id, {_SQL_TOKENS} AS w FROM cand0) t,
         range(1, 4097) r(i)
    WHERE i + 2 <= len(w)
    GROUP BY doc_id, g
),
contam AS (
    SELECT c.doc_id,
           CAST(COUNT(*) AS BIGINT) AS ng,
           CAST(COUNT(b.g) AS BIGINT) AS nh
    FROM cgrams c LEFT JOIN bgrams b USING (g)
    GROUP BY c.doc_id
),
g4 AS (
    SELECT cand0.* FROM cand0 JOIN contam USING (doc_id)
    WHERE CAST(nh AS DOUBLE) / CAST(ng AS DOUBLE) <= {_SEL_CONTAM_TAU}
),
ttoks AS (
    SELECT unnest({_SQL_TOKENS}) AS token FROM documents
    WHERE source = '{_SEL_REF}'
),
rtoks AS (
    SELECT doc_id, unnest({_SQL_TOKENS}) AS token FROM g4
),
vocab AS (
    SELECT token, ({_H}) % {_SEL_BUCKETS} AS bucket FROM (
        SELECT DISTINCT token FROM (
            SELECT token FROM ttoks UNION ALL SELECT token FROM rtoks
        )
    )
),
tgt AS (
    SELECT v.bucket, CAST(COUNT(*) AS BIGINT) AS c
    FROM ttoks t JOIN vocab v USING (token) GROUP BY v.bucket
),
raw AS (
    SELECT v.bucket, CAST(COUNT(*) AS BIGINT) AS c
    FROM rtoks r JOIN vocab v USING (token) GROUP BY v.bucket
),
tot AS (
    SELECT (SELECT SUM(c) FROM tgt) AS nt, (SELECT SUM(c) FROM raw) AS nr
),
lr AS (
    SELECT g.i AS bucket,
           CAST(FLOOR(
               LN(((COALESCE(t.c, 0) + 1.0) / (tot.nt + {_SEL_BUCKETS}.0))
                  / ((COALESCE(r.c, 0) + 1.0) / (tot.nr + {_SEL_BUCKETS}.0)))
               * 1000000000000.0 + 0.5) AS BIGINT) AS lr_q
    FROM range(0, {_SEL_BUCKETS}) g(i)
    LEFT JOIN tgt t ON t.bucket = g.i
    LEFT JOIN raw r ON r.bucket = g.i
    CROSS JOIN tot
),
scored AS (
    SELECT r.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(lr.lr_q) AS BIGINT) AS lw_q
    FROM rtoks r JOIN vocab v USING (token) JOIN lr ON v.bucket = lr.bucket
    GROUP BY r.doc_id
),
sel AS (
    SELECT s.doc_id, g4.source, s.n_tokens, s.lw_q,
           CAST(ROW_NUMBER() OVER (ORDER BY s.lw_q DESC, s.doc_id ASC)
                AS INTEGER) AS sel_rank
    FROM scored s JOIN g4 USING (doc_id)
    QUALIFY sel_rank <= {_SEL_TOP_K}
)
SELECT doc_id, source, n_tokens,
       CAST(FLOOR(CAST(lw_q AS DOUBLE) / 1000000.0 + 0.5) AS DOUBLE)
           / 1000000.0 AS lw6,
       sel_rank,
       CAST(({hash32_sql("doc_id")}) % {_SEL_SHARDS} AS INTEGER) AS shard
FROM sel
"""


def entropy_gate(docs):
    """Stage 1: doc_ids whose character entropy is >= 2.0 bits
    (q_char_entropy_filter's integer rule). The eq comes from
    ops.text.char_entropy_q12, ONE vectorized Arrow pass (r10; it
    replaced a char explode -> two hash aggs -> join chain that cost 8
    executor-cpu-seconds of this capstone's 53)."""
    from etl_data_processor_spark.ops.text import char_entropy_q12

    return (
        docs.select("doc_id", char_entropy_q12(F.col("text")).alias("eq"))
        .filter(F.col("eq") >= F.lit(_SEL_ENT_MIN) * F.lit(1e12))
        .select("doc_id")
    )


def length_gate(g1, cuts):
    """Stage 2: the rows of ``g1`` inside the ``cuts`` (lo, hi)."""
    nc = F.col("n_chars").cast("double")
    return g1.crossJoin(F.broadcast(cuts)).filter(
        (nc >= F.col("lo")) & (nc <= F.col("hi"))
    ).drop("lo", "hi")


def decontaminate(cand0, bench):
    """Stage 4: doc_ids of ``cand0`` whose distinct-trigram overlap with
    ``bench`` is <= 0.2 (the q_contamination_ngrams rule). r11 (guide
    §4.2 + §2.4): trigrams come from ops.text.doc_grams_arrow (the
    interpreted JVM HOF chain was this capstone's heaviest stage), and
    per-doc dedup rides inside the candidate pass (doc_id unique at all
    SFs), deleting the (doc_id, g) distinct exchange."""
    from etl_data_processor_spark.ops.text import doc_grams_arrow

    cgrams = doc_grams_arrow(cand0, (3,), "doc_id", "long", shape="doc_distinct")
    return (
        cgrams.join(F.broadcast(bench.withColumn("__h", F.lit(1))), "g", "left")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("ng"), F.count("__h").alias("nh"))
        .filter(
            F.col("nh").cast("double") / F.col("ng").cast("double")
            <= _SEL_CONTAM_TAU
        )
        .select("doc_id")
    )


def dsir_log_ratios(tgt_docs, bt):
    """Stage 5's model: the 64-row DSIR log-ratio table (bucket, lr_q),
    target LM from ``tgt_docs``' hashed unigrams, raw LM from the
    candidates' (doc_id, bucket, c) counts ``bt``; +1 smoothing, each
    log ratio quantized to a 1e-12 integer. Bucket assignment is a PURE
    function of the token: ops.text.token_poly_bucket_counts runs
    tokenize + the char fold + pmod + count in one Arrow pass per
    stream (r11, guide §4.2)."""
    from etl_data_processor_spark.ops.text import token_poly_bucket_counts

    tgt = (
        token_poly_bucket_counts(tgt_docs, _SEL_BUCKETS)
        .groupBy("bucket")
        .agg(F.sum("c").alias("ct"))
    )
    raw = bt.groupBy("bucket").agg(F.sum("c").alias("cr"))
    tots = tgt.agg(F.sum("ct").alias("nt")).crossJoin(
        raw.agg(F.sum("cr").alias("nr"))
    )
    grid = bt.sparkSession.range(_SEL_BUCKETS).select(
        F.col("id").cast("long").alias("bucket")
    )
    ratio = (
        (F.coalesce(F.col("ct"), F.lit(0)) + F.lit(1.0))
        / (F.col("nt") + F.lit(float(_SEL_BUCKETS)))
    ) / (
        (F.coalesce(F.col("cr"), F.lit(0)) + F.lit(1.0))
        / (F.col("nr") + F.lit(float(_SEL_BUCKETS)))
    )
    return (
        grid.join(tgt, "bucket", "left")
        .join(raw, "bucket", "left")
        .crossJoin(F.broadcast(tots))
        .select(
            "bucket",
            F.floor(F.log(ratio) * F.lit(1e12) + F.lit(0.5))
            .cast("long")
            .alias("lr_q"),
        )
    )


def dsir_scores(bt, lr):
    """Stage 5: per-doc (doc_id, n_tokens, lw_q) from the (doc_id,
    bucket, c) counts ``bt`` under the log-ratio table ``lr`` — per-token
    lr_q sums as the algebraically identical per-bucket c * lr_q sums."""
    return (
        bt.join(F.broadcast(lr), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.sum(F.col("c") * F.col("lr_q")).alias("lw_q"),
        )
    )


def select_top(scored):
    """Stage 6: top-100 of ``scored`` (doc_id, source, n_tokens, lw_q)
    and hash32 shard placement. TakeOrderedAndProject (per-partition
    heaps + a k-row merge), never a single-partition row_number window
    over the corpus-sized scored frame (VERDICT r6 #1); sel_rank is
    recovered on the <=k-row result."""
    sel = ranked_topk(
        scored, [("lw_q", "desc"), ("doc_id", "asc")], _SEL_TOP_K,
        rank_col="sel_rank",
    )
    return sel.select(
        "doc_id", "source", "n_tokens",
        (
            F.floor(F.col("lw_q").cast("double") / F.lit(1e6) + F.lit(0.5))
            .cast("double") / F.lit(1e6)
        ).alias("lw6"),
        "sel_rank",
        F.pmod(hash32(F.col("doc_id")), F.lit(_SEL_SHARDS))
        .cast("int")
        .alias("shard"),
    )

def selection_chain(dp):
    """Stages 1-5 over ``dp`` (doc_id, source, text, n_chars). Returns
    the corpus-relative models — ``cuts``, ``bench`` (trigram set) and
    ``lr`` (DSIR table) — and ``scored`` (doc_id, source, n_tokens,
    lw_q) for every survivor. q_selection_pipeline ranks ``scored``.

    Every gate's decision is cached as a SKINNY doc-id set: without
    this, each downstream consumer re-executes the whole upstream chain
    (the stress measured the uncached form at 19 s wall ~ 5 sequential
    re-runs of the prefix). The cached frames carry ONE long per
    surviving doc, so the heavy passes (entropy, trigram join, token
    buckets) run exactly once. No width is set by hand: `ent` keeps the
    width-guarded scan's partitions, and AQE sizes the aggregation
    shuffles under `keep` and `contam` from their data (the session
    lets it coalesce cached plans) — a few partitions at test scale,
    the full shuffle width at 100 TB, where these doc-id sets are
    corpus-cardinality."""
    from etl_data_processor_spark.ops.text import (
        doc_grams_arrow,
        token_poly_bucket_counts,
    )

    ent = entropy_gate(dp).cache()
    g1 = dp.join(ent, "doc_id").select("doc_id", "source", "text", "n_chars")
    cuts = g1.agg(  # stage 2's [p05, p95] n_chars cuts (lo, hi)
        F.percentile("n_chars", F.lit(0.05)).alias("lo"),
        F.percentile("n_chars", F.lit(0.95)).alias("hi"),
    )
    g2 = length_gate(g1, cuts)

    # stage 3: exact dedup, keep min doc_id per normalized text
    keep = (
        g2.select("doc_id", normalize_text(F.col("text")).alias("norm"))
        .groupBy("norm")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
        .cache()
    )
    g3 = g2.join(keep, "doc_id")

    # stage 4's model: the benchmark's distinct word trigrams
    ref = dp.filter(F.col("source") == _SEL_REF)
    bench = (
        doc_grams_arrow(ref, (3,), "doc_id", "long", shape="doc_distinct")
        .select("g")
        .distinct()
    )
    cand0 = g3.filter(F.col("source") != _SEL_REF)
    g4 = cand0.join(decontaminate(cand0, bench).cache(), "doc_id")

    # candidate (doc, bucket) counts computed ONCE for both the raw LM
    # and the per-doc scores (skinny three-column frame, <= 64 rows/doc)
    bt = token_poly_bucket_counts(g4, _SEL_BUCKETS, "doc_id", "long").cache()
    lr = dsir_log_ratios(ref, bt)
    scored = dsir_scores(bt, lr).join(g4.select("doc_id", "source"), "doc_id")
    return {"cuts": cuts, "bench": bench, "lr": lr, "scored": scored}


@q("q_selection_pipeline", _SEL_ORACLE)
def q_selection_pipeline(spark, sf_dir):
    """B74 capstone: the round-6 selection layer END TO END in one plan —
    entropy gate (>= 2.0 bits, integer compare) -> length-quantile gate
    ([p05, p95] of the gated corpus) -> exact dedup (keep min doc_id per
    normalized text) -> benchmark decontamination (distinct-trigram
    overlap vs the reference source <= 0.2) -> DSIR importance selection
    (64 hashed-unigram buckets, target LM from the RAW reference corpus,
    raw LM from the surviving candidates — so the selection distribution
    reflects what decontamination left) -> top-100 -> deterministic
    hash32 shard placement. The oracle replays the identical chain, so
    the differential proves every stage INTERACTION (gate ordering,
    survivors feeding downstream distributions), not just each operator
    alone. Scale shape: each stage is the shape its standalone key
    proved (one corpus pass each; model tables broadcast; the top-k is
    TakeOrderedAndProject with rank recovered on the <=k rows — no
    single-partition window anywhere); nothing materializes between
    stages."""
    from etl_data_processor_spark.ops.dedup import _parallelize

    d = _cat(spark, sf_dir).documents
    # width-guard the CPU-heavy Arrow stages (entropy, corpus-side
    # gram/token streams): a small single-file scan arrives as one
    # partition and ran the whole capstone nearly serially (stress:
    # 20 s wall ~ 19 cpu-s at sf0.1); a no-op on wide scans at 100 TB
    dp = _parallelize(d.select("doc_id", "source", "text", "n_chars"))
    return select_top(selection_chain(dp)["scored"])
