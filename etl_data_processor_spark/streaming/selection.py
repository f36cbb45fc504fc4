"""Streaming form of the q_selection_pipeline gate chain (VERDICT r6
"What's missing" #3 / next-round item 6).

The batch capstone (queries_r6j.py) chains entropy gate -> length-
quantile gate -> exact dedup -> trigram decontamination -> DSIR scoring
-> top-k -> shard placement. Every gate is per-doc or broadcast-model
EXCEPT two corpus-relative pieces, which is exactly what a streaming
port must handle:

- the length-quantile cuts and the DSIR models are corpus-relative ->
  FROZEN PER EPOCH (:func:`frozen_selection_state` derives them once
  from the epoch's reference corpus — in production, yesterday's corpus;
  re-freeze per epoch exactly like re-training a tokenizer);
- exact dedup is cross-batch stateful -> a seen-norms state table with
  first-batch-wins semantics (ascending-id ingest makes that identical
  to the batch keep-min rule), persisted through the log-structured
  table format so replayed micro-batches are absorbed exactly-once
  (tableformat.append_idempotent's txn-id pattern).

Per micro-batch everything else is stateless expression work against
broadcast model state. The scores accumulate in a table; the terminal
top-k + shard placement runs once per epoch close over the (small,
survivor-sized) scores table via the same distributed
TakeOrderedAndProject shape as the batch key. The pytest twin
(tests/test_streaming_selection.py) asserts the streamed result equals
q_selection_pipeline row for row at fixture scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_data_processor_spark.ops.text import char_poly_hash, tokenize

_ENT_Q = int(1e12)


def _entropy_gate_ids(docs: DataFrame, ent_min: float) -> DataFrame:
    """doc_ids clearing the character-entropy gate (queries_r6j stage 1's
    integer rule, batch-local: entropy is per-doc)."""
    cnt = (
        docs.select("doc_id", F.explode(F.split("text", "")).alias("c"))
        .groupBy("doc_id", "c")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    tot = cnt.groupBy("doc_id").agg(F.sum("k").alias("n"))
    p = F.col("k").cast("double") / F.col("n").cast("double")
    tq = F.floor(-p * F.log2(p) * F.lit(1e12) + F.lit(0.5)).cast("long")
    return (
        cnt.join(tot, "doc_id")
        .select("doc_id", tq.alias("tq"))
        .groupBy("doc_id")
        .agg(F.sum("tq").alias("eq"))
        .filter(F.col("eq") >= F.lit(ent_min) * F.lit(_ENT_Q))
        .select("doc_id")
    )


def _trigrams(w):
    return F.transform(
        F.sequence(F.lit(1), F.size(w) - F.lit(2)),
        lambda i: F.array_join(F.slice(w, i, 3), " "),
    )


def frozen_selection_state(
    spark,
    docs: DataFrame,
    ref_source: str,
    ent_min: float = 2.0,
    buckets: int = 64,
    contam_tau: float = 0.2,
) -> dict:
    """Epoch-frozen model state for the streaming gate chain, derived
    EXACTLY as the batch capstone derives it (same gates, same survivor
    chain feeding the DSIR raw LM): length cuts (two floats), the
    benchmark distinct-trigram frame, and the 64-row DSIR log-ratio
    frame joined through the full-corpus token->bucket vocab. All
    broadcast-sized; the trigram set and lr/vocab frames are cached so
    every micro-batch reuses them."""
    w = tokenize(F.col("text"))

    ent = _entropy_gate_ids(docs, ent_min)
    g1 = docs.join(ent, "doc_id")
    cuts = g1.agg(
        F.percentile("n_chars", F.lit(0.05)).alias("lo"),
        F.percentile("n_chars", F.lit(0.95)).alias("hi"),
    ).collect()[0]
    lo, hi = float(cuts["lo"]), float(cuts["hi"])
    nc = F.col("n_chars").cast("double")
    g2 = g1.filter((nc >= lo) & (nc <= hi))

    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    keep = (
        g2.select("doc_id", norm.alias("norm"))
        .groupBy("norm")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    g3 = g2.join(keep, "doc_id")

    bench = (
        docs.filter(F.col("source") == ref_source)
        .select(F.explode(_trigrams(w)).alias("g"))
        .distinct()
        .cache()
    )
    cand0 = g3.filter(F.col("source") != ref_source)
    cgrams = cand0.select("doc_id", F.explode(_trigrams(w)).alias("g")).distinct()
    contam = (
        cgrams.join(F.broadcast(bench.withColumn("__h", F.lit(1))), "g", "left")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("ng"), F.count("__h").alias("nh"))
        .filter(
            F.col("nh").cast("double") / F.col("ng").cast("double") <= contam_tau
        )
        .select("doc_id")
    )
    g4 = cand0.join(contam, "doc_id")

    vocab = (
        docs.select(F.explode(w).alias("token"))
        .distinct()
        .select(
            "token",
            F.pmod(char_poly_hash(F.col("token")), F.lit(buckets)).alias("bucket"),
        )
        .cache()
    )
    ttoks = docs.filter(F.col("source") == ref_source).select(
        F.explode(w).alias("token")
    )
    rtoks = g4.select(F.explode(w).alias("token"))
    tgt = ttoks.join(F.broadcast(vocab), "token").groupBy("bucket").agg(
        F.count(F.lit(1)).alias("ct")
    )
    raw = rtoks.join(F.broadcast(vocab), "token").groupBy("bucket").agg(
        F.count(F.lit(1)).alias("cr")
    )
    tots = tgt.agg(F.sum("ct").alias("nt")).crossJoin(
        raw.agg(F.sum("cr").alias("nr"))
    )
    grid = spark.range(buckets).select(F.col("id").cast("long").alias("bucket"))
    ratio = (
        (F.coalesce(F.col("ct"), F.lit(0)) + F.lit(1.0))
        / (F.col("nt") + F.lit(float(buckets)))
    ) / (
        (F.coalesce(F.col("cr"), F.lit(0)) + F.lit(1.0))
        / (F.col("nr") + F.lit(float(buckets)))
    )
    lr = (
        grid.join(tgt, "bucket", "left")
        .join(raw, "bucket", "left")
        .crossJoin(F.broadcast(tots))
        .select(
            "bucket",
            F.floor(F.log(ratio) * F.lit(1e12) + F.lit(0.5))
            .cast("long")
            .alias("lr_q"),
        )
        .cache()
    )
    lr.count()  # materialize the epoch state once
    bench.count()
    return {
        "cuts": (lo, hi),
        "bench": bench,
        "vocab": vocab,
        "lr": lr,
        "ref_source": ref_source,
        "ent_min": ent_min,
        "contam_tau": contam_tau,
    }


def selection_gate_sink(models: dict, seen_table: str, scores_table: str):
    """foreachBatch closure running the gate chain per micro-batch against
    the frozen ``models``. Cross-batch state is the seen-norms table
    (exact dedup, first-batch-wins) and the accumulated scores table —
    both log-structured tables appended exactly-once per batch id, so
    at-least-once micro-batch replays are absorbed."""
    from etl_data_processor_spark import tableformat as TF

    lo, hi = models["cuts"]
    w = tokenize(F.col("text"))

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        docs = batch_df.select("doc_id", "source", "text", "n_chars")

        # stages 1-2: per-doc gates under frozen cuts
        g1 = docs.join(_entropy_gate_ids(docs, models["ent_min"]), "doc_id")
        nc = F.col("n_chars").cast("double")
        g2 = g1.filter((nc >= lo) & (nc <= hi))

        # stage 3: exact dedup — batch-local keep-min, then anti-join the
        # cross-batch seen-norms state (first batch wins; ascending-id
        # ingest makes this the batch keep-min rule)
        norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
        withn = g2.withColumn("__norm", norm)
        batch_keep = withn.join(
            withn.groupBy("__norm").agg(F.min("doc_id").alias("doc_id")),
            ["__norm", "doc_id"],
        )
        try:
            seen = TF.read(spark, seen_table)
        except Exception:  # first batch: state table not created yet
            seen = None
        # NOT broadcast: the seen-norms state is corpus-cardinality at
        # scale — a shuffled anti-join per micro-batch is the honest cost
        # of EXACT cross-batch dedup (the bounded-state alternative,
        # dropDuplicatesWithinWatermark, trades exactness for a watermark)
        g3 = (
            batch_keep.join(
                seen.select(F.col("norm").alias("__norm")),
                "__norm",
                "left_anti",
            )
            if seen is not None
            else batch_keep
        )
        TF.append_idempotent(
            g3.select(F.col("__norm").alias("norm")),
            seen_table,
            f"seen-{batch_id}",
        )

        # stage 4: decontamination vs the frozen benchmark trigram set
        cand0 = g3.filter(F.col("source") != models["ref_source"]).drop("__norm")
        cgrams = cand0.select(
            "doc_id", F.explode(_trigrams(w)).alias("g")
        ).distinct()
        contam = (
            cgrams.join(
                F.broadcast(models["bench"].withColumn("__h", F.lit(1))),
                "g",
                "left",
            )
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("ng"), F.count("__h").alias("nh"))
            .filter(
                F.col("nh").cast("double") / F.col("ng").cast("double")
                <= models["contam_tau"]
            )
            .select("doc_id")
        )
        g4 = cand0.join(contam, "doc_id")

        # stage 5: DSIR score under the frozen LM
        bt = (
            g4.select("doc_id", "source", F.explode(w).alias("token"))
            .join(F.broadcast(models["vocab"]), "token")
            .select("doc_id", "source", "bucket")
        )
        scored = (
            bt.join(F.broadcast(models["lr"]), "bucket")
            .groupBy("doc_id", "source")
            .agg(
                F.count(F.lit(1)).alias("n_tokens"),
                F.sum("lr_q").alias("lw_q"),
            )
        )
        TF.append_idempotent(scored, scores_table, f"scores-{batch_id}")

    return apply


def finalize_selection(
    spark, scores_table: str, top_k: int = 100, shards: int = 4
) -> DataFrame:
    """Epoch close: top-k + shard placement over the accumulated scores
    table — the same TakeOrderedAndProject + rank-on-k-rows shape as the
    batch capstone's stage 6 (never a single-partition window)."""
    from etl_data_processor_spark import tableformat as TF
    from etl_data_processor_spark.ops.relational import ranked_topk
    from etl_data_processor_spark.ops.sampling import hash32

    scores = TF.read(spark, scores_table)
    sel = ranked_topk(
        scores, [("lw_q", "desc"), ("doc_id", "asc")], top_k,
        rank_col="sel_rank",
    )
    return sel.select(
        "doc_id", "source", "n_tokens",
        (
            F.floor(F.col("lw_q").cast("double") / F.lit(1e6) + F.lit(0.5))
            .cast("double") / F.lit(1e6)
        ).alias("lw6"),
        "sel_rank",
        F.pmod(hash32(F.col("doc_id")), F.lit(shards)).cast("int").alias("shard"),
    )
