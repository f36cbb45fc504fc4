"""Similarity search over embedding columns (north star B32/B33).

Two paths:

- ``cosine_topk_exact`` — brute-force cosine top-k: broadcast the query
  vectors against the corpus, score JVM-side, per-query top-k via window
  rank. The correctness baseline; O(corpus × queries) but embarrassingly
  parallel and shuffle-free until the final per-query top-k.

- ``lsh_cosine_topk`` — random-hyperplane LSH: deterministic signed
  projections bucket the corpus; only same-bucket candidates are scored.
  The 100 TB path: candidate generation is a bucket equi-join instead of a
  cross product. Approximate (recall < 1), so it carries a rows-only oracle.

Exact-decimal scoring: dot products are computed over DECIMAL-cast elements
(exact + order-independent — see ops.exact) so results are engine-stable and
oracle-checkable.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

# Fixed-point quantization for engine-stable vector math: each float element
# is promoted to double (exact) and quantized to an integer at scale 1e7 via
# floor(x*1e7 + 0.5) — pure IEEE ops, bit-identical on every engine (unlike
# decimal casts: DuckDB's FLOAT->DECIMAL cast is off by 1 ulp on ~3% of
# values, and ROUND(double) half-tie behavior varies). Dot products and
# norms are then exact 64-bit integer arithmetic: order-independent, no
# overflow for unit-scale embeddings up to ~90k dims, and faster than any
# decimal fold.
_Q = 10_000_000.0  # quantization scale (7 decimal digits ≈ float32 precision)


def _quantize(a: Column) -> Column:
    """array<float> -> array<long> at fixed-point scale _Q."""
    return F.transform(
        a, lambda x: F.floor(x.cast("double") * F.lit(_Q) + F.lit(0.5))
    )


def _hash_seed_rows(
    corpus: DataFrame, id_col: str, select_cols: list[str], n: int
) -> list:
    """``n`` deterministic pseudo-random rows for model seeding via the
    portable hash sampler (VERDICT r3 item 6 — replaces
    ``orderBy(id).limit(n)``): filter ``hash32(id) < T`` — a narrow,
    shuffle-free, partition-independent predicate evaluated inside the
    scan — then keep the ``n`` smallest (hash, id) driver-side. No
    TakeOrdered of the corpus anywhere in the training plan; ``T`` is
    sized from one count so the collect stays ~8n rows, quadrupling on an
    unlucky draw. Hash-ordered seeds also decorrelate the initialization
    (smallest-id rows are often near-duplicates in ingestion order)."""
    from etl_data_processor_spark.ops.sampling import M32, hash32

    h = hash32(F.col(id_col))
    total = corpus.count()
    if total <= n:
        rows = corpus.select(*select_cols).collect()
        rows.sort(key=lambda r: r[id_col])
        return rows
    frac = min(1.0, (8.0 * n) / total)
    while True:
        t = max(1, int(frac * M32))
        rows = (
            corpus.select(*select_cols, h.alias("__h"))
            .filter(h < F.lit(t))
            .collect()
        )
        if len(rows) >= n or frac >= 1.0:
            rows.sort(key=lambda r: (r["__h"], r[id_col]))
            return rows[:n]
        frac = min(1.0, frac * 4)


def dec_dot(a: Column, b: Column) -> Column:
    """Exact fixed-point dot product -> double (order-independent); value is
    scaled by _Q² relative to the float dot product (cancels in cosine)."""
    return F.aggregate(
        F.zip_with(_quantize(a), _quantize(b), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    ).cast("double")


def dec_norm(a: Column) -> Column:
    """Fixed-point L2 norm (scaled by _Q)."""
    return F.sqrt(
        F.aggregate(
            F.transform(_quantize(a), lambda x: x * x),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).cast("double")
    )


def stable_round6(c: Column) -> Column:
    """Engine-independent 6-decimal rounding of a double: floor(x*1e6+0.5)/1e6
    is pure IEEE arithmetic (multiply, add, floor, divide), so Spark and any
    oracle engine produce the identical double — unlike ROUND(double, n),
    whose half-tie behavior differs across engines.
    SQL mirror: CAST(FLOOR(x * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0
    """
    return F.floor(c * F.lit(1000000.0) + F.lit(0.5)).cast("double") / F.lit(1000000.0)


def dec_cosine(a: Column, b: Column) -> Column:
    return stable_round6(dec_dot(a, b) / (dec_norm(a) * dec_norm(b)))


def semantic_dedup_kept(
    clustered: DataFrame,
    tau: float,
    id_col: str = "vec_id",
    cluster_col: str = "bucket",
    vec_col: str = "embedding",
    max_pivots: int = 64,
) -> DataFrame:
    """SemDeDup-shape prune (Abbas et al. 2023, public): given vectors
    already assigned to clusters, drop every vector with a LOWER-id
    PIVOT neighbor at cosine >= ``tau`` in its cluster; return the kept
    rows (``id_col``, ``cluster_col``). Pivots are the ``max_pivots``
    smallest-id members of each cluster — the canonical representatives
    every other member screens against. This bounds within-cluster work
    at |cluster| x M instead of |cluster|^2: the all-pairs form measured
    108.6x CPU at 10x data on this very operator (SCALE_STRESS.json),
    because LSH/sign buckets on CLUSTERED data track the semantic
    clusters themselves — no data-independent hash makes them small, so
    the prune must be budgeted, not the bucketing. ``max_pivots`` is the
    fidelity knob: with clustering granular enough that clusters stay
    <= M (the SemDeDup paper's k ~ n/target regime, trained k-means via
    :func:`ivf_assign_argmax`), the pivot rule IS exact all-pairs
    SemDeDup; beyond M it degrades gracefully (late near-dup pairs whose
    EVERY witness is a non-pivot survive). Deterministic and
    SQL-expressible at any scale — the oracle replays the identical
    ROW_NUMBER pivot rule. One partitioned window + one equi-join on
    the cluster key, codegen decimal-exact cosine, no Python
    boundary."""
    from pyspark.sql import Window

    spark = clustered.sparkSession
    pivots = (
        clustered.withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy(cluster_col).orderBy(F.col(id_col))
            ),
        )
        .filter(F.col("__rn") <= max_pivots)
        .select(
            F.col(id_col).alias("__id_a"),
            F.col(cluster_col).alias(cluster_col),
            F.col(vec_col).alias("__ea"),
        )
    )
    b = clustered.select(
        F.col(id_col).alias("__id_b"),
        F.col(cluster_col).alias(cluster_col),
        F.col(vec_col).alias("__eb"),
    )
    pairs = pivots.join(b, cluster_col).filter(
        F.col("__id_a") < F.col("__id_b")
    )
    # Width-guarded fan-out (VERDICT r5 item 2): a SMALL input arrives as
    # one partition and the bucket join inherits few busy reducers, so
    # widening the pivot x member frame before the CPU-heavy cosine is
    # worth one tiny exchange. A WIDE input (the 100 TB case) already
    # spreads the adaptive ~n/32 bucket keys across every reducer, and an
    # unconditional repartition here would round-robin-exchange the widest
    # intermediate in the operator (two embedding arrays per row). Guard on
    # the INPUT frame's width (same metadata-only plan probe as
    # ops.dedup._parallelize; the join output's own stats are a product
    # estimate and over-state tiny inputs) — plan-pinned in
    # tests/test_plans.py.
    from etl_data_processor_spark.ops.dedup import _parallelize

    if _parallelize(clustered) is not clustered:  # input is narrow
        pairs = pairs.repartition(spark.sparkContext.defaultParallelism)
    drops = (
        pairs.withColumn("__cos", dec_cosine(F.col("__ea"), F.col("__eb")))
        .filter(F.col("__cos") >= tau)
        .select(F.col("__id_b").alias(id_col))
        .distinct()
    )
    return clustered.join(drops, id_col, "left_anti").select(
        id_col, cluster_col
    )


def cosine_topk_exact(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Brute-force cosine top-k per query. ``queries`` is broadcast (queries
    are few; the corpus is the big side), score is computed in codegen, and
    the per-query top-k is a window rank — one shuffle on query_id."""
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias(query_id_col), F.col(vec_col).alias("__qvec")
        )
    )
    scored = (
        corpus.select(id_col, vec_col)
        .crossJoin(q)
        .filter(F.col(id_col) != F.col(query_id_col))
        .withColumn("cosine", dec_cosine(F.col(vec_col), F.col("__qvec")))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine"), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (public LCG recipe) — no
    driver-side RNG state, reproducible across runs and engines."""
    planes = []
    state = seed & 0x7FFFFFFF
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) & 0x7FFFFFFF
            row.append((state / 0x7FFFFFFF) * 2.0 - 1.0)
        planes.append(row)
    return planes


def _quantize_plane(p: list[float]) -> list[int]:
    """Python mirror of :func:`_quantize` (same IEEE double ops), so plane
    literals quantized driver-side agree bit-for-bit with vectors quantized
    executor-side — and with the numpy batch path."""
    return [int(math.floor(float(x) * _Q + 0.5)) for x in p]


def lsh_signatures_batch(
    df: DataFrame,
    tables: list[list[list[float]]],
    vec_col: str = "embedding",
    out_col: str = "__sigs",
) -> DataFrame:
    """All per-table signatures in ONE Arrow-batched numpy matmul.

    The expression form (``lsh_bucket`` in tests/reference.py) folds
    tables × planes × dim literal nodes into the plan — ~1 s of Catalyst
    analysis and multi-second first-run codegen once tables × planes ≳ 64 (measured; see SCALE.md).
    Here the planes live in a (T·B, dim) int64 numpy array captured by the
    UDF closure, and each Arrow batch computes ``Vq @ P.T`` — one exact
    int64 matmul — then packs sign bits per table. Bit-identical to the
    expression form: both quantize with floor(x·1e7 + 0.5) in IEEE doubles
    and take signs of exact integer dots.

    Returns ``df`` plus ``out_col: array<long>`` (one signature per table).
    """
    import numpy as np

    P = np.array(
        [_quantize_plane(p) for planes in tables for p in planes], dtype=np.int64
    )
    n_planes = len(tables[0])
    n_tables = len(tables)
    weights = (np.int64(1) << np.arange(n_planes, dtype=np.int64))
    schema = StructType(
        list(df.schema.fields) + [StructField(out_col, ArrayType(LongType()), False)]
    )

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                pdf[out_col] = []
                yield pdf
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            Vq = np.floor(V * _Q + 0.5).astype(np.int64)
            bits = (Vq @ P.T >= 0).astype(np.int64)
            sigs = bits.reshape(len(pdf), n_tables, n_planes) @ weights
            pdf[out_col] = list(sigs)
            yield pdf

    return df.mapInPandas(gen, schema)


def _probe_buckets_py(
    vec: list[float], tables: list[list[list[float]]], n_probes: int
) -> list[tuple[int, int]]:
    """Multi-probe bucket list over all tables (query-directed, after Lv
    et al. VLDB'07): per table, the exact signature plus the single-bit
    flips with the smallest projection |margin| — the planes the vector
    sits closest to are the ones most likely to disagree with a true
    neighbor's signature. Same quantization and exact integer dots as
    :func:`lsh_signatures_batch`, so probe 0 (the unflipped signature) is
    the corpus-side bucket; flips order by (|margin|, plane index), as in
    the expression form ``lsh_probe_buckets`` (tests/reference.py).
    Returns ``[(table, bucket)]``."""
    import numpy as np

    v = np.asarray(vec, dtype=np.float32).astype(np.float64)
    vq = np.floor(v * _Q + 0.5).astype(np.int64)
    out: list[tuple[int, int]] = []
    for t, planes in enumerate(tables):
        P = np.array([_quantize_plane(p) for p in planes], dtype=np.int64)
        dots = [int(d) for d in P @ vq]
        sig = sum(1 << i for i, d in enumerate(dots) if d >= 0)
        out.append((t, sig))
        order = sorted(range(len(planes)), key=lambda i: (abs(dots[i]), i))
        for i in order[: max(0, n_probes - 1)]:
            out.append((t, sig ^ (1 << i)))
    return out


def lsh_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    n_probes: int = 1,
    n_tables: int = 1,
) -> DataFrame:
    """Approximate cosine top-k: bucket corpus and queries by hyperplane
    signature, score only same-bucket candidates.

    Three recall/cost knobs (the standard AND-OR LSH construction):
    - ``n_planes`` (AND): bits per table — bucket size shrinks ~2^-planes;
    - ``n_tables`` (OR): independent hash tables, candidates unioned —
      recall 1-(1-p^planes)^tables; corpus-side cost is linear in tables;
    - ``n_probes`` (multi-probe): per table, each query also searches the
      lowest-margin bit-flip buckets — multiplies only the broadcast query
      side, the cheapest recall lever.

    At 100 TB: more planes + more probes/tables beats fewer planes. LSH is
    sublinear only when targets are genuinely similar (cosine ≳ 0.7 —
    planted near-dups, plagiarism, memorized samples); for noise-level
    top-k (all cosines ≲ 0.4) no bucketing scheme concentrates neighbors,
    and the IVF path or brute force is the right tool. A candidate pair
    found by several tables is scored once per table and deduplicated by
    DISTINCT before ranking (duplicate scoring ≤ tables× on dup-heavy data,
    and avoids a corpus-side re-join — the cheaper side of the tradeoff
    when candidates are sparse).

    Corpus-side signatures are one Arrow numpy matmul per batch
    (:func:`lsh_signatures_batch`), and the query batch — the broadcast-
    small side by contract — gets its probe buckets driver-side in numpy
    (:func:`_probe_buckets_py`). Both avoid a tables × planes × dim
    literal expression tree, whose analysis and codegen alone cost
    seconds; tests/reference.py keeps that expression form, and both
    sides are bit-identical to it."""
    tables = [hyperplanes(dim, n_planes, seed + 1000003 * t) for t in range(n_tables)]
    c = (
        lsh_signatures_batch(corpus.select(id_col, vec_col), tables)
        .select(
            id_col,
            vec_col,
            F.posexplode("__sigs").alias("__t", "__sig"),
        )
        .select(
            id_col,
            vec_col,
            F.struct(
                F.col("__t").cast("int").alias("t"), F.col("__sig").alias("sig")
            ).alias("__bk"),
        )
    )
    # Query probe list: per table, the multi-probe buckets tagged with the
    # table id (struct matches the corpus side's explode).
    qschema = StructType(
        [
            StructField(query_id_col, queries.schema[id_col].dataType),
            StructField("__qvec", ArrayType(FloatType())),
            StructField(
                "__bk",
                StructType(
                    [
                        StructField("t", IntegerType(), False),
                        StructField("sig", LongType(), False),
                    ]
                ),
                False,
            ),
        ]
    )
    rows = [
        (r[0], vec, (t, b))
        for r in queries.select(id_col, vec_col).collect()
        for vec in [[float(x) for x in r[1]]]
        for t, b in _probe_buckets_py(vec, tables, n_probes)
    ]
    q = F.broadcast(corpus.sparkSession.createDataFrame(rows, qschema))
    scored = (
        c.join(q, "__bk")
        .filter(F.col(id_col) != F.col(query_id_col))
        .withColumn("cosine", dec_cosine(F.col(vec_col), F.col("__qvec")))
        .select(query_id_col, id_col, "cosine")
        .distinct()
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def _quantized_centroid_matrix(cents: list[tuple[int, list[float]]]):
    """(n_lists, dim) int64 centroid matrix, quantized EXACTLY like the
    expression path: driver floats → float32 (the ``cast('array<float>')``
    in the broadcast centroid frame) → float64 → floor(x·_Q + 0.5)."""
    import numpy as np

    V = np.asarray([v for _, v in cents], dtype=np.float32).astype(np.float64)
    return np.floor(V * _Q + 0.5).astype(np.int64)


def ivf_assign_argmax(
    df: DataFrame,
    cents: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "__list",
) -> DataFrame:
    """Nearest-centroid assignment as ONE exact int64 matmul per Arrow batch.

    Bit-identical to the crossJoin + window-rank expression path: both take
    argmax of the same quantized integer dots with ties to the smallest cid
    (``cents`` is sorted by cid; ``np.argmax`` returns the first maximum).
    Replaces a (rows × n_lists) crossJoin plus a full shuffle on ``id_col``
    with a narrow map — no shuffle at all."""
    import numpy as np

    cents = sorted(cents)
    C = _quantized_centroid_matrix(cents)
    cids = np.asarray([cid for cid, _ in cents], dtype=np.int64)
    schema = StructType(
        [df.schema[id_col], df.schema[vec_col], StructField(out_col, LongType(), False)]
    )

    def gen(batches):
        for pdf in batches:
            pdf = pdf[[id_col, vec_col]]
            if len(pdf) == 0:
                pdf[out_col] = []
                yield pdf
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            Vq = np.floor(V * _Q + 0.5).astype(np.int64)
            pdf[out_col] = cids[np.argmax(Vq @ C.T, axis=1)]
            yield pdf

    return df.mapInPandas(gen, schema)


def _ivf_partial_sums(
    corpus: DataFrame, cents: list[tuple[int, list[float]]], vec_col: str
) -> DataFrame:
    """One Lloyd-iteration pass as a map-side combine: each Arrow batch
    assigns its vectors (exact int64 argmax matmul) and emits per-(list, pos)
    PARTIAL integer sums + counts — n_lists × dim rows per batch instead of
    dim rows per corpus vector. The final groupBy reduces partials; integer
    addition is order-independent, so the result is bit-identical to the
    expression form's crossJoin + rank + posexplode + groupBy
    (``ivf_sums_expr`` in tests/reference.py)."""
    import numpy as np
    import pandas as pd

    cents = sorted(cents)
    C = _quantized_centroid_matrix(cents)
    cids = np.asarray([cid for cid, _ in cents], dtype=np.int64)
    dim = C.shape[1]
    schema = StructType(
        [
            StructField("__list", LongType(), False),
            StructField("pos", IntegerType(), False),
            StructField("s", LongType(), False),
            StructField("n", LongType(), False),
        ]
    )

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            Vq = np.floor(V * _Q + 0.5).astype(np.int64)
            a = np.argmax(Vq @ C.T, axis=1)
            S = np.zeros((len(cids), dim), dtype=np.int64)
            np.add.at(S, a, Vq)
            cnt = np.bincount(a, minlength=len(cids)).astype(np.int64)
            present = np.nonzero(cnt)[0]
            yield pd.DataFrame(
                {
                    "__list": np.repeat(cids[present], dim),
                    "pos": np.tile(np.arange(dim, dtype=np.int32), len(present)),
                    "s": S[present].ravel(),
                    "n": np.repeat(cnt[present], dim),
                }
            )

    return (
        corpus.select(vec_col)
        .mapInPandas(gen, schema)
        .groupBy("__list", "pos")
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
    )


def train_ivf_centroids(
    corpus: DataFrame,
    n_lists: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Deterministic spherical-k-means IVF training (Lloyd iterations).

    Seeds are ``n_lists`` hash-sampled vectors (:func:`_hash_seed_rows` —
    partition-independent, no corpus TakeOrdered); each iteration assigns
    every corpus vector to its max-dot centroid (broadcast argmax — one
    narrow pass) and recomputes element-wise centroid means EXACTLY: vector
    elements are fixed-point longs, per-(list, position) sums are integer
    aggregation, and the mean is a floor-div — so the trained model is
    bit-identical under any partitioning, AQE re-plan, or engine. The
    centroid table is model state (n_lists × dim), collected to the driver
    and re-broadcast per iteration — the standard k-means-on-Spark shape.
    Returns ``[(cid, unit_centroid_floats)]`` sorted by cid.
    """

    def unit(v: list[float]) -> list[float]:
        n = sum(x * x for x in v) ** 0.5
        return [x / n for x in v] if n > 0 else v

    # Seeding: greedy farthest-point (maxmin, the deterministic k-means++
    # analogue) over an 8x hash-sample — spreads the initial centroids
    # across the sphere instead of wherever the first sample rows landed,
    # which is what the recall pins actually depend on. Driver-side
    # O(m²·n_lists) on m = 8·n_lists rows; ties break by sample order
    # (hash asc, id asc), so the model is bit-deterministic.
    sample = _hash_seed_rows(corpus, id_col, [id_col, vec_col], 8 * n_lists)
    svecs = [[float(x) for x in r[vec_col]] for r in sample]
    if not svecs:  # empty corpus -> empty model (callers handle [])
        return []
    sunit = [unit(v) for v in svecs]
    chosen = [0]
    while len(chosen) < min(n_lists, len(svecs)):
        best_i, best_sim = None, None
        for i in range(len(svecs)):
            if i in chosen:
                continue
            sim = max(
                sum(a * b for a, b in zip(sunit[i], sunit[c])) for c in chosen
            )
            if best_sim is None or sim < best_sim:
                best_i, best_sim = i, sim
        chosen.append(best_i)
    cents = [(j, svecs[i]) for j, i in enumerate(chosen)]

    for _ in range(iters):
        sums = _ivf_partial_sums(corpus, cents, vec_col).collect()
        by_list: dict[int, dict[int, int]] = {}
        counts: dict[int, int] = {}
        for r in sums:
            by_list.setdefault(r["__list"], {})[r["pos"]] = r["s"]
            counts[r["__list"]] = r["n"]
        new_cents = []
        for cid, old in cents:
            if cid in by_list:  # empty lists keep their previous centroid
                d = by_list[cid]
                mean_q = [d[p] // counts[cid] for p in sorted(d)]
                new_cents.append((cid, unit([x / _Q for x in mean_q])))
            else:
                new_cents.append((cid, old))
        cents = new_cents
    return cents


def ivf_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroids: list[tuple[int, list[float]]] | None = None,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """IVF approximate top-k: partition the corpus into ``n_lists`` inverted
    lists by nearest centroid, probe only the ``n_probe`` closest lists per
    query.

    ``assigned`` (optional): a precomputed ``(id, vec, __list)`` assignment
    frame — THE index artifact a production deployment materializes as a
    list-partitioned table (pass the persisted frame and no corpus-side
    assignment pass runs at query time).

    ``centroids`` is the trained model from :func:`train_ivf_centroids`
    (train once, reuse across query batches — at 100 TB the assignment pass
    is materialized as a list-partitioned table and queries only ever touch
    ~n_probe/n_lists of it). When omitted, centroids default to the
    ``n_lists`` smallest-id vectors — same plan shape, untrained recall.

    The corpus (big) side is assigned via :func:`ivf_assign_argmax` — a
    shuffle-free Arrow matmul, bit-identical to the expression path. The
    query (small, broadcast) side keeps the expression crossJoin + rank,
    which also yields the top ``n_probe`` lists, not just the argmax.
    """
    spark = corpus.sparkSession
    if centroids is None:
        seeds = _hash_seed_rows(corpus, id_col, [id_col, vec_col], n_lists)
        centroids = [(i, [float(x) for x in r[vec_col]]) for i, r in enumerate(seeds)]
    cents = F.broadcast(
        spark.createDataFrame(
            [(cid, v) for cid, v in centroids], ["__cid", "__cvec"]
        ).withColumn("__cvec", F.col("__cvec").cast("array<float>"))
    )

    def assign(df: DataFrame, vec: str, out: str, keep_n: int) -> DataFrame:
        """Rank centroid distances per row, keep the top keep_n list ids."""
        scored = df.crossJoin(cents).withColumn(
            "__d", dec_dot(F.col(vec), F.col("__cvec"))
        )
        w = Window.partitionBy(*df.columns).orderBy(
            F.desc("__d"), F.asc("__cid")
        )
        return (
            scored.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= keep_n)
            .select(*df.columns, F.col("__cid").alias(out))
        )

    c_assigned = assigned if assigned is not None else ivf_assign_argmax(
        corpus.select(id_col, vec_col), centroids, id_col=id_col, vec_col=vec_col
    )
    q = queries.select(
        F.col(id_col).alias(query_id_col), F.col(vec_col).alias("__qvec")
    )
    q_assigned = F.broadcast(assign(q, "__qvec", "__list", n_probe))

    scored = (
        c_assigned.join(q_assigned, "__list")
        .filter(F.col(id_col) != F.col(query_id_col))
        .withColumn("cosine", dec_cosine(F.col(vec_col), F.col("__qvec")))
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


# ---------------------------------------------------------------------
# Product quantization (PQ) — compressed ANN
# ---------------------------------------------------------------------

def train_pq_codebooks(
    corpus: DataFrame,
    m_sub: int = 8,
    k_codes: int = 16,
    iters: int = 5,
    sample_n: int = 2048,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Deterministic product-quantization codebooks (Jégou et al., TPAMI
    2011): the vector splits into ``m_sub`` contiguous subvectors; each
    subspace trains ``k_codes`` L2 centroids by Lloyd iterations over a
    BOUNDED hash-sample (:func:`_hash_seed_rows` — sample-trained
    codebooks are the standard practice: the model is tiny and training
    data need not be the whole corpus; the full corpus is only ever
    ENCODED, one narrow pass). Seeds are the first ``k_codes`` sample
    subvectors; argmin ties break to the lowest code. Deterministic — no
    RNG, stable under partitioning. Returns codebooks[sub][code] =
    centroid floats."""
    import numpy as np

    rows = _hash_seed_rows(corpus, id_col, [id_col, vec_col], sample_n)
    X = np.array([list(r[vec_col]) for r in rows], dtype=np.float64)
    # cosine semantics: codebooks live on the unit sphere (dot == cosine)
    n = np.linalg.norm(X, axis=1, keepdims=True)
    n[n == 0] = 1.0
    X = X / n
    dim = X.shape[1]
    assert dim % m_sub == 0, "dim must divide by m_sub"
    d_sub = dim // m_sub
    books: list[list[list[float]]] = []
    for s in range(m_sub):
        Xs = X[:, s * d_sub:(s + 1) * d_sub]
        C = Xs[:k_codes].copy()
        for _ in range(iters):
            d2 = ((Xs[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(k_codes):
                mask = assign == c
                if mask.any():
                    C[c] = Xs[mask].mean(axis=0)
        books.append([[float(x) for x in c] for c in C])
    return books


def pq_encode(
    corpus: DataFrame,
    books: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector as ``m_sub`` small codes (argmin-L2 per
    subspace) — one Arrow-batched narrow pass, no shuffle; output is
    (id, codes array<int>), ~m_sub bytes of index state per vector
    instead of 4·dim (32x compression at dim=64, m=8)."""
    import numpy as np
    import pandas as pd

    m_sub = len(books)
    d_sub = len(books[0][0])
    B = np.array(books, dtype=np.float64)  # (m, k, d_sub)

    def gen(batches):
        for pdf in batches:
            X = np.array(
                [list(v) for v in pdf[vec_col]], dtype=np.float64
            )
            n = np.linalg.norm(X, axis=1, keepdims=True)
            n[n == 0] = 1.0
            X = X / n  # unit sphere: asymmetric dot scores rank like cosine
            codes = np.empty((len(pdf), m_sub), dtype=np.int64)
            for s in range(m_sub):
                Xs = X[:, s * d_sub:(s + 1) * d_sub]
                d2 = ((Xs[:, None, :] - B[s][None, :, :]) ** 2).sum(axis=2)
                codes[:, s] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "codes": list(codes)}
            )

    return corpus.select(id_col, vec_col).mapInPandas(
        gen, f"{id_col} long, codes array<long>"
    )


def pq_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    books: list[list[list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    codes: DataFrame | None = None,
    rerank: int = 0,
) -> DataFrame:
    """Asymmetric-distance PQ top-k: each query precomputes its
    (m_sub × k_codes) dot-product table against the codebooks (driver
    side — queries are small by contract, the table is model-sized);
    the corpus side scores each encoded vector with a pure JVM fold
    score = Σ_sub table[sub][code_sub] — no floats decoded, no Python
    in the corpus path. One broadcast join + window top-k, the same
    plan shape as cosine_topk_exact but over ~m bytes/vector.

    ``rerank > 0`` enables the production ADC+re-rank shape: the PQ
    score builds a per-query SHORTLIST of that size, which joins back
    to the float vectors for exact cosine re-ranking — recall@k
    becomes the shortlist's recall (near-1 at modest shortlists), and
    the expensive exact scorer touches shortlist-sized data, not the
    corpus. Returns (query_id, vec_id, rank)."""
    import numpy as np

    spark = corpus.sparkSession
    m_sub = len(books)
    k_codes = len(books[0])
    d_sub = len(books[0][0])
    B = np.array(books, dtype=np.float64)
    if codes is None:
        codes = pq_encode(corpus, books, id_col, vec_col)
    # queries carry id_col like the corpus (cosine_topk_exact convention);
    # the output aliases it to query_id_col
    qrows = queries.select(
        F.col(id_col).alias(query_id_col), vec_col
    ).collect()
    tables = []
    for r in qrows:
        qv = np.array(list(r[1]), dtype=np.float64)
        flat = []
        for s in range(m_sub):
            qs = qv[s * d_sub:(s + 1) * d_sub]
            flat.extend(float(x) for x in (B[s] @ qs))
        tables.append((r[0], flat))
    tdf = F.broadcast(
        spark.createDataFrame(tables, [query_id_col, "__tbl"]).withColumn(
            "__tbl", F.col("__tbl").cast("array<double>")
        )
    )
    score = F.expr(
        f"aggregate(sequence(0, {m_sub - 1}), 0D, (acc, i) -> "
        f"acc + element_at(__tbl, CAST(i * {k_codes} + "
        f"element_at(codes, i + 1) + 1 AS INT)))"
    )
    scored = codes.crossJoin(tdf).select(
        query_id_col, id_col, score.alias("__s")
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("__s"), F.asc(id_col)
    )
    if not rerank:
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id_col, id_col, "rank")
        )
    shortlist = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= rerank)
        .select(query_id_col, id_col)
    )
    qvecs = F.broadcast(
        spark.createDataFrame(
            [(r[0], [float(x) for x in np.array(list(r[1]))]) for r in qrows],
            [query_id_col, "__qvec"],
        ).withColumn("__qvec", F.col("__qvec").cast("array<float>"))
    )
    exact = (
        shortlist.join(corpus.select(id_col, vec_col), id_col)
        .join(qvecs, query_id_col)
        .withColumn("__c", dec_cosine(F.col(vec_col), F.col("__qvec")))
    )
    w2 = Window.partitionBy(query_id_col).orderBy(
        F.desc("__c"), F.asc(id_col)
    )
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "rank")
    )


def mmr_greedy(
    shortlist: list[tuple[int, float]],
    pair_sim: dict[tuple[int, int], float],
    k: int,
    lam: float = 0.7,
    mu: float = 0.3,
) -> list[tuple[int, int, float]]:
    """Greedy MMR over a BOUNDED shortlist, driver-side (VERDICT r2 item 6).

    Exact greedy MMR is inherently sequential — k dependent argmax steps —
    so running it distributed costs k full-pool Spark jobs with a driver
    round-trip each (the q_mmr_diversify shape, kept as the exact-over-
    corpus reference). The production composition is MMR-over-ANN-shortlist:
    a distributed relevance top-N bounds the pool, its N rel scores and N×N
    pairwise similarities collect as bounded model state (N ≤ ~1000, the
    same contract as IVF centroid training), and the k greedy steps run
    here in O(k·N) with ZERO per-step Spark jobs.

    Float discipline: scores combine as ``lam*rel - mu*max_sim`` with lam
    and mu as separate IEEE-double literals (NOT 1-lam, which is not
    exactly 0.3), matching the SQL oracle's ``0.7*rel6 - 0.3*GREATEST(...)``
    bit for bit on round6 inputs; final scores re-round to 6 dp.
    ``shortlist`` must arrive in (rel desc, id asc) order — ties broken by
    the deterministic id order on every step.
    """
    selected: list[tuple[int, int, float]] = []
    chosen: list[int] = []
    remaining = [vid for vid, _ in shortlist]
    rel = dict(shortlist)
    for step in range(1, min(k, len(shortlist)) + 1):
        best_vid, best_sc = None, None
        for vid in remaining:
            if chosen:
                ms = max(pair_sim[(s, vid)] for s in chosen)
                sc = lam * rel[vid] - mu * ms
            else:
                sc = rel[vid]
            if best_sc is None or sc > best_sc or (sc == best_sc and vid < best_vid):
                best_vid, best_sc = vid, sc
        selected.append((step, best_vid, math.floor(best_sc * 1e6 + 0.5) / 1e6))
        chosen.append(best_vid)
        remaining.remove(best_vid)
    return selected


def ivfpq_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 4,
    rerank: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroids: list[tuple[int, list[float]]] | None = None,
    books: list[list[list[float]]] | None = None,
    index: DataFrame | None = None,
) -> DataFrame:
    """IVF x PQ composition (VERDICT r2 item 8) — the production 100 TB ANN
    shape (FAISS IVFPQ / Jégou et al. §V): a COARSE inverted-file partition
    bounds which corpus fraction a query touches (~n_probe/n_lists), and
    within the probed lists vectors are scored from ~m_sub-byte PQ codes
    via the broadcast ADC dot-table — so the big scan reads list-pruned,
    16-byte rows, not float vectors. The ADC shortlist then re-ranks
    EXACTLY against the float vectors (rerank rows per query), giving
    near-shortlist recall at code-scan cost.

    This variant PQ-encodes RAW unit vectors (not residuals): both halves
    stay bit-identical to their standalone ops (same codebooks, same ADC
    fold, same assignment matmul), the index table (id, list, codes) is
    exactly what a list-partitioned parquet index would materialize, and on
    unit-sphere data raw-vector ADC ranks like cosine. Residual encoding
    would couple the codebooks to the centroids for extra recall at equal
    cost — a documented follow-up, not a structural change.

    Model state (centroids: n_lists x dim; codebooks: m_sub x k_codes x
    d_sub) is driver-held and broadcast — the standard k-means-on-Spark
    contract. Corpus-side work: one assignment matmul + one encode pass
    (both shuffle-free Arrow stages, materialize-once at scale), then a
    broadcast join + window top-k per probed subset.
    """
    import numpy as np

    spark = corpus.sparkSession
    if centroids is None:
        centroids = train_ivf_centroids(corpus, n_lists=n_lists,
                                        id_col=id_col, vec_col=vec_col)
    if books is None:
        books = train_pq_codebooks(corpus, m_sub=16, k_codes=16,
                                   id_col=id_col, vec_col=vec_col)
    m_sub, k_codes, d_sub = len(books), len(books[0]), len(books[0][0])
    B = np.array(books, dtype=np.float64)

    # Index build (at 100 TB: materialized once, list-partitioned on disk):
    # (id, __list, codes) — assignment matmul + PQ encode, both narrow.
    # ``index`` (param): the persisted form of exactly this frame.
    if index is None:
        assigned = ivf_assign_argmax(
            corpus.select(id_col, vec_col), centroids, id_col=id_col, vec_col=vec_col
        ).select(id_col, "__list")
        codes = pq_encode(corpus, books, id_col=id_col, vec_col=vec_col)
        index = codes.join(assigned, id_col)

    # Query side (small by contract): probe lists + ADC tables, driver-built.
    qrows = queries.select(
        F.col(id_col).alias(query_id_col), vec_col
    ).collect()
    C = np.array([v for _, v in centroids], dtype=np.float64)
    probes, tables = [], []
    for r in qrows:
        qv = np.array(list(r[1]), dtype=np.float64)
        # top-n_probe lists by centroid dot (ties -> lower cid), matching
        # the expression path's (desc dot, asc cid) order
        dots = C @ qv
        order = sorted(range(len(dots)), key=lambda c: (-dots[c], c))
        for cid in order[:n_probe]:
            probes.append((r[0], cid))
        flat = []
        for s in range(m_sub):
            qs = qv[s * d_sub:(s + 1) * d_sub]
            flat.extend(float(x) for x in (B[s] @ qs))
        tables.append((r[0], flat))
    probe_df = F.broadcast(
        spark.createDataFrame(probes, [query_id_col, "__list"])
    )
    tdf = F.broadcast(
        spark.createDataFrame(tables, [query_id_col, "__tbl"]).withColumn(
            "__tbl", F.col("__tbl").cast("array<double>")
        )
    )

    score = F.expr(
        f"aggregate(sequence(0, {m_sub - 1}), 0D, (acc, i) -> "
        f"acc + element_at(__tbl, CAST(i * {k_codes} + "
        f"element_at(codes, i + 1) + 1 AS INT)))"
    )
    scored = (
        index.join(probe_df, "__list")  # list pruning BEFORE any scoring
        .join(tdf, query_id_col)
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(query_id_col, id_col, score.alias("__s"))
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("__s"), F.asc(id_col))
    shortlist = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= rerank)
        .select(query_id_col, id_col)
    )
    qvecs = F.broadcast(
        spark.createDataFrame(
            [(r[0], [float(x) for x in list(r[1])]) for r in qrows],
            [query_id_col, "__qvec"],
        ).withColumn("__qvec", F.col("__qvec").cast("array<float>"))
    )
    exact = (
        shortlist.join(corpus.select(id_col, vec_col), id_col)
        .join(qvecs, query_id_col)
        .withColumn("__c", dec_cosine(F.col(vec_col), F.col("__qvec")))
    )
    w2 = Window.partitionBy(query_id_col).orderBy(F.desc("__c"), F.asc(id_col))
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "rank")
    )


def model_fingerprint(obj) -> str:
    """Short content hash of driver-held model state (centroids, codebooks)
    for keying PERSISTED index artifacts (ops.dedup.cached_df): the
    artifact's derivation depends on the model, so embedding the model's
    fingerprint in the artifact key auto-invalidates stale on-disk indexes
    whenever training output changes — no manual version bump needed."""
    import hashlib

    return hashlib.md5(repr(obj).encode()).hexdigest()[:12]


def cached_model(spark, key: tuple, builder, sources: tuple):
    """Trained model state (IVF centroids, PQ codebooks) as an artifact of
    the ops.dedup store. Training is DETERMINISTIC (no RNG: seeds are
    hash-sampled rows, means are fixed-point integer arithmetic), so a
    load is bit-identical to retraining, and reuse is the production
    shape: train an index once, serve every query from it. A cold
    process reads the state file instead of re-running the sampled
    k-means corpus pass.

    The model is one slug under ``warehouse/_artifacts`` (located by
    ops.dedup.artifact_location, published by _publish_artifact with its
    ``_KEY.json`` manifest) holding ``model.repr`` and ``_SUCCESS``. The
    key embeds ``source_signature(*sources)`` like every DataFrame
    artifact key, so a fixture regenerated in place trains a new slug
    and vacuum_artifacts reclaims the superseded one. Encoding is
    ``repr`` / ``ast.literal_eval``: an exact round-trip for the nested
    tuple/list/float state trained here (float repr is shortest-round-
    trip), and every caller gets the state read back from the file, so
    :func:`model_fingerprint`, which keys the derived index artifacts,
    is byte-identical across sessions. The in-process memo is
    ops.dedup.session_memo."""
    import ast
    import os

    from etl_data_processor_spark.ops.dedup import (
        _ARTIFACT_VERSION,
        _publish_artifact,
        artifact_location,
        session_memo,
        source_signature,
    )

    sig = source_signature(*sources)
    full = (*key, sig)
    path = artifact_location(spark, full)
    state = os.path.join(path, "model.repr")

    def write_tmp(tmp):
        os.makedirs(tmp)
        with open(os.path.join(tmp, "model.repr"), "w", encoding="utf-8") as f:
            f.write(repr(builder()))
        open(os.path.join(tmp, "_SUCCESS"), "w").close()

    def load():
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            _publish_artifact(
                path,
                write_tmp,
                key_repr=repr((_ARTIFACT_VERSION, *full)),
                sources=sources,
                cur_sig=sig,
            )
        with open(state, encoding="utf-8") as f:
            return ast.literal_eval(f.read())

    return session_memo(spark, full, load)
