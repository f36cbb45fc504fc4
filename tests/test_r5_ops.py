"""Round-5 tests: artifact-store GC (vacuum_artifacts, VERDICT r4 item 5).

The vacuum's contract: reclaim slugs whose recorded source signature no
longer matches reality (unreachable — keys embed the live signature, so no
caller can ever address them again), crashed ``.tmp-*`` orphans, and
manifest-less legacy slugs — but NEVER anything younger than the retention
window (a just-published artifact may be mid-scan in a concurrent reader).
Trained models (ops.similarity.cached_model) are slugs of the same store,
so every rule is also pinned on model-slug inputs.
"""

import json
import os
import time
from types import SimpleNamespace

import pytest

from etl_data_processor_spark.ops import dedup as D


def _mk_slug(adir, name, sources=None, signature=None, success=True, age=None,
             model=None):
    """Hand-build an artifact slug the way cached_df publishes one (or, with
    ``model``, the way cached_model publishes its state file)."""
    path = os.path.join(adir, name)
    os.makedirs(path, exist_ok=True)
    if model is not None:
        with open(os.path.join(path, "model.repr"), "w") as f:
            f.write(repr(model))
    if success:
        open(os.path.join(path, "_SUCCESS"), "w").close()
    if sources is not None:
        with open(os.path.join(path, "_KEY.json"), "w") as f:
            json.dump(
                {
                    "key": repr(("v1", "t", name)),
                    "sources": list(sources),
                    "signature": signature
                    if signature is not None
                    else repr(D.source_signature(*sources)),
                },
                f,
            )
    if age is not None:
        old = time.time() - age
        for name in os.listdir(path):
            os.utime(os.path.join(path, name), (old, old))
        os.utime(path, (old, old))
    return path


@pytest.fixture
def adir(tmp_path):
    d = tmp_path / "warehouse" / "_artifacts"
    d.mkdir(parents=True)
    return str(d)


def _wh(adir):
    return os.path.dirname(adir)


def test_vacuum_reclaims_stale_spares_fresh(adir, tmp_path):
    """A slug whose source was regenerated (signature moved) or removed is
    reclaimed; a slug whose source is byte-identical survives every run."""
    src_live = tmp_path / "live.txt"
    src_live.write_text("corpus v1")
    src_gone = tmp_path / "gone.txt"
    src_gone.write_text("doomed")
    src_rewr = tmp_path / "rewr.txt"
    src_rewr.write_text("old contents")

    _mk_slug(adir, "fresh", sources=[str(src_live)], age=3600)
    _mk_slug(adir, "removed-src", sources=[str(src_gone)], age=3600)
    _mk_slug(adir, "rewritten-src", sources=[str(src_rewr)], age=3600)
    _mk_slug(adir, "model-fresh", sources=[str(src_live)], age=3600,
             model=[(0, [1.0])])
    _mk_slug(adir, "model-stale", sources=[str(src_rewr)], age=3600,
             model=[(0, [1.0])])

    os.remove(src_gone)
    time.sleep(0.01)  # mtime_ns must move on coarse filesystems
    src_rewr.write_text("NEW contents!")

    dropped = D.vacuum_artifacts(warehouse=_wh(adir), min_age_seconds=600)
    assert sorted(dropped) == ["model-stale", "removed-src", "rewritten-src"]
    assert os.path.isdir(os.path.join(adir, "fresh"))
    assert os.path.isdir(os.path.join(adir, "model-fresh"))
    assert not os.path.exists(os.path.join(adir, "removed-src"))
    assert not os.path.exists(os.path.join(adir, "rewritten-src"))
    # idempotent: a second pass finds nothing left to do
    assert D.vacuum_artifacts(warehouse=_wh(adir), min_age_seconds=600) == []


def test_vacuum_retention_window_spares_young(adir, tmp_path):
    """Concurrent-reader safety: anything younger than min_age_seconds is
    spared even when provably stale — a racing builder may be about to
    rename, or a reader may be mid-scan on a slug vacated a moment ago."""
    src = tmp_path / "s.txt"
    src.write_text("x")
    _mk_slug(adir, "young-stale", sources=[str(src)])
    _mk_slug(adir, "young-model-stale", sources=[str(src)], model=[1, 2])
    os.remove(src)
    _mk_slug(adir, "young-legacy")  # no manifest at all
    assert D.vacuum_artifacts(warehouse=_wh(adir), min_age_seconds=600) == []
    assert os.path.isdir(os.path.join(adir, "young-stale"))
    assert os.path.isdir(os.path.join(adir, "young-model-stale"))
    # min_age=0 reclaims all (legacy slugs have no provenance to test)
    dropped = D.vacuum_artifacts(warehouse=_wh(adir), min_age_seconds=0)
    assert sorted(dropped) == [
        "young-legacy", "young-model-stale", "young-stale",
    ]


def test_vacuum_reclaims_tmp_orphans_and_bad_manifest(adir, tmp_path):
    """A .tmp-* dir past the window is a crashed build (publication is an
    atomic rename, so no live writer exists); an unreadable manifest is
    garbage by definition."""
    _mk_slug(adir, "slug.tmp-deadbeef", success=False, age=3600)
    _mk_slug(adir, "model.tmp-0badf00d", success=False, age=3600,
             model=[(0, [1.0])])  # a trainer that died before publishing
    _mk_slug(adir, "legacy-model", age=3600, model=[(0, [1.0])])  # no manifest
    bad = _mk_slug(adir, "bad-manifest")
    with open(os.path.join(bad, "_KEY.json"), "w") as f:
        f.write("{not json")
    old = time.time() - 3600  # writing the manifest reset the dir mtime
    os.utime(bad, (old, old))
    dropped = D.vacuum_artifacts(warehouse=_wh(adir), min_age_seconds=600)
    assert sorted(dropped) == [
        "bad-manifest", "legacy-model", "model.tmp-0badf00d",
        "slug.tmp-deadbeef",
    ]


def test_vacuum_dry_run_deletes_nothing(adir, tmp_path):
    src = tmp_path / "s.txt"
    src.write_text("x")
    _mk_slug(adir, "stale", sources=[str(src)], age=3600)
    _mk_slug(adir, "stale-model", sources=[str(src)], age=3600, model=[1])
    os.remove(src)
    listed = D.vacuum_artifacts(
        warehouse=_wh(adir), min_age_seconds=600, dry_run=True
    )
    assert listed == ["stale", "stale-model"]
    assert os.path.isdir(os.path.join(adir, "stale"))
    assert os.path.isdir(os.path.join(adir, "stale-model"))


def test_vacuum_missing_store_is_noop(tmp_path):
    assert D.vacuum_artifacts(warehouse=str(tmp_path / "nope")) == []


def test_cached_df_records_provenance_and_survives_vacuum(spark, tmp_path):
    """End-to-end: a materialized cached_df with sources= writes a
    _KEY.json whose signature matches, so an aggressive (min_age=0)
    vacuum spares it while its source is unchanged — then reclaims it
    once the source is regenerated and the memo is gone."""
    src = tmp_path / "corpus.parquet"
    spark.range(0, 7).write.mode("overwrite").parquet(str(src))

    def build():
        return spark.read.parquet(str(src))

    key = ("r5", "vac-e2e", D.source_signature(str(src)))
    D.cached_df(
        spark, key, build, materialize=True, sources=(str(src),)
    ).count()
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    import hashlib

    slug = hashlib.md5(repr((D._ARTIFACT_VERSION, *key)).encode()).hexdigest()[:16]
    spath = os.path.join(warehouse, "_artifacts", slug)
    assert os.path.exists(os.path.join(spath, "_KEY.json"))
    # fresh source -> this slug must survive even a zero-retention vacuum
    dropped = D.vacuum_artifacts(spark=spark, min_age_seconds=0)
    assert slug not in dropped and os.path.isdir(spath)
    # regenerate the source: the slug is now unreachable (keys embed the
    # live signature) and a zero-retention vacuum reclaims it
    time.sleep(0.01)
    spark.range(0, 9).write.mode("overwrite").parquet(str(src))
    D._DF_CACHE.clear()
    dropped = D.vacuum_artifacts(spark=spark, min_age_seconds=0)
    assert slug in dropped and not os.path.exists(spath)


def test_artifacts_vacuum_cli(spark, cli_main, adir, tmp_path, capsys):
    """`python -m etl_data_processor_spark artifacts vacuum` is the
    maintain-style entry point (no Spark session required). It collects
    trained models too: a model whose source was regenerated leaves a
    superseded slug, which the CLI reclaims while sparing the current
    one."""
    from etl_data_processor_spark.ops.similarity import cached_model

    src = tmp_path / "s.txt"
    src.write_text("x")
    _mk_slug(adir, "stale", sources=[str(src)], age=3600)
    os.remove(src)

    # the test session, publishing into this test's warehouse
    session = SimpleNamespace(
        sparkContext=spark.sparkContext,
        conf={"spark.sql.warehouse.dir": _wh(adir)},
    )
    corpus = tmp_path / "corpus.bin"
    key = ("r5-cli-model", str(tmp_path))

    def train(state):
        corpus_sig = D.source_signature(str(corpus))
        assert cached_model(
            session, key, lambda: state, sources=(str(corpus),)
        ) == state
        return os.path.basename(
            D.artifact_location(session, (*key, corpus_sig))
        )

    corpus.write_bytes(b"v1")
    superseded = train([(0, [1.0])])
    time.sleep(0.01)  # mtime_ns must move on coarse filesystems
    corpus.write_bytes(b"v2, regenerated")
    current = train([(0, [2.0])])
    assert superseded != current

    rc = cli_main(
        ["artifacts", "vacuum", "--warehouse", _wh(adir), "--min-age", "600"]
    )
    assert rc == 0
    out = capsys.readouterr().out.splitlines()
    assert "stale" in out and superseded not in out  # the models are young
    assert not os.path.exists(os.path.join(adir, "stale"))
    rc = cli_main(
        ["artifacts", "vacuum", "--warehouse", _wh(adir), "--min-age", "0"]
    )
    assert rc == 0
    out = capsys.readouterr().out.splitlines()
    assert superseded in out and current not in out
    assert sorted(os.listdir(adir)) == [current]


def test_deletion_neighborhood_matches_reference_and_is_complete(spark):
    """The Column-expression variant generator must equal the Python
    reference set exactly, and the symmetric-delete blocking must be
    COMPLETE for lev <= 2: every pair within distance 2 shares a variant
    (candidate equi-join is lossless — q_record_linkage's scale path)."""
    from itertools import combinations

    from etl_data_processor_spark.ops.text import deletion_neighborhood

    def ref(s):
        out = {s}
        for i in range(len(s)):
            out.add(s[:i] + s[i + 1:])
        for i, j in combinations(range(len(s)), 2):
            out.add(s[:i] + s[i + 1:j] + s[j + 1:])
        return out

    samples = ["abcde", "ab", "a", "", "Customer#000000001", "aaaa"]
    rows = (
        spark.createDataFrame([(s,) for s in samples], ["s"])
        .select("s", deletion_neighborhood("s", 2).alias("v"))
        .collect()
    )
    for r in rows:
        assert set(r["v"]) == ref(r["s"]), r["s"]

    # completeness over a dense little universe of near strings
    import random

    random.seed(7)
    strs = list(
        {"".join(random.choice("ab") for _ in range(random.randint(1, 6)))
         for _ in range(60)}
    )

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1,
                        prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    for a in strs:
        for b in strs:
            if lev(a, b) <= 2:
                assert ref(a) & ref(b), (a, b)


def test_symdelete_equals_length_band_blocking(spark, sf_dir):
    """The two registered fuzzy blockings (length band vs symmetric
    delete) must return the IDENTICAL pair set — both are lossless
    candidate filters for lev <= 2 over the same keys."""
    from etl_data_processor_spark.ops.text import (
        fuzzy_key_pairs,
        fuzzy_key_pairs_symdelete,
    )

    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    band = {
        (r["key_a"], r["key_b"], r["dist"])
        for r in fuzzy_key_pairs(part, "p_name", 2).collect()
    }
    sym = {
        (r["key_a"], r["key_b"], r["dist"])
        for r in fuzzy_key_pairs_symdelete(part, "p_name", 2).collect()
    }
    assert band == sym and band


def test_dedup_semantic_kept_set_properties(spark, sf_dir):
    """SemDeDup pivot-prune invariants: a vector is dropped IFF some
    PIVOT (one of the 64 lowest ids in its bucket) with a lower id sits
    at cosine >= 0.5 — kept vectors have no such pivot witness, dropped
    vectors have at least one."""
    import math

    import __spark_entry__  # noqa: F401 (registers the full registry)
    from etl_data_processor_spark.registry import QUERIES

    kept_rows = QUERIES["q_dedup_semantic"](spark, sf_dir).collect()
    kept = {r["vec_id"] for r in kept_rows}
    raw = spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    nbits = max(6, ((len(raw) + 31) // 32 - 1).bit_length() or 1)
    emb = {
        r["vec_id"]: (
            r["embedding"],
            "".join(
                "1" if r["embedding"][i] >= 0 else "0" for i in range(nbits)
            ),
        )
        for r in raw
    }

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / math.sqrt(
            sum(x * x for x in a) * sum(y * y for y in b)
        )

    by_bucket: dict[int, list[int]] = {}
    for vid, (_, bkt) in emb.items():
        by_bucket.setdefault(bkt, []).append(vid)
    pivots = {
        bkt: set(sorted(vids)[:64]) for bkt, vids in by_bucket.items()
    }

    def has_witness(b, lo, hi):
        bkt = emb[b][1]
        return any(
            a < b and lo <= cos(emb[a][0], emb[b][0])
            for a in pivots[bkt]
        )

    for b in sorted(emb):
        if b in kept:
            bkt = emb[b][1]
            for a in pivots[bkt]:
                if a < b:
                    assert cos(emb[a][0], emb[b][0]) < 0.500001, (a, b)
        else:
            assert has_witness(b, 0.499999, None), b


def test_corpus_mix_manifest_properties(spark, sf_dir):
    """Mix invariants: rates in (0, 1]; kept counts never exceed source
    size; sources with rate 1.0 keep everything; the manifest is
    deterministic across runs (hash sampling, no RNG)."""
    import __spark_entry__  # noqa: F401 (registers the full registry)
    from etl_data_processor_spark.registry import QUERIES

    rows1 = sorted(
        map(tuple, QUERIES["q_corpus_mix"](spark, sf_dir).collect())
    )
    rows2 = sorted(
        map(tuple, QUERIES["q_corpus_mix"](spark, sf_dir).collect())
    )
    assert rows1 == rows2 and len(rows1) == 20
    import duckdb

    src_sizes = dict(
        duckdb.sql(
            f"SELECT source, COUNT(*) FROM '{sf_dir}/documents.parquet' "
            "GROUP BY source"
        ).fetchall()
    )
    for source, weight, rate6, kept_docs, kept_tokens in rows1:
        assert 0.0 < rate6 <= 1.0 and weight in (1, 2, 3)
        assert 0 <= kept_docs <= src_sizes[source]
        if rate6 == 1.0:
            assert kept_docs == src_sizes[source]
        if kept_docs == 0:
            assert kept_tokens == 0


def test_semantic_dedup_with_trained_centroids(spark, sf_dir):
    """The production clusterer swap: semantic_dedup_kept over TRAINED
    IVF assignments (ivf_assign_argmax) instead of sign buckets. Prune
    invariant must hold for whatever clustering was used: no kept vector
    has a lower-id cluster-mate at cosine >= tau, every dropped one
    does."""
    import math

    from pyspark.sql import functions as F

    from etl_data_processor_spark.ops import similarity as SIM

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = SIM.train_ivf_centroids(emb, n_lists=8, iters=2)
    assigned = SIM.ivf_assign_argmax(
        emb.select("vec_id", "embedding"), cents
    ).select("vec_id", F.col("__list").alias("bucket"))
    cv = emb.select("vec_id", "embedding").join(assigned, "vec_id")
    kept = {
        r["vec_id"]
        for r in SIM.semantic_dedup_kept(cv, tau=0.3).collect()
    }
    rows = {
        r["vec_id"]: (r["embedding"], r["bucket"]) for r in cv.collect()
    }

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / math.sqrt(sum(x * x for x in a) * sum(y * y for y in b))

    by_bucket: dict[int, list[int]] = {}
    for vid, (_, bkt) in rows.items():
        by_bucket.setdefault(bkt, []).append(vid)
    pivots = {
        bkt: set(sorted(vids)[:64]) for bkt, vids in by_bucket.items()
    }
    dropped = set(rows) - kept
    assert kept and dropped  # the prune did something on this fixture
    for b in sorted(dropped):
        bkt = rows[b][1]
        assert any(
            a < b and cos(rows[a][0], rows[b][0]) >= 0.299999
            for a in pivots[bkt]
        ), b
    for b in sorted(kept):
        bkt = rows[b][1]
        for a in pivots[bkt]:
            if a < b:
                assert cos(rows[a][0], rows[b][0]) < 0.300001, (a, b)


def test_cached_df_incremental_append_only(spark, tmp_path):
    """Incremental artifact maintenance: after an APPEND-ONLY source
    change, the rebuild must call delta_builder with exactly the new
    files (never the full builder), produce contents identical to a
    from-scratch derivation, and record its ancestor in the manifest.
    A non-append change (rewrite of an old file) must fall back to the
    full builder."""
    import glob
    import json
    import os
    import shutil
    import time

    from pyspark.sql import functions as F

    from etl_data_processor_spark.ops import dedup as D

    corpus = tmp_path / "corpus.parquet"

    def add_file(lo, hi, name):
        stage = str(tmp_path / "stage")
        spark.range(lo, hi).selectExpr(
            "id", "id * 3 AS v"
        ).coalesce(1).write.mode("overwrite").parquet(stage)
        os.makedirs(corpus, exist_ok=True)
        part = glob.glob(f"{stage}/part-*.parquet")[0]
        shutil.copy(part, str(corpus / name))

    add_file(0, 10, "f1.parquet")
    calls = {"full": 0, "delta": 0, "delta_files": None}

    def derive(df):
        return df.select("id", (F.col("v") * 10).alias("w"))

    def full():
        calls["full"] += 1
        return derive(spark.read.parquet(str(corpus)))

    def delta(files):
        calls["delta"] += 1
        calls["delta_files"] = sorted(files)
        return derive(spark.read.parquet(*files))

    fam = f"test-inc:{tmp_path}"

    def build():
        sig = D.source_signature(str(corpus))
        return D.cached_df(
            spark,
            ("inc", fam, sig),
            full,
            materialize=True,
            sources=(str(corpus),),
            family=fam,
            delta_builder=delta,
        )

    assert build().count() == 10 and calls["full"] == 1

    time.sleep(0.01)
    add_file(10, 25, "f2.parquet")
    D._DF_CACHE.clear()
    df2 = build()
    assert calls["full"] == 1 and calls["delta"] == 1  # delta path taken
    assert calls["delta_files"] == [str(corpus / "f2.parquet")]
    got = sorted((r["id"], r["w"]) for r in df2.collect())
    assert got == [(i, i * 30) for i in range(25)]  # == full derivation
    # ancestry recorded in the manifest
    import hashlib

    sig = D.source_signature(str(corpus))
    slug = hashlib.md5(
        repr((D._ARTIFACT_VERSION, "inc", fam, sig)).encode()
    ).hexdigest()[:16]
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    with open(
        os.path.join(warehouse, "_artifacts", slug, "_KEY.json")
    ) as f:
        meta = json.load(f)
    assert meta["family"] == fam and "incremental_from" in meta

    # REWRITE an old file -> not append-only -> full rebuild
    time.sleep(0.01)
    add_file(0, 10, "f1.parquet")  # same rows, new mtime/bytes
    D._DF_CACHE.clear()
    df3 = build()
    assert calls["full"] == 2 and calls["delta"] == 1
    assert df3.count() == 25


# ---------------------------------------------------------------------
# B63: segment-level dedup + deterministic shard placement
# ---------------------------------------------------------------------


def test_dedup_segments_hand_checked(spark):
    """Hand-built corpus: a 3-word boilerplate segment shared by 3 docs is
    removed everywhere (aligned to the fixed chunk grid), a fully-
    boilerplate doc survives with clean_text='', and survivors keep their
    original order."""
    from etl_data_processor_spark.ops.text import dedup_segments

    rows = [
        # docs 1-3 share the aligned segment "the same header"
        (1, "the same header alpha beta gamma"),
        (2, "the same header delta eps zeta"),
        (3, "the same header"),  # entirely boilerplate
        (4, "unique words only here today friend"),
        # shared by only TWO docs -> kept (min_docs=3)
        (5, "twice seen chunk plus tail words"),
        (6, "twice seen chunk other tail words"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in dedup_segments(df, width=3, min_docs=3).collect()
    }
    assert out[1]["clean_text"] == "alpha beta gamma"
    assert out[1]["n_chunks"] == 2 and out[1]["n_dropped"] == 1
    assert out[2]["clean_text"] == "delta eps zeta"
    assert out[3]["clean_text"] == "" and out[3]["n_dropped"] == 1
    assert out[4]["clean_text"] == "unique words only here today friend"
    assert out[4]["n_dropped"] == 0
    assert out[5]["clean_text"] == "twice seen chunk plus tail words"
    assert out[6]["n_dropped"] == 0


def test_dedup_segments_order_preserved_many_chunks(spark):
    """A long doc whose middle segment is boilerplate reassembles with the
    remaining segments in original order (collect_list is unordered until
    array_sort on pos — this would fail if pos were dropped)."""
    from etl_data_processor_spark.ops.text import dedup_segments

    filler = " ".join(f"w{i}" for i in range(30))  # 10 chunks
    boiler = "x x x"
    rows = [(1, f"{filler} {boiler}"), (2, boiler), (3, boiler)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in dedup_segments(df, width=3, min_docs=3).collect()
    }
    assert out[1]["clean_text"] == filler
    assert out[1]["n_chunks"] == 11 and out[1]["n_dropped"] == 1


def test_shard_assignment_deterministic_and_partition_independent(spark):
    from etl_data_processor_spark.ops.sampling import shard_assignment

    df = spark.range(0, 2000).withColumnRenamed("id", "k")
    a = shard_assignment(df, "k", 16)
    b = shard_assignment(df.repartition(7), "k", 16)
    ra = sorted(a.collect())
    rb = sorted(b.collect())
    assert ra == rb  # placement is partitioning-independent
    shards = {r["shard"] for r in ra}
    assert shards == set(range(16))  # all shards populated
    # placement and order keys are independent (different seeds)
    same = sum(1 for r in ra if r["shard"] == r["order_key"] % 16)
    assert same < 400  # ~1/16 expected, not all
    # balanced within 3x of ideal
    from collections import Counter

    c = Counter(r["shard"] for r in ra)
    assert max(c.values()) < 3 * (2000 / 16)


def test_shard_manifest_no_window_and_checksum_order_free(spark, sf_dir):
    """The manifest plan must contain no WindowExec (the per-shard 'first
    doc' is a min+join two-step) and the checksum must not depend on row
    order."""
    from etl_data_processor_spark.queries_r5 import q_shard_manifest

    df = q_shard_manifest(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    rows = {r["shard"]: r for r in df.collect()}
    assert len(rows) == 16
    assert all(0 <= r["id_checksum"] < (1 << 32) for r in rows.values())


def test_bpe_pair_counts_hand_checked(spark):
    """'abab' x3 + 'ba' x2: pair counts are weighted by word frequency and
    multiplicity inside the word ('abab' contributes ab,ba,ab per
    occurrence)."""
    from etl_data_processor_spark.ops.text import bpe_pair_counts

    rows = [(1, "abab abab ba"), (2, "abab ba x")]  # 'x' is 1-char: ignored
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["pair"]: r["cnt"] for r in bpe_pair_counts(df).collect()}
    assert out == {"ab": 6, "ba": 5}  # ab: 2*3 words; ba: 1*3 + 2


def test_dedup_consecutive_words_hand_checked(spark):
    from etl_data_processor_spark.ops.text import dedup_consecutive_words

    rows = [
        (1, "the the the cat sat sat on on on on mat"),
        (2, "a b a b"),  # non-adjacent repeats kept
        (3, "solo"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in dedup_consecutive_words(df).collect()}
    assert out[1]["clean_text"] == "the cat sat on mat"
    assert out[1]["n_words"] == 11 and out[1]["n_removed"] == 6
    assert out[2]["clean_text"] == "a b a b" and out[2]["n_removed"] == 0
    assert out[3]["clean_text"] == "solo" and out[3]["n_removed"] == 0


def test_dedup_consecutive_nonvacuous_on_fixture(spark, sf_dir):
    """The synthetic corpus does contain consecutive repeats — the query
    must actually remove something (guards against a vacuously-green
    oracle)."""
    from etl_data_processor_spark.queries_r5 import q_text_dedup_consecutive
    from pyspark.sql import functions as F

    removed = (
        q_text_dedup_consecutive(spark, sf_dir)
        .agg(F.sum("n_removed").alias("s"))
        .collect()[0]["s"]
    )
    assert removed > 0


def test_b63_b64_text_ops_random_differential(spark):
    """Seeded random-corpus differential: the three round-5 text operators
    must equal straightforward pure-Python references on 200 random docs
    (vocab small enough to force real boilerplate, runs, and pair ties)."""
    import random
    from collections import Counter

    from etl_data_processor_spark.ops.text import (
        bpe_pair_counts,
        dedup_consecutive_words,
        dedup_segments,
    )

    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(12)]
    boiler = "b1 b2 b3"
    docs = []
    for i in range(200):
        words = [rng.choice(vocab) for _ in range(rng.randint(3, 40))]
        if rng.random() < 0.3:  # plant aligned boilerplate at chunk 0
            words = boiler.split() + words
        if rng.random() < 0.5:  # plant a consecutive run
            j = rng.randrange(len(words))
            words[j:j] = [words[j]] * rng.randint(1, 3)
        docs.append((i, " ".join(words)))
    df = spark.createDataFrame(docs, ["doc_id", "text"])

    # --- reference: dedup_segments(width=3, min_docs=3)
    def seg(ws):
        return [" ".join(ws[k : k + 3]) for k in range(0, len(ws), 3)]

    by_doc = {i: t.split() for i, t in docs}
    owners = {}
    for i, ws in by_doc.items():
        for ch in set(seg(ws)):
            owners[ch] = owners.get(ch, 0) + 1
    dropped = {ch for ch, n in owners.items() if n >= 3}
    ref_seg = {}
    for i, ws in by_doc.items():
        chunks = seg(ws)
        kept = [c for c in chunks if c not in dropped]
        ref_seg[i] = (" ".join(kept), len(chunks), len(chunks) - len(kept))
    got = {
        r["doc_id"]: (r["clean_text"], r["n_chunks"], r["n_dropped"])
        for r in dedup_segments(df, width=3, min_docs=3).collect()
    }
    assert got == ref_seg

    # --- reference: dedup_consecutive_words
    ref_run = {}
    for i, ws in by_doc.items():
        kept = [w for k, w in enumerate(ws) if k == 0 or w != ws[k - 1]]
        ref_run[i] = (" ".join(kept), len(ws), len(ws) - len(kept))
    got = {
        r["doc_id"]: (r["clean_text"], r["n_words"], r["n_removed"])
        for r in dedup_consecutive_words(df).collect()
    }
    assert got == ref_run

    # --- reference: bpe_pair_counts top-20 with (cnt desc, pair asc) order
    wf = Counter(w for ws in by_doc.values() for w in ws)
    pc = Counter()
    for w, f in wf.items():
        if len(w) >= 2:
            for k in range(len(w) - 1):
                pc[w[k : k + 2]] += f
    ref_top = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    got_top = [
        (r["pair"], r["cnt"]) for r in bpe_pair_counts(df, top_n=20).collect()
    ]
    assert got_top == ref_top


def test_dedup_lines_plan_three_narrow_shuffles(spark, sf_dir):
    """Plan pin for the docstring's claim: q_dedup_lines runs on exactly
    3 hash exchanges (boilerplate count, reassembly agg, doc rejoin —
    AQE may broadcast the tiny dup set), no Window, no cartesian."""
    from etl_data_processor_spark.queries_r5 import q_dedup_lines

    plan = (
        q_dedup_lines(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") <= 3
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan

# ---------------------------------------------------------------------------
# Round-6 hardening (ADVICE r5): live-build-aware tmp aging, ancestor-sparing
# GC, and params-checked incremental ancestry.
# ---------------------------------------------------------------------------


def test_vacuum_ages_tmp_dirs_by_tree_newest_mtime(adir):
    """A long-running build writes part files into nested _temporary/
    subdirs without touching the tmp dir's top-level mtime. The vacuum
    must age .tmp-* dirs by the NEWEST mtime anywhere in the tree, so a
    build still making progress is spared however old its top-level dir
    is — and reclaimed only once every file in it has gone quiet."""
    path = os.path.join(adir, "slug.tmp-livebuild")
    nested = os.path.join(path, "_temporary", "0", "task-1")
    os.makedirs(nested)
    open(os.path.join(nested, "part-0001.parquet"), "w").close()
    old = time.time() - 3600
    # top-level (and intermediate) dirs look ancient; the part file is hot
    for p in (path, os.path.join(path, "_temporary"),
              os.path.join(path, "_temporary", "0"), nested):
        os.utime(p, (old, old))
    assert D.vacuum_artifacts(warehouse=_wh(adir), min_age_seconds=600) == []
    assert os.path.isdir(path)
    # the writer goes quiet: every mtime in the tree past the window
    os.utime(os.path.join(nested, "part-0001.parquet"), (old, old))
    dropped = D.vacuum_artifacts(warehouse=_wh(adir), min_age_seconds=600)
    assert dropped == ["slug.tmp-livebuild"]


def _mk_family_slug(adir, name, sources, signature, family, params="('p',)",
                    age=3600.0):
    path = _mk_slug(adir, name, sources=sources, signature=signature, age=None)
    with open(os.path.join(path, "_KEY.json")) as f:
        meta = json.load(f)
    meta["family"] = family
    meta["params"] = params
    with open(os.path.join(path, "_KEY.json"), "w") as f:
        json.dump(meta, f)
    old = time.time() - age
    os.utime(path, (old, old))
    return path


def test_vacuum_spares_closest_incremental_ancestor(adir, tmp_path):
    """A stale family slug whose signature is a strict subset of the
    CURRENT source signature is the append-only ancestor the next
    incremental build reads: the vacuum spares the CLOSEST one per
    (family, params) and reclaims the rest of the chain. A different
    params value is a different chain. A non-append rewrite breaks the
    subset relation and everything becomes reclaimable."""
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    sig_parts = []
    for i in range(3):
        time.sleep(0.01)
        f = corpus / f"f{i}.txt"
        f.write_text(f"chunk {i}")
        sig_parts.append(D.source_signature(str(corpus)))
    # gen0 saw f0 only; gen1 saw f0+f1; both subsets of current (f0+f1+f2)
    _mk_family_slug(adir, "gen0", [str(corpus)], repr(sig_parts[0]), "famA")
    _mk_family_slug(adir, "gen1", [str(corpus)], repr(sig_parts[1]), "famA")
    # same family name, DIFFERENT params: its own chain, closest spared
    _mk_family_slug(adir, "gen0-p2", [str(corpus)], repr(sig_parts[0]),
                    "famA", params="('p2',)")
    dropped = D.vacuum_artifacts(warehouse=_wh(adir), min_age_seconds=600)
    assert dropped == ["gen0"]  # gen1 = closest famA/p ancestor, spared
    assert os.path.isdir(os.path.join(adir, "gen1"))
    assert os.path.isdir(os.path.join(adir, "gen0-p2"))

    # non-append rewrite: f0 changes, old signatures no longer subsets
    time.sleep(0.01)
    (corpus / "f0.txt").write_text("REWRITTEN")
    dropped = D.vacuum_artifacts(warehouse=_wh(adir), min_age_seconds=600)
    assert sorted(dropped) == ["gen0-p2", "gen1"]


def test_incremental_base_requires_matching_params(spark, tmp_path):
    """ADVICE r5: a family reused with different derivation parameters
    must NOT union an old ancestor's rows with rows derived under the new
    parameters — the params (key minus signature) are recorded in the
    manifest and an ancestor is only accepted when they match exactly."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    corpus = tmp_path / "corpus.parquet"

    def add_file(lo, hi, name):
        stage = str(tmp_path / "stage")
        spark.range(lo, hi).selectExpr("id", "id * 3 AS v").coalesce(
            1
        ).write.mode("overwrite").parquet(stage)
        os.makedirs(corpus, exist_ok=True)
        part = glob.glob(f"{stage}/part-*.parquet")[0]
        shutil.copy(part, str(corpus / name))

    fam = f"test-params:{tmp_path}"
    calls = {"full": 0, "delta": 0}

    def build(mult):
        sig = D.source_signature(str(corpus))

        def full():
            calls["full"] += 1
            return spark.read.parquet(str(corpus)).select(
                "id", (F.col("v") * mult).alias("w")
            )

        def delta(files):
            calls["delta"] += 1
            return spark.read.parquet(*files).select(
                "id", (F.col("v") * mult).alias("w")
            )

        return D.cached_df(
            spark,
            ("inc-params", fam, mult, sig),
            full,
            materialize=True,
            sources=(str(corpus),),
            family=fam,
            delta_builder=delta,
        )

    add_file(0, 10, "f1.parquet")
    assert build(10).count() == 10 and calls == {"full": 1, "delta": 0}

    time.sleep(0.01)
    add_file(10, 20, "f2.parquet")
    D._DF_CACHE.clear()
    # SAME params (mult=10): incremental path is taken
    assert build(10).count() == 20 and calls == {"full": 1, "delta": 1}

    time.sleep(0.01)
    add_file(20, 30, "f3.parquet")
    D._DF_CACHE.clear()
    # DIFFERENT params (mult=100): the mult=10 ancestors must be refused —
    # a delta union would mix w = v*10 rows under a w = v*100 key
    df = build(100)
    assert calls == {"full": 2, "delta": 1}
    got = sorted((r["id"], r["w"]) for r in df.collect())
    assert got == [(i, i * 300) for i in range(30)]


def _race_publisher(slug_path, src, wid, barrier, out):
    from etl_data_processor_spark.ops import dedup as Dm

    def write_tmp(tmp):
        os.makedirs(tmp)
        for j in range(4):  # a "long" build: files keep landing over ~0.6s
            with open(os.path.join(tmp, f"part-{j}.bin"), "w") as f:
                f.write(f"w{wid}-{j}")
            time.sleep(0.15)
        with open(os.path.join(tmp, "winner.txt"), "w") as f:
            f.write(str(wid))
        open(os.path.join(tmp, "_SUCCESS"), "w").close()

    barrier.wait()
    won = Dm._publish_artifact(
        slug_path,
        write_tmp,
        key_repr="('v1', 'race')",
        params="()",
        sources=(src,),
        cur_sig=Dm.source_signature(src),
    )
    readable = os.path.exists(os.path.join(slug_path, "_SUCCESS"))
    out.put(("builder", wid, won, readable))


def _race_vacuumer(warehouse, stop_evt, out):
    from etl_data_processor_spark.ops import dedup as Dm

    drops = []
    while not stop_evt.is_set():
        drops += Dm.vacuum_artifacts(warehouse=warehouse, min_age_seconds=0.5)
        time.sleep(0.05)
    drops += Dm.vacuum_artifacts(warehouse=warehouse, min_age_seconds=0.5)
    out.put(("vacuum", drops))


def test_multiprocess_publish_vacuum_race(tmp_path):
    """VERDICT r5 item 7: N real OS processes race to build and publish
    the SAME artifact slug while a concurrent vacuum loops over the store
    with a sub-second retention window. Required outcome: exactly one
    builder wins the atomic rename, every loser still reads the winner's
    artifact, the vacuum never reclaims an in-flight tmp (their newest-
    file mtime keeps moving — the ADVICE r5 tree-aging fix) nor the
    just-published slug (its signature matches its live source), and the
    store ends with exactly the published slug — zero lost artifacts,
    zero stranded tmps."""
    import multiprocessing as mp

    warehouse = str(tmp_path / "warehouse")
    adir = os.path.join(warehouse, "_artifacts")
    os.makedirs(adir)
    src = str(tmp_path / "corpus.txt")
    with open(src, "w") as f:
        f.write("corpus")
    slug_path = os.path.join(adir, "raceslug")

    n_builders = 6
    ctx = mp.get_context("fork")
    barrier = ctx.Barrier(n_builders)
    stop_evt = ctx.Event()
    out: mp.Queue = ctx.Queue()
    vac = ctx.Process(target=_race_vacuumer, args=(warehouse, stop_evt, out))
    builders = [
        ctx.Process(
            target=_race_publisher, args=(slug_path, src, w, barrier, out)
        )
        for w in range(n_builders)
    ]
    vac.start()
    for p in builders:
        p.start()
    results = [out.get(timeout=120) for _ in builders]
    stop_evt.set()
    vac_kind, drops = out.get(timeout=60)
    for p in builders + [vac]:
        p.join(timeout=60)
        assert p.exitcode == 0
    assert vac_kind == "vacuum"

    wins = [wid for (_, wid, won, _) in results if won]
    assert len(wins) == 1  # exactly one atomic-rename winner
    assert all(readable for (_, _, _, readable) in results)  # losers read it
    with open(os.path.join(slug_path, "winner.txt")) as f:
        assert f.read() == str(wins[0])  # the published copy IS the winner's
    assert drops == []  # vacuum touched neither live tmps nor the slug
    assert sorted(os.listdir(adir)) == ["raceslug"]  # no stranded tmps
    with open(os.path.join(slug_path, "_KEY.json")) as f:
        meta = json.load(f)
    assert meta["signature"] == repr(D.source_signature(src))


def test_vacuum_reclaims_legacy_family_slug_without_params(adir, tmp_path):
    """ADVICE r6: a pre-params family manifest is unusable by
    _find_incremental_base (which requires params equality), so the
    vacuum must classify it as plain garbage — never spare it forever as
    the closest (family, None) ancestor."""
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    (corpus / "f0.txt").write_text("chunk 0")
    sig0 = D.source_signature(str(corpus))
    time.sleep(0.01)
    (corpus / "f1.txt").write_text("chunk 1")  # append-only growth

    path = _mk_slug(adir, "legacy-gen0", sources=[str(corpus)],
                    signature=repr(sig0), age=None)
    with open(os.path.join(path, "_KEY.json")) as f:
        meta = json.load(f)
    meta["family"] = "famL"  # legacy: family but NO params key
    with open(os.path.join(path, "_KEY.json"), "w") as f:
        json.dump(meta, f)
    old = time.time() - 3600
    os.utime(path, (old, old))

    # a proper params-bearing sibling chain is still spared
    _mk_family_slug(adir, "modern-gen0", [str(corpus)], repr(sig0), "famL")

    dropped = D.vacuum_artifacts(warehouse=_wh(adir), min_age_seconds=600)
    assert dropped == ["legacy-gen0"]
    assert os.path.isdir(os.path.join(adir, "modern-gen0"))
