"""Log-structured parquet table format (etl_data_processor_spark/
tableformat.py): snapshot isolation, time travel, optimistic concurrency,
compaction and vacuum."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_data_processor_spark import tableformat as TF


def ids(df):
    return sorted(r["id"] for r in df.collect())


def test_append_is_transactional_and_versioned(spark, tmp_path):
    t = str(tmp_path / "t")
    v0 = TF.append(spark.range(0, 5), t)
    v1 = TF.append(spark.range(5, 8), t)
    assert (v0, v1) == (0, 1)
    assert ids(TF.read(spark, t)) == list(range(8))
    # time travel: the first snapshot is still replayable
    assert ids(TF.read(spark, t, version=0)) == list(range(5))
    assert [c["mode"] for c in TF.history(t)] == ["append", "append"]


def test_overwrite_replaces_snapshot_with_time_travel(spark, tmp_path):
    t = str(tmp_path / "t")
    TF.append(spark.range(0, 5), t)
    v = TF.overwrite(spark.range(100, 103), t)
    assert ids(TF.read(spark, t)) == [100, 101, 102]
    assert ids(TF.read(spark, t, version=v - 1)) == list(range(5))


def test_compact_preserves_rows_and_shrinks_files(spark, tmp_path):
    t = str(tmp_path / "t")
    for i in range(5):
        TF.append(spark.range(i * 10, i * 10 + 10).repartition(4), t)
    before = ids(TF.read(spark, t))
    v = TF.compact(spark, t, target_files=2)
    assert ids(TF.read(spark, t)) == before
    # one live group after compaction
    assert len(TF._live_groups(t)) == 1
    # pre-compaction snapshot still replays the old layout
    assert ids(TF.read(spark, t, version=v - 1)) == before


def test_append_rebases_on_conflict_overwrite_fails(spark, tmp_path):
    t = str(tmp_path / "t")
    TF.append(spark.range(0, 3), t)

    # simulate a racing writer claiming the next version
    real_publish = TF._try_publish
    raced = {"done": False}

    def racing_publish(table_dir, version, commit):
        if not raced["done"]:
            raced["done"] = True
            real_publish(
                table_dir,
                version,
                {"version": version, "mode": "append", "ts_unix": 0,
                 "actions": []},
            )
        return real_publish(table_dir, version, commit)

    TF._try_publish = racing_publish
    try:
        v = TF.append(spark.range(3, 6), t)  # loses v1, lands at v2
    finally:
        TF._try_publish = real_publish
    assert v == 2
    assert ids(TF.read(spark, t)) == list(range(6))

    # overwrite computed against a stale head must refuse
    head = TF._versions(t)[-1]
    real_publish(
        t, head + 1,
        {"version": head + 1, "mode": "append", "ts_unix": 0, "actions": []},
    )
    g = TF._write_group(spark.range(99, 100), t)
    with pytest.raises(TF.ConflictError):
        TF._commit(t, "overwrite", [TF._add_action(g)], removes_from=head)


def test_vacuum_reclaims_old_and_orphaned_groups(spark, tmp_path):
    t = str(tmp_path / "t")
    TF.append(spark.range(0, 5), t)
    TF.overwrite(spark.range(5, 9), t)
    # crash-orphan: a data group no commit ever referenced
    os.makedirs(os.path.join(t, "data", "deadbeef" * 4))
    # retention guard first: fresh groups are spared (in-flight writers)
    assert TF.vacuum(t, keep_versions=1) == []
    dropped = TF.vacuum(t, keep_versions=1, min_age_seconds=0)
    assert len(dropped) == 2  # the overwritten group + the orphan
    assert ids(TF.read(spark, t)) == [5, 6, 7, 8]
    # time travel beyond retention is gone (files deleted)
    with pytest.raises(Exception):
        TF.read(spark, t, version=0).collect()


def test_upsert_composes_with_apply_changes(spark, tmp_path):
    """The CDC MERGE op composes with the table format: read snapshot,
    apply a change batch, commit as overwrite — the Delta MERGE loop in
    plain parquet."""
    from etl_data_processor_spark.ops.cdc import apply_changes

    t = str(tmp_path / "t")
    TF.append(
        spark.range(0, 10).select(
            F.col("id"), (F.col("id") * 10).alias("val")
        ),
        t,
    )
    changes = spark.createDataFrame(
        [(3, 999, "U"), (11, 110, "I"), (5, 0, "D")], "id long, val long, op string"
    )
    snap = TF.read(spark, t)
    merged = apply_changes(snap, changes, key="id")
    TF.overwrite(merged, t)
    got = {r["id"]: r["val"] for r in TF.read(spark, t).collect()}
    assert got[3] == 999 and got[11] == 110 and 5 not in got
    assert len(got) == 10


def _kv(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"), (F.col("id") * 10).alias("val")
    )


def test_merge_rewrites_only_touched_groups(spark, tmp_path):
    """MERGE with key-range stats must rewrite exactly the groups whose
    range overlaps the change keys; the others stay live under their
    original group ids (no data movement)."""
    t = str(tmp_path / "t")
    for lo in (0, 100, 200):
        TF.append(_kv(spark, lo, lo + 100), t, stats_cols=["id"])
    untouched_before = {
        a["group"]
        for a in TF._live_adds(t)
        if a["stats"]["id"]["min"] >= 100
    }
    changes = spark.createDataFrame(
        [(3, 999, "U"), (7, 0, "D"), (1000, 123, "I")],
        "id long, val long, op string",
    )
    v, rewritten, total = TF.merge(
        spark, t, changes, key="id", stats_cols=["id"]
    )
    assert (rewritten, total) == (1, 3)  # only the [0,100) group
    untouched_after = {
        a["group"]
        for a in TF._live_adds(t)
        if a.get("stats", {}).get("id", {}).get("min", -1) is not None
        and a["stats"]["id"]["min"] >= 100
        and a["stats"]["id"]["max"] <= 299
    }
    assert untouched_before <= untouched_after
    got = {r["id"]: r["val"] for r in TF.read(spark, t).collect()}
    assert got[3] == 999 and 7 not in got and got[1000] == 123
    assert len(got) == 300  # 300 - 1 delete + 1 insert
    # time travel: pre-merge snapshot intact
    assert len(TF.read(spark, t, version=v - 1).collect()) == 300


def test_merge_equals_full_apply_changes(spark, tmp_path):
    """Differential: pruned MERGE == read -> apply_changes -> overwrite."""
    from etl_data_processor_spark.ops.cdc import apply_changes

    t = str(tmp_path / "t")
    for lo in (0, 50):
        TF.append(_kv(spark, lo, lo + 50), t, stats_cols=["id"])
    changes = spark.createDataFrame(
        [(10, 1, "U"), (60, 2, "U"), (99, 0, "D"), (500, 3, "I")],
        "id long, val long, op string",
    )
    expected = sorted(
        (r["id"], r["val"])
        for r in apply_changes(
            TF.read(spark, t), changes, key="id"
        ).collect()
    )
    TF.merge(spark, t, changes, key="id")
    got = sorted((r["id"], r["val"]) for r in TF.read(spark, t).collect())
    assert got == expected


def test_merge_pure_insert_batch_touches_nothing(spark, tmp_path):
    t = str(tmp_path / "t")
    TF.append(_kv(spark, 0, 10), t, stats_cols=["id"])
    changes = spark.createDataFrame(
        [(100, 5, "I"), (101, 6, "U")], "id long, val long, op string"
    )  # 'U' on an absent key upserts -> insert
    v, rewritten, total = TF.merge(spark, t, changes, key="id")
    assert (rewritten, total) == (0, 1)
    got = ids(TF.read(spark, t))
    assert got == list(range(10)) + [100, 101]


def test_merge_conservative_without_stats(spark, tmp_path):
    t = str(tmp_path / "t")
    TF.append(_kv(spark, 0, 10), t)  # no stats recorded
    TF.append(_kv(spark, 10, 20), t, stats_cols=["id"])
    changes = spark.createDataFrame(
        [(15, 0, "D")], "id long, val long, op string"
    )
    v, rewritten, total = TF.merge(spark, t, changes, key="id")
    assert (rewritten, total) == (2, 2)  # stats-less group can't be skipped
    assert ids(TF.read(spark, t)) == [i for i in range(20) if i != 15]


def test_merge_conflicts_on_stale_base(spark, tmp_path):
    t = str(tmp_path / "t")
    TF.append(_kv(spark, 0, 10), t, stats_cols=["id"])
    changes = spark.createDataFrame(
        [(3, 0, "D")], "id long, val long, op string"
    )
    real_publish = TF._try_publish
    raced = {"done": False}

    def racing_publish(table_dir, version, commit):
        if not raced["done"]:
            raced["done"] = True
            real_publish(
                table_dir, version,
                {"version": version, "mode": "append", "ts_unix": 0,
                 "actions": []},
            )
        return real_publish(table_dir, version, commit)

    TF._try_publish = racing_publish
    try:
        with pytest.raises(TF.ConflictError):
            TF.merge(spark, t, changes, key="id")
    finally:
        TF._try_publish = real_publish


def test_mor_delete_rewrites_nothing(spark, tmp_path):
    """Merge-on-read delete: rows disappear from reads but every data
    group stays live untouched — only a delete-key file is committed."""
    t = str(tmp_path / "t")
    TF.append(_kv(spark, 0, 50), t, stats_cols=["id"])
    TF.append(_kv(spark, 50, 100), t, stats_cols=["id"])
    data_before = {
        a["group"] for a in TF._live_adds(t) if a.get("kind", "data") == "data"
    }
    v, n = TF.delete_where(spark, t, "id", F.col("id") % 10 == 3)
    assert n == 10
    assert TF.history(t)[-1]["mode"] == "delete"
    data_after = {
        a["group"] for a in TF._live_adds(t) if a.get("kind", "data") == "data"
    }
    assert data_after == data_before  # no rewrite, no removal
    assert ids(TF.read(spark, t)) == [i for i in range(100) if i % 10 != 3]
    # time travel: the pre-delete snapshot still has every row
    assert ids(TF.read(spark, t, version=v - 1)) == list(range(100))


def test_mor_reinserted_keys_survive_older_deletes(spark, tmp_path):
    """The sequence rule: a delete only affects data committed BEFORE it,
    so appending a deleted key afterwards brings it back."""
    t = str(tmp_path / "t")
    TF.append(_kv(spark, 0, 10), t)
    TF.delete_where(spark, t, "id", F.col("id") < 3)
    assert ids(TF.read(spark, t)) == list(range(3, 10))
    TF.append(_kv(spark, 0, 2), t)  # re-insert two deleted keys
    assert ids(TF.read(spark, t)) == [0, 1] + list(range(3, 10))


def test_compact_folds_deletes_in(spark, tmp_path):
    t = str(tmp_path / "t")
    TF.append(_kv(spark, 0, 40), t)
    TF.delete_where(spark, t, "id", F.col("id") >= 30)
    before = ids(TF.read(spark, t))
    TF.compact(spark, t)
    assert ids(TF.read(spark, t)) == before == list(range(30))
    adds = TF._live_adds(t)
    assert len(adds) == 1 and adds[0].get("kind", "data") == "data"


def test_read_point_applies_deletes(spark, tmp_path):
    """A point lookup opens only the group whose stats cover the key, and
    the live equality deletes still apply to it."""
    t = str(tmp_path / "t")
    for lo in (0, 100):
        TF.append(_kv(spark, lo, lo + 100), t, stats_cols=["id"])
    TF.delete_where(spark, t, "id", F.col("id").isin(120, 130, 5))
    # delete files don't count as data groups
    assert TF.point_group_count(t, "id", 120) == (1, 2)
    assert TF.read_point(spark, t, "id", 120).count() == 0
    assert ids(TF.read_point(spark, t, "id", 121)) == [121]


def test_merge_does_not_resurrect_mor_deleted_rows(spark, tmp_path):
    """An 'U' change on a key that a live delete file killed must INSERT
    the new image, not merge against the dead row; unmatched dead keys
    stay dead."""
    t = str(tmp_path / "t")
    TF.append(_kv(spark, 0, 10), t, stats_cols=["id"])
    TF.delete_where(spark, t, "id", F.col("id").isin(4, 5))
    changes = spark.createDataFrame(
        [(4, 444, "U")], "id long, val long, op string"
    )
    TF.merge(spark, t, changes, key="id")
    got = {r["id"]: r["val"] for r in TF.read(spark, t).collect()}
    assert got[4] == 444 and 5 not in got and len(got) == 9


def test_delete_conflicts_on_stale_base(spark, tmp_path):
    t = str(tmp_path / "t")
    TF.append(_kv(spark, 0, 10), t)
    real_publish = TF._try_publish
    raced = {"done": False}

    def racing_publish(table_dir, version, commit):
        if not raced["done"]:
            raced["done"] = True
            real_publish(
                table_dir, version,
                {"version": version, "mode": "append", "ts_unix": 0,
                 "actions": []},
            )
        return real_publish(table_dir, version, commit)

    TF._try_publish = racing_publish
    try:
        with pytest.raises(TF.ConflictError):
            TF.delete_where(spark, t, "id", F.col("id") == 1)
    finally:
        TF._try_publish = real_publish


def test_maintain_compacts_past_threshold(spark, tmp_path):
    t = str(tmp_path / "t")
    for i in range(6):
        TF.append(spark.range(i * 10, i * 10 + 10), t)
    assert TF.maintain(spark, t, max_live_groups=8) is None  # under budget
    v = TF.maintain(spark, t, max_live_groups=4)
    assert v is not None
    assert len(TF._live_groups(t)) == 1
    assert ids(TF.read(spark, t)) == list(range(60))


def test_schema_evolution_read(spark, tmp_path):
    """Appending a group with an extra column must not invalidate old
    groups: merge_schema=True reads the widest schema, old rows NULL in
    the new column — additive evolution without rewrites. Works through
    the MOR delete path too."""
    t = str(tmp_path / "t")
    TF.append(spark.range(0, 3).select(F.col("id")), t)
    TF.append(
        spark.range(3, 5).select(F.col("id"), (F.col("id") * 2).alias("v2")),
        t,
    )
    df = TF.read(spark, t, merge_schema=True)
    assert set(df.columns) == {"id", "v2"}
    got = {r["id"]: r["v2"] for r in df.collect()}
    assert got == {0: None, 1: None, 2: None, 3: 6, 4: 8}
    # evolution composes with merge-on-read deletes
    TF.delete_where(spark, t, "id", F.col("id").isin(1, 4))
    df2 = TF.read(spark, t, merge_schema=True)
    got2 = {r["id"]: r["v2"] for r in df2.collect()}
    assert got2 == {0: None, 2: None, 3: 6}


def test_compact_preserves_evolved_schema(spark, tmp_path):
    """Compacting a schema-evolved table must keep the widest schema —
    a plain read would infer from one arbitrary footer and could drop
    the newer column from the rewrite forever."""
    t = str(tmp_path / "t")
    TF.append(spark.range(0, 3).select(F.col("id")), t)
    TF.append(
        spark.range(3, 5).select(F.col("id"), (F.col("id") * 2).alias("v2")),
        t,
    )
    TF.compact(spark, t)
    df = TF.read(spark, t)
    assert set(df.columns) == {"id", "v2"}
    got = {r["id"]: r["v2"] for r in df.collect()}
    assert got == {0: None, 1: None, 2: None, 3: 6, 4: 8}
    # and with a live MOR delete in the mix (union across schemas)
    TF.delete_where(spark, t, "id", F.col("id") == 0)
    TF.compact(spark, t)
    assert sorted(
        r["id"] for r in TF.read(spark, t).collect()
    ) == [1, 2, 3, 4]


def test_merge_noop_batch_publishes_nothing(spark, tmp_path):
    """Deletes on absent keys (outside every group range) must not
    publish an empty commit — incremental consumers would pay a full
    re-sync for a no-op."""
    t = str(tmp_path / "t")
    TF.append(_kv(spark, 0, 10), t, stats_cols=["id"])
    head_before = TF._versions(t)[-1]
    changes = spark.createDataFrame(
        [(999, 0, "D")], "id long, val long, op string"
    )
    v, rewritten, total = TF.merge(spark, t, changes, key="id")
    assert (v, rewritten) == (head_before, 0)
    assert TF._versions(t)[-1] == head_before  # no commit landed
    assert ids(TF.read(spark, t)) == list(range(10))


def test_delete_where_excludes_null_keys(spark, tmp_path):
    """NULL keys cannot be equality-deleted; they must not be written
    to the delete file nor counted."""
    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(0, 5), (None, 5), (2, 7)], "id long, val long"
    )
    TF.append(df, t)
    v, n = TF.delete_where(spark, t, "id", F.col("val") == 5)
    assert n == 1  # only id=0; the NULL-key row is excluded
    rows = {(r["id"], r["val"]) for r in TF.read(spark, t).collect()}
    assert rows == {(None, 5), (2, 7)}


def test_merge_pure_insert_keeps_evolved_schema(spark, tmp_path):
    """ADVICE r2 (medium): a pure-insert merge into a schema-evolved table
    must build its empty target from the WIDEST schema — not data[0]'s
    group — or evolved columns in the inserts are silently nulled."""
    t = str(tmp_path / "t")
    TF.append(spark.createDataFrame([(1, 10)], "id long, val long"), t,
              stats_cols=["id"])
    TF.append(
        spark.createDataFrame([(2, 20, 99)], "id long, val long, v2 long"),
        t, stats_cols=["id"],
    )
    # Non-overlapping insert carrying the evolved column.
    changes = spark.createDataFrame(
        [(100, 30, 42, "I")], "id long, val long, v2 long, op string"
    )
    v, rewritten, total = TF.merge(spark, t, changes, key="id")
    assert rewritten == 0  # pure-insert: no group touched
    rows = {
        (r["id"], r["v2"])
        for r in TF.read(spark, t, merge_schema=True).collect()
    }
    assert (100, 42) in rows  # evolved value survives, not NULL


def test_delete_where_noop_publishes_nothing(spark, tmp_path):
    """ADVICE r2 (low): delete_where with a predicate matching zero rows
    must not commit (nor write an empty delete-key file) — mirrors
    merge()'s no-op guard."""
    t = str(tmp_path / "t")
    TF.append(_kv(spark, 0, 10), t)
    head_before = TF._versions(t)[-1]
    v, n = TF.delete_where(spark, t, "id", F.col("id") > 999)
    assert (v, n) == (head_before, 0)
    assert TF._versions(t)[-1] == head_before  # no commit landed
    assert ids(TF.read(spark, t)) == list(range(10))


@pytest.mark.slow
def test_bloom_point_lookup_prunes_interleaved_groups(spark, tmp_path):
    """Four appends with fully-overlapping min/max (ids interleaved mod 4)
    defeat range stats; the per-group bloom filter still prunes a point
    lookup to (almost always) one group — and never wrongly prunes the
    group that holds the key (no false negatives)."""
    t = str(tmp_path / "t")
    for r in range(4):
        ids_r = [(i,) for i in range(r, 4000, 4)]
        TF.append(
            spark.createDataFrame(ids_r, "id long"),
            t, stats_cols=["id"], bloom_cols=["id"],
        )
    # min/max alone cannot skip anything: every group spans ~[0, 4000)
    for probe in (17, 1000, 2999):
        opened, total = TF.point_group_count(t, "id", probe)
        assert total == 4
        assert opened <= 2  # bloom prunes; fp may rarely admit a 2nd
        rows = TF.read_point(spark, t, "id", probe).collect()
        assert [r["id"] for r in rows] == [probe]  # never a false negative
    # absent key: usually zero groups opened, always zero rows
    assert TF.read_point(spark, t, "id", 999_999).count() == 0


# ---------------------------------------------------------------------------
# Genuine multi-process commit race (VERDICT r4 item 6): the simulated-race
# tests above interleave within one process; these drive REAL concurrent
# writers through the os.link claim. The contended surface is the commit
# log protocol (_commit/_try_publish) — pure filesystem, no Spark needed in
# the workers, so the race is tight (no JVM startup jitter serializing it).
# ---------------------------------------------------------------------------


def _race_appender(table, wid, n_commits, barrier, out):
    from etl_data_processor_spark import tableformat as TFm

    barrier.wait()  # maximize contention: all writers start together
    got = []
    for j in range(n_commits):
        v = TFm._commit(
            table, "append", [TFm._add_action(f"g-{wid}-{j}")], None,
            max_retries=500,
        )
        got.append(v)
    out.put((wid, got))


def _race_compactor(table, base_head, barrier, out):
    from etl_data_processor_spark import tableformat as TFm

    barrier.wait()
    try:
        v = TFm._commit(
            table, "compact", [TFm._add_action("compacted")], base_head
        )
        out.put(("ok", v))
    except TFm.ConflictError:
        out.put(("conflict", None))


def test_multiprocess_append_race_loses_no_commit(tmp_path):
    """8 OS processes x 25 appends racing on one log: every commit must
    land, versions must be the contiguous range 0..199 with exactly one
    winner each (os.link uniqueness), and every group name must appear
    exactly once — zero lost, zero duplicated."""
    import multiprocessing as mp

    table = str(tmp_path / "tbl")
    n_procs, n_commits = 8, 25
    ctx = mp.get_context("fork")
    barrier = ctx.Barrier(n_procs)
    out: mp.Queue = ctx.Queue()
    procs = [
        ctx.Process(
            target=_race_appender, args=(table, w, n_commits, barrier, out)
        )
        for w in range(n_procs)
    ]
    for p in procs:
        p.start()
    results = [out.get(timeout=120) for _ in procs]
    for p in procs:
        p.join(timeout=60)
        assert p.exitcode == 0
    all_versions = sorted(v for _, got in results for v in got)
    assert all_versions == list(range(n_procs * n_commits))
    groups = [
        a["group"]
        for c in TF.history(table)
        for a in c["actions"]
        if a["op"] == "add"
    ]
    assert sorted(groups) == sorted(
        f"g-{w}-{j}" for w in range(n_procs) for j in range(n_commits)
    )


def test_multiprocess_compaction_race_single_winner(tmp_path):
    """Two real processes race a remove-bearing commit computed against
    the same base snapshot: exactly ONE wins; the loser surfaces as
    ConflictError (never a silent lost update, never a double-remove)."""
    import multiprocessing as mp

    table = str(tmp_path / "tbl")
    base = TF._commit(table, "append", [TF._add_action("g0")], None)
    ctx = mp.get_context("fork")
    barrier = ctx.Barrier(2)
    out: mp.Queue = ctx.Queue()
    procs = [
        ctx.Process(target=_race_compactor, args=(table, base, barrier, out))
        for _ in range(2)
    ]
    for p in procs:
        p.start()
    outcomes = sorted(out.get(timeout=60)[0] for _ in procs)
    for p in procs:
        p.join(timeout=60)
        assert p.exitcode == 0
    assert outcomes == ["conflict", "ok"]
    head = TF.history(table)[-1]
    assert head["mode"] == "compact"
    removed = [a["group"] for a in head["actions"] if a["op"] == "remove"]
    assert removed == ["g0"]  # the base snapshot removed exactly once
