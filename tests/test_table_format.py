"""Snapshot table format: versioned reads, MERGE with file pruning,
time travel, optimistic concurrency, crash-orphan reclaim."""

from __future__ import annotations

import json
import os
import shutil

import pytest

from openalex_neo4j_spark.table_format import (
    CommitConflict, SnapshotTable, _list_versions, _manifest_path,
)


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "tbl")


def _df(spark, rows):
    return spark.createDataFrame(rows, "id string, val int")


def test_overwrite_read_roundtrip(spark, root):
    t = SnapshotTable(spark, root, key="id")
    v = t.overwrite(_df(spark, [("a", 1), ("b", 2)]))
    assert v == 1
    got = {r["id"]: r["val"] for r in t.read().collect()}
    assert got == {"a": 1, "b": 2}


def test_append_accumulates_and_history(spark, root):
    t = SnapshotTable(spark, root, key="id")
    t.append(_df(spark, [("a", 1)]))
    t.append(_df(spark, [("b", 2)]))
    assert t.read().count() == 2
    hist = t.history()
    assert [h["operation"] for h in hist] == ["append", "append"]
    assert [h["rows"] for h in hist] == [1, 2]


def test_merge_updates_matched_inserts_unmatched(spark, root):
    t = SnapshotTable(spark, root, key="id")
    t.overwrite(_df(spark, [("a", 1), ("b", 2), ("c", 3)]))
    t.merge(_df(spark, [("b", 20), ("d", 40)]))  # update b, insert d
    got = {r["id"]: r["val"] for r in t.read().collect()}
    assert got == {"a": 1, "b": 20, "c": 3, "d": 40}


def test_merge_rejects_duplicate_update_keys(spark, root):
    t = SnapshotTable(spark, root, key="id")
    t.overwrite(_df(spark, [("a", 1)]))
    with pytest.raises(ValueError, match="not unique"):
        t.merge(_df(spark, [("a", 1), ("a", 2)]))


def test_merge_prunes_disjoint_groups(spark, root):
    """A merge touching only the high key range must carry the
    low-range group into the new manifest BY REFERENCE (same data
    path), not rewrite it — the manifest-stats pruning that makes a
    small merge into a huge table cheap."""
    t = SnapshotTable(spark, root, key="id")
    t.append(_df(spark, [("a", 1), ("b", 2)]))      # group: keys a-b
    t.append(_df(spark, [("x", 24), ("y", 25)]))    # group: keys x-y
    before = {g["path"]: g for g in t._load_manifest(2)["groups"]}
    low_group = next(p for p, g in before.items() if g["min_key"] == "a")

    t.merge(_df(spark, [("y", 250), ("z", 260)]))   # touches x-y only
    after = t._load_manifest(3)["groups"]
    after_paths = [g["path"] for g in after]
    assert low_group in after_paths          # untouched, by reference
    assert len(after) == 2                   # kept + one rewritten
    got = {r["id"]: r["val"] for r in t.read().collect()}
    assert got == {"a": 1, "b": 2, "x": 24, "y": 250, "z": 260}


def test_time_travel_by_version_and_timestamp(spark, root):
    t = SnapshotTable(spark, root, key="id")
    t.overwrite(_df(spark, [("a", 1)]))
    t.merge(_df(spark, [("a", 2)]))
    assert t.read(version=1).collect()[0]["val"] == 1
    assert t.read(version=2).collect()[0]["val"] == 2
    ts1 = t._load_manifest(1)["ts"]
    assert t.read(as_of=ts1).collect()[0]["val"] == 1
    with pytest.raises(ValueError, match="no snapshot"):
        t.read(as_of=ts1 - 100)
    with pytest.raises(ValueError):
        t.read(version=1, as_of=ts1)


def test_commit_conflict_retries_over_winner(spark, root):
    """Simulate a concurrent writer landing the version this append
    races for: the append must re-read the winner's manifest as its
    base and commit on top — the winner's rows survive."""
    t = SnapshotTable(spark, root, key="id")
    t.overwrite(_df(spark, [("a", 1)]))
    # a "concurrent writer" claims version 2, appending key w
    w = SnapshotTable(spark, root, key="id")
    w.append(_df(spark, [("w", 9)]))
    assert t.current_version() == 2
    t.append(_df(spark, [("b", 2)]))  # internally retried onto base 2
    assert t.current_version() == 3
    got = {r["id"]: r["val"] for r in t.read().collect()}
    assert got == {"a": 1, "w": 9, "b": 2}


def test_commit_conflict_raises_after_repeated_losses(spark, root, tmp_path):
    t = SnapshotTable(spark, root, key="id")
    t.overwrite(_df(spark, [("a", 1)]))
    real_commit = t._commit

    def always_lose(base, op, groups):
        # another writer always beats us to base+1
        path = _manifest_path(root, t.current_version() + 1)
        with open(path, "w") as f:
            json.dump({"format_version": 1, "version": 0, "parent": None,
                       "operation": "append", "ts": 0.0, "key": "id",
                       "groups": []}, f)
        return real_commit(base, op, groups)

    t._commit = always_lose
    with pytest.raises(CommitConflict, match="lost 5"):
        t.append(_df(spark, [("b", 2)]))


def test_snapshot_isolation_reader_pins_version(spark, root):
    """A DataFrame obtained before a later commit keeps reading the
    old groups (immutable data dirs) — no torn reads."""
    t = SnapshotTable(spark, root, key="id")
    t.overwrite(_df(spark, [("a", 1)]))
    pinned = t.read(version=1)
    t.merge(_df(spark, [("a", 2)]))
    assert pinned.collect()[0]["val"] == 1
    assert t.read().collect()[0]["val"] == 2


def test_delete_where(spark, root):
    t = SnapshotTable(spark, root, key="id")
    t.overwrite(_df(spark, [("a", 1), ("b", 2), ("c", 3)]))
    t.delete_where("val >= 2")
    got = {r["id"]: r["val"] for r in t.read().collect()}
    assert got == {"a": 1}
    # delete everything -> empty snapshot still readable
    t.delete_where("true")
    assert t.read().count() == 0


def test_vacuum_reclaims_orphans_and_expired(spark, root):
    t = SnapshotTable(spark, root, key="id")
    t.overwrite(_df(spark, [("a", 1)]))
    t.merge(_df(spark, [("a", 2)]))  # v1's group now unreferenced by v2
    # crash orphan: a data dir with no manifest pointing at it
    orphan = os.path.join(root, "data", "deadbeef")
    os.makedirs(orphan)
    open(os.path.join(orphan, "part-0.parquet"), "wb").close()

    # default grace period: everything here is younger than an hour,
    # so nothing is reclaimed — a concurrent writer's not-yet-committed
    # group must never be deleted out from under it
    assert t.vacuum() == []

    # both snapshots live -> only the orphan goes
    removed = t.vacuum(older_than_s=0)
    assert removed == [os.path.join("data", "deadbeef")]
    assert t.read(version=1).collect()[0]["val"] == 1

    expired = t.expire_snapshots(keep_last=1)
    assert expired == [1]
    removed = t.vacuum(older_than_s=0)
    assert len(removed) == 1                  # v1's group reclaimed
    assert t.read().collect()[0]["val"] == 2  # current state intact
    with pytest.raises(FileNotFoundError):
        t._load_manifest(1)


def test_merge_into_empty_table(spark, root):
    t = SnapshotTable(spark, root, key="id")
    t.merge(_df(spark, [("a", 1)]))
    assert t.read().collect()[0]["val"] == 1
    assert t.history()[0]["operation"] == "merge"


def test_parity_with_upsert_nodes_semantics(spark, root, tmp_path):
    """SnapshotTable.merge and materialize.upsert_nodes implement the
    same last-wins MERGE contract — verify identical end states on the
    same update sequence."""
    from openalex_neo4j_spark.materialize import upsert_nodes

    base = _df(spark, [("a", 1), ("b", 2)])
    upd = _df(spark, [("b", 20), ("c", 30)])

    t = SnapshotTable(spark, root, key="id")
    t.overwrite(base)
    t.merge(upd)

    ppath = str(tmp_path / "plain")
    base.write.parquet(ppath)
    plain = upsert_nodes(spark, ppath, upd, key="id")

    lhs = {(r["id"], r["val"]) for r in t.read().collect()}
    rhs = {(r["id"], r["val"]) for r in plain.collect()}
    assert lhs == rhs


def test_delete_where_keeps_null_predicate_rows(spark, root):
    """SQL DELETE semantics: rows where the predicate is NULL (not
    TRUE) must survive — ~NULL is NULL and a bare negated filter would
    silently drop them from the new snapshot."""
    t = SnapshotTable(spark, root, key="id")
    t.overwrite(spark.createDataFrame(
        [("a", "x"), ("b", None), ("c", "y")], "id string, tag string"))
    t.delete_where("tag = 'x'")
    got = {r["id"] for r in t.read().collect()}
    assert got == {"b", "c"}  # the NULL-tag row stays


def test_timestamp_key_stats_json_safe(spark, root):
    """Manifest stats for non-JSON-native key types (timestamps) must
    serialize (isoformat) and keep pruning comparisons type-consistent
    across the write and merge sides."""
    import datetime

    rows = [(datetime.datetime(2024, 1, i + 1), i) for i in range(3)]
    t = SnapshotTable(spark, root, key="ts")
    t.overwrite(spark.createDataFrame(rows, "ts timestamp, val int"))
    t.merge(spark.createDataFrame(
        [(datetime.datetime(2024, 1, 2), 99)], "ts timestamp, val int"))
    got = {r["ts"]: r["val"] for r in t.read().collect()}
    assert got[datetime.datetime(2024, 1, 2)] == 99 and len(got) == 3
    # stats in the manifest are strings (isoformat), not raw datetimes
    m = t._load_manifest(t.current_version())
    assert all(isinstance(g["min_key"], (str, type(None)))
               for g in m["groups"])


def test_clustered_bulk_load_thousand_groups_merge_prunes(spark, root):
    """Scale-ladder stress (round-4 verdict task 5): one clustered
    bulk load producing 1024+ data groups in ONE commit, then a merge
    touching a handful of keys must rewrite exactly ONE group and
    carry the other 1023 by reference — O(overlap), not O(table)."""
    from pyspark.sql import functions as F

    t = SnapshotTable(spark, root, key="k")
    n_groups = 1024
    df = spark.range(0, n_groups * 8).select(
        F.format_string("k%08d", F.col("id")).alias("k"),
        F.col("id").alias("val"))
    v = t.overwrite_clustered(df, n_groups)
    assert v == 1
    m = t._load_manifest(1)
    assert len(m["groups"]) == n_groups
    # string-key stats present and usable on every group
    assert all(g["min_key"] is not None and g["max_key"] is not None
               for g in m["groups"])
    assert sum(g["rows"] for g in m["groups"]) == n_groups * 8
    assert t.read().count() == n_groups * 8

    upd = spark.createDataFrame([("k00000004", -1), ("k00000005", -2)],
                                "k string, val long")
    t.merge(upd)
    m2 = t._load_manifest(2)
    prior = {g["path"] for g in m["groups"]}
    now = {g["path"] for g in m2["groups"]}
    assert len(m2["groups"]) == n_groups          # 1023 carried + 1 new
    assert len(prior & now) == n_groups - 1       # by reference
    got = {r["k"]: r["val"] for r in t.read()
           .filter(F.col("k").isin("k00000003", "k00000004", "k00000005"))
           .collect()}
    assert got == {"k00000003": 3, "k00000004": -1, "k00000005": -2}


def test_clustered_bulk_load_datetime_keys_prune(spark, root):
    """Manifest stats keep pruning with datetime keys at multi-group
    scale: isoformat strings order chronologically, so a one-day merge
    rewrites one group out of 64."""
    import datetime

    from pyspark.sql import functions as F

    t = SnapshotTable(spark, root, key="ts")
    base = datetime.datetime(2024, 1, 1)
    rows = [(base + datetime.timedelta(hours=i), i) for i in range(64 * 4)]
    df = spark.createDataFrame(rows, "ts timestamp, val int")
    t.overwrite_clustered(df, 64)
    m = t._load_manifest(1)
    assert len(m["groups"]) == 64
    assert all(isinstance(g["min_key"], str) for g in m["groups"])

    upd = spark.createDataFrame(
        [(base + datetime.timedelta(hours=1), -1)], "ts timestamp, val int")
    t.merge(upd)
    m2 = t._load_manifest(2)
    carried = {g["path"] for g in m["groups"]} & {g["path"]
                                                  for g in m2["groups"]}
    assert len(carried) == 63
    got = {r["ts"]: r["val"] for r in t.read()
           .filter(F.col("ts") < base + datetime.timedelta(hours=3))
           .collect()}
    assert got[base + datetime.timedelta(hours=1)] == -1


def test_vacuum_keeps_live_clustered_group_dirs(spark, root):
    """vacuum must not reclaim a clustered bulk-load's parent
    data/<uuid>/ dir whose CHILDREN (data/<uuid>/_snap_group=N) are
    the referenced group paths."""
    from pyspark.sql import functions as F

    t = SnapshotTable(spark, root, key="k")
    df = spark.range(0, 32).select(
        F.format_string("k%04d", F.col("id")).alias("k"),
        F.col("id").alias("val"))
    t.overwrite_clustered(df, 8)
    removed = t.vacuum(older_than_s=0)
    assert removed == []
    assert t.read().count() == 32


def test_compact_restores_clustering_and_pruning(spark, root):
    """After merges degrade clustering (touched groups coalesce into
    one wide-span group), compact() re-clusters so the next merge
    prunes again; data unchanged, history time-travelable."""
    from pyspark.sql import functions as F

    t = SnapshotTable(spark, root, key="k")
    df = spark.range(0, 64).select(
        F.format_string("k%04d", F.col("id")).alias("k"),
        F.col("id").alias("val"))
    t.overwrite_clustered(df, 8)
    # two merges at opposite ends of the key space -> the second
    # merge's rewritten group spans a wide range
    t.merge(spark.createDataFrame([("k0001", -1)], "k string, val long"))
    t.merge(spark.createDataFrame([("k0062", -2)], "k string, val long"))
    v = t.compact(8)
    m = t._load_manifest(v)
    assert len(m["groups"]) == 8
    # post-compaction merge prunes to one group again
    t.merge(spark.createDataFrame([("k0005", -5)], "k string, val long"))
    m2 = t._load_manifest(t.current_version())
    carried = {g["path"] for g in m["groups"]} & {g["path"]
                                                  for g in m2["groups"]}
    assert len(carried) == 7
    got = {r["k"]: r["val"] for r in t.read().collect()}
    assert got["k0001"] == -1 and got["k0062"] == -2 and got["k0005"] == -5
    assert len(got) == 64


def test_overwrite_clustered_empty_input_commits_empty_snapshot(spark, root):
    """compact() after a delete-all (empty current snapshot) routes an
    empty frame through overwrite_clustered — it must commit an empty
    snapshot (like delete_where's delete-all) instead of raising
    'Unable to infer schema' on the zero-file read-back."""
    from pyspark.sql import functions as F

    t = SnapshotTable(spark, root, key="k")
    df = spark.range(0, 8).select(
        F.format_string("k%02d", F.col("id")).alias("k"),
        F.col("id").alias("val"))
    t.overwrite_clustered(df, 2)
    t.delete_where("val >= 0")          # empty current snapshot
    assert t.read().count() == 0
    v = t.compact(4)                    # re-cluster the empty table
    assert t._load_manifest(v)["groups"] == []
    assert t.read().count() == 0
