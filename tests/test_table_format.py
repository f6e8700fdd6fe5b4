"""The warehouse's one table format: a plain parquet directory, merged
last-wins by ``materialize.upsert_nodes`` through the file-level
copy-on-write commit ``materialize._cow_commit`` (untouched files are
hard-linked into the new table, touched ones rewritten)."""

from __future__ import annotations

import datetime
import os

import pytest

from openalex_neo4j_spark.materialize import upsert_nodes


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "tbl")


def _df(spark, rows):
    return spark.createDataFrame(rows, "id string, val int")


def _files(path: str) -> dict[str, int]:
    """Parquet data file (relative path) -> inode."""
    return {f: os.stat(os.path.join(path, f)).st_ino
            for f in os.listdir(path) if f.endswith(".parquet")}


def test_overwrite_read_roundtrip(spark, root):
    """A cold upsert writes the table whole and every value, nulls and
    timestamps included, reads back; upserting the same rows again
    matches them null-safely and writes no file."""
    schema = "id string, tag string, ts timestamp"
    rows = [("a", "x", datetime.datetime(2024, 1, 1)),
            ("b", None, datetime.datetime(2024, 1, 2)),
            ("c", "y", None)]
    got = upsert_nodes(spark, root, spark.createDataFrame(rows, schema))
    assert sorted(tuple(r) for r in got.collect()) == rows
    assert sorted(tuple(r) for r in spark.read.parquet(root).collect()) == rows

    before = _files(root)
    again = upsert_nodes(spark, root, spark.createDataFrame(rows, schema))
    assert sorted(tuple(r) for r in again.collect()) == rows
    assert _files(root) == before


def test_merge_updates_matched_inserts_unmatched(spark, root):
    upsert_nodes(spark, root, _df(spark, [("a", 1), ("b", 2), ("c", 3)]))
    upsert_nodes(spark, root, _df(spark, [("b", 20), ("d", 40)]))
    got = {r["id"]: r["val"] for r in spark.read.parquet(root).collect()}
    assert got == {"a": 1, "b": 20, "c": 3, "d": 40}


def test_merge_prunes_disjoint_groups(spark, root):
    """A merge touching only the high key range must carry the file of
    the low range into the new table BY REFERENCE (same path, same
    inode), not rewrite it: a small merge into a big table writes the
    files it touches, not the table."""
    upsert_nodes(spark, root, _df(spark, [("a", 1), ("b", 2)]).coalesce(1))
    (low_file,) = _files(root).items()
    upsert_nodes(spark, root, _df(spark, [("x", 24), ("y", 25)]))
    assert len(_files(root)) == 2            # low file + one for x-y

    upsert_nodes(spark, root, _df(spark, [("y", 250), ("z", 260)]))
    after = _files(root)
    assert low_file in after.items()         # untouched, by reference
    assert len(after) == 2                   # kept + one rewritten
    got = {r["id"]: r["val"] for r in spark.read.parquet(root).collect()}
    assert got == {"a": 1, "b": 2, "x": 24, "y": 250, "z": 260}


def test_merge_into_empty_table(spark, root):
    """An existing table with a schema but no rows merges like any
    other: the delta's rows are its whole content."""
    upsert_nodes(spark, root, _df(spark, []))
    assert spark.read.parquet(root).count() == 0
    got = upsert_nodes(spark, root, _df(spark, [("a", 1)]))
    assert [tuple(r) for r in got.collect()] == [("a", 1)]
    assert [tuple(r) for r in spark.read.parquet(root).collect()] == [("a", 1)]


def test_parity_with_upsert_nodes_semantics(spark, root, tmp_path):
    """upsert_nodes reaches the same last-wins end state whether the
    prior table was committed by upsert_nodes itself or written by a
    plain Spark job (one file per input partition)."""
    base = _df(spark, [("a", 1), ("b", 2)])
    upd = _df(spark, [("b", 20), ("c", 30)])

    upsert_nodes(spark, root, base)
    own = upsert_nodes(spark, root, upd)

    ppath = str(tmp_path / "plain")
    base.write.parquet(ppath)
    plain = upsert_nodes(spark, ppath, upd)

    lhs = {(r["id"], r["val"]) for r in own.collect()}
    rhs = {(r["id"], r["val"]) for r in plain.collect()}
    assert lhs == rhs == {("a", 1), ("b", 20), ("c", 30)}
