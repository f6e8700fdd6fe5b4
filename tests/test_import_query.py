"""Query-seeded BFS import tests — mirrors the reference's importer
unit suite (tests/test_importer.py:65-239: expansion, fetch-once
dedup, multi-depth) on the Spark re-expression."""

import pytest
from pyspark.sql import functions as F

from openalex_neo4j_spark import ids
from openalex_neo4j_spark.corpus import build_world, pages_dataframe
from openalex_neo4j_spark.extract import mentions_from_pages
from openalex_neo4j_spark.import_query import (
    expand_frontier,
    import_from_query,
    seed_work_keys,
)
from openalex_neo4j_spark.linking import link_mentions


@pytest.fixture(scope="module")
def linked(spark, small_world):
    pages = pages_dataframe(spark, small_world)
    return link_mentions(mentions_from_pages(pages)).localCheckpoint()


def _truth_expand(world, seed_ids: set[str], depth: int) -> set[str]:
    """Plain-Python BFS oracle over the world model."""
    collected = set(seed_ids)
    for _ in range(depth):
        frontier = set()
        for wid, w in world.works.items():
            from openalex_neo4j_spark.oracle import work_node_id
            if work_node_id(w) not in collected:
                continue
            refs = set(w.referenced_work_ids)
            for extra in w.alias_extra_refs.values():
                refs.update(extra)
            for ref in refs:
                rw = world.works[ref]
                if rw.has_canonical:
                    frontier.add(ids.work_id(rw.doi))
        frontier -= collected
        collected |= frontier
    return collected


def test_expand_matches_python_bfs(spark, small_world, linked):
    from openalex_neo4j_spark.oracle import work_node_id

    # seed: a few specific canonical works
    seed_works = [w for w in small_world.works.values()
                  if w.has_canonical][:5]
    seed_ids = {ids.work_id(w.doi) for w in seed_works}
    seeds = spark.createDataFrame([(s,) for s in seed_ids], ["work_key"])

    for depth in (1, 2):
        got = {r["work_key"]
               for r in expand_frontier(linked, seeds, depth).collect()}
        want = _truth_expand(small_world, seed_ids, depth)
        assert got == want, f"depth={depth}"


def test_depth_monotone_and_fetch_once(spark, small_world, linked):
    seed_works = [w for w in small_world.works.values()
                  if w.has_canonical][:3]
    seeds = spark.createDataFrame(
        [(ids.work_id(w.doi),) for w in seed_works], ["work_key"])
    sizes = []
    for depth in (0, 1, 2, 3):
        df = expand_frontier(linked, seeds, depth)
        # fetch-once: no duplicates ever (ref tests/test_importer.py:200-239)
        assert df.count() == df.distinct().count()
        sizes.append(df.count())
    assert sizes == sorted(sizes), "expansion must be monotone"
    assert sizes[1] >= sizes[0]


def test_import_from_query_end_to_end(spark, small_world):
    pages = pages_dataframe(spark, small_world)
    w = next(w for w in small_world.works.values() if w.has_canonical)
    # query with title + abstract prefix: titles are word-salad over a
    # tiny vocabulary, so title-only top-k is not guaranteed by design
    g = import_from_query(pages, w.title + " " + w.abstract[:200],
                          limit=5, expand_depth=1)
    work_ids = {r["id"] for r in g.nodes["Work"].select("id").collect()}
    assert ids.work_id(w.doi) in work_ids
    # subgraph, not the whole corpus
    assert 0 < len(work_ids) < len(small_world.works)
    # edges only among imported nodes (closed world)
    dangling = g.edges.filter(F.col("pred") == "CITES").join(
        g.nodes["Work"].select(F.col("id").alias("obj")), "obj", "left_anti"
    ).count()
    assert dangling == 0


def test_skip_abstracts_flag(spark, small_world):
    pages = pages_dataframe(spark, small_world)
    w = next(w for w in small_world.works.values() if w.has_canonical)
    g = import_from_query(pages, w.title, limit=3, expand_depth=0,
                          skip_abstracts=True)
    # P10 (importer.py:73-77): no abstracts survive
    assert g.nodes["Work"].filter(F.col("abstract").isNotNull()).count() == 0


def test_upsert_last_wins(spark, tmp_path):
    """A2/S3 MERGE semantics (neo4j_client.py:246-252; last-wins
    asserted in reference test_neo4j_integration.py:134-151)."""
    from openalex_neo4j_spark.materialize import upsert_nodes

    path = str(tmp_path / "nodes")
    first = spark.createDataFrame(
        [("a", "Title v1"), ("b", "B")], ["id", "title"])
    upsert_nodes(spark, path, first)
    second = spark.createDataFrame(
        [("a", "Title v2"), ("c", "C")], ["id", "title"])
    got = {r["id"]: r["title"]
           for r in upsert_nodes(spark, path, second).collect()}
    assert got == {"a": "Title v2", "b": "B", "c": "C"}


def test_upsert_rejects_duplicate_keys(spark, tmp_path):
    """Two rows for one key have no last one: the cold write and a
    delta both raise, and the table keeps its committed rows."""
    import os

    from openalex_neo4j_spark.materialize import upsert_nodes

    path = str(tmp_path / "nodes")
    dup = spark.createDataFrame([(1, "a"), (1, "b"), (2, "c")], ["id", "v"])
    with pytest.raises(ValueError, match="duplicate"):
        upsert_nodes(spark, path, dup)
    assert not os.path.exists(path)

    upsert_nodes(spark, path,
                 spark.createDataFrame([(1, "x"), (3, "y")], ["id", "v"]))
    with pytest.raises(ValueError, match="duplicate"):
        upsert_nodes(spark, path, dup)
    assert sorted(tuple(r) for r in spark.read.parquet(path).collect()) == [
        (1, "x"), (3, "y")]


def test_upsert_crash_preserves_old_table(spark, tmp_path, monkeypatch):
    """Kill-between-write safety: an upsert that dies after staging but
    before the rename-commit leaves the previous table fully readable;
    a half-committed state (live dir moved aside) is recovered on the
    next upsert."""
    import openalex_neo4j_spark.materialize as mat

    path = str(tmp_path / "nodes")
    first = spark.createDataFrame([("a", "v1"), ("b", "B")], ["id", "title"])
    mat.upsert_nodes(spark, path, first)

    # crash 1: die before commit — staged dir written, live untouched
    def boom(staged, p):
        raise RuntimeError("killed before commit")
    monkeypatch.setattr(mat, "_commit_table", boom)
    second = spark.createDataFrame([("a", "v2")], ["id", "title"])
    with pytest.raises(RuntimeError):
        mat.upsert_nodes(spark, path, second)
    got = {r["id"]: r["title"] for r in spark.read.parquet(path).collect()}
    assert got == {"a": "v1", "b": "B"}, "old table must survive the kill"

    # crash 2: die mid-commit (live renamed to .bak, staged not promoted)
    import os
    os.rename(path, f"{path}.bak-deadbeef")
    monkeypatch.undo()
    got = {r["id"]: r["title"]
           for r in mat.upsert_nodes(spark, path, second).collect()}
    assert got == {"a": "v2", "b": "B"}, "recovery + merge must succeed"


def test_upsert_read_failure_aborts_instead_of_replacing(spark, tmp_path):
    """A corrupt/unreadable EXISTING table must abort the merge, not be
    silently treated as 'no prior state' and destructively replaced
    with only the delta (round-6: _read_prior re-raises non-missing
    read errors)."""
    from openalex_neo4j_spark.materialize import upsert_nodes

    path = str(tmp_path / "nodes_corrupt")
    first = spark.createDataFrame([("a", "v1")], ["id", "title"])
    upsert_nodes(spark, path, first)
    # corrupt every part file in place (bad footer)
    import os
    for f in os.listdir(path):
        if f.endswith(".parquet"):
            with open(os.path.join(path, f), "wb") as fh:
                fh.write(b"not a parquet file")
    second = spark.createDataFrame([("b", "v2")], ["id", "title"])
    import pytest
    with pytest.raises(Exception):
        upsert_nodes(spark, path, second).collect()
    # the live dir was not replaced by the delta-only table
    names = set(os.listdir(path))
    assert any(f.endswith(".parquet") for f in names)


def test_upsert_missing_and_empty_dir_still_initialize(spark, tmp_path):
    """Path-absence and a data-less directory remain legitimate
    'no prior state' cases after the read-error hardening."""
    import os

    from openalex_neo4j_spark.materialize import upsert_nodes

    p1 = str(tmp_path / "fresh")
    df = spark.createDataFrame([("a", "v1")], ["id", "title"])
    assert upsert_nodes(spark, p1, df).count() == 1

    p2 = str(tmp_path / "emptydir")
    os.makedirs(p2)
    open(os.path.join(p2, "_marker"), "w").close()
    assert upsert_nodes(spark, p2, df).count() == 1
