"""Cumulative (MERGE) imports: materialize.merge_graph — the
reference's re-import-without-clear semantics (Neo4j MERGE upserts:
nodes last-wins, relationship MERGE set-union; importer.py:87-93
re-run against a live store)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

import openalex_neo4j_spark.materialize as mat
from openalex_neo4j_spark.corpus import build_world, pages_dataframe
from openalex_neo4j_spark.materialize import merge_graph, write_graph
from openalex_neo4j_spark.pipeline import GraphTables, build_graph, build_triples


@pytest.fixture(scope="module")
def split_worlds(spark):
    world = build_world(80, seed=7)
    pages = pages_dataframe(spark, world, num_partitions=8)
    # deterministic halves by url hash; both halves can cite works
    # from the other half (CITES endpoints resolve per import)
    h = F.abs(F.xxhash64("url")) % 2
    return pages.filter(h == 0), pages.filter(h == 1), pages


@pytest.fixture(scope="module")
def half_graphs(split_worlds):
    p_a, p_b, _ = split_worlds
    return build_graph(p_a), build_graph(p_b)


LABELS = ["Work", "Author", "Institution", "Source", "Topic", "Funder",
          "Publisher"]


def _rows(df, cols=("subj", "pred", "obj")) -> list[tuple]:
    return [tuple(r) for r in df.select(*cols).collect()]


def _data_files(root: str) -> dict[str, int]:
    """Parquet data file -> inode, for every table except lineage."""
    out = {}
    for d, _, files in os.walk(root):
        rel = os.path.relpath(d, root)
        if rel.split(os.sep)[0] == "lineage":
            continue
        for f in files:
            if f.endswith(".parquet"):
                out[os.path.join(rel, f)] = os.stat(os.path.join(d, f)).st_ino
    return out


def _committed(spark, root: str):
    nodes = {lab: spark.read.parquet(f"{root}/nodes_{lab.lower()}")
             for lab in LABELS}
    return nodes, spark.read.parquet(f"{root}/edges").select(
        "subj", "pred", "obj")


def test_merge_import_is_cumulative_and_refreshes_counts(
        spark, half_graphs, tmp_path_factory):
    g_a, g_b = half_graphs
    root = str(tmp_path_factory.mktemp("kg_merge"))

    counts_a = write_graph(g_a, root)
    counts_m = merge_graph(g_b, root)

    # cumulative: merged Work ids are a superset of both halves' ids
    ids_a = {r["id"] for r in g_a.nodes["Work"].select("id").collect()}
    ids_b = {r["id"] for r in g_b.nodes["Work"].select("id").collect()}
    work = spark.read.parquet(f"{root}/nodes_work")
    ids_m = {r["id"] for r in work.select("id").collect()}
    assert ids_m == ids_a | ids_b
    assert counts_m["Work"] == len(ids_m)
    assert counts_m["Work"] >= counts_a["Work"]
    # unique-id constraint survives the merge (D1)
    assert work.count() == work.select("id").distinct().count()

    # edges: set-union on (subj, pred, obj), no duplicates
    edges = spark.read.parquet(f"{root}/edges").select("subj", "pred", "obj")
    e_a = {tuple(r) for r in
           g_a.edges.select("subj", "pred", "obj").collect()}
    e_b = {tuple(r) for r in
           g_b.edges.select("subj", "pred", "obj").collect()}
    e_m = [tuple(r) for r in edges.collect()]
    assert len(e_m) == len(set(e_m))
    # every import's edge survives EXCEPT CITES rows whose endpoint
    # existence was evaluated per import: a merged edge set keeps them
    # all; the union may also not cover cross-half CITES that neither
    # import could resolve alone (endpoint in the other half) — those
    # are absent from both sides, so equality on the union holds
    assert set(e_m) == e_a | e_b

    # derived counts refreshed over the MERGED edges: every
    # (work, cited_by_count) triple equals the merged CITES in-degree
    cites_in = {r["obj"]: r["n"] for r in
                edges.filter(F.col("pred") == "CITES")
                .groupBy("obj").agg(F.count("*").alias("n")).collect()}
    got = {r["id"]: r["cited_by_count"] for r in
           work.select("id", "cited_by_count").collect()}
    for wid, n in cites_in.items():
        assert got[wid] == n, f"stale cited_by_count for {wid}"
    # and works cited by NO one are 0, not stale
    assert all(n == 0 for wid, n in got.items() if wid not in cites_in)

    # triples were REBUILT from merged state: the cited_by_count
    # property triples agree with the refreshed node table
    triples = spark.read.parquet(f"{root}/triples")
    t_counts = {r["subj"]: int(r["obj"]) for r in
                triples.filter(F.col("pred") == "cited_by_count")
                .collect() if r["subj"] in got}  # authors emit it too
    assert t_counts == got


def test_merge_import_is_idempotent(spark, half_graphs,
                                    tmp_path_factory):
    g_a, g_b = half_graphs
    root = str(tmp_path_factory.mktemp("kg_merge_idem"))
    write_graph(g_a, root)
    first = merge_graph(g_b, root)
    again = merge_graph(g_b, root)
    assert again == first  # re-importing the same batch changes nothing


def test_merge_last_wins_on_node_props(spark, split_worlds,
                                       tmp_path_factory):
    _, _, pages = split_worlds
    root = str(tmp_path_factory.mktemp("kg_merge_lastwins"))
    write_graph(build_graph(pages), root)
    before = spark.read.parquet(f"{root}/nodes_work")
    n_before = before.count()
    assert before.filter(F.col("abstract").isNotNull()).count() > 0
    # re-import the same corpus with abstracts dropped (P10): the
    # re-imported rows must overwrite stored props last-wins, like
    # MERGE ... SET n += item (neo4j_client.py:246-252)
    merge_graph(build_graph(pages, skip_abstracts=True), root)
    after = spark.read.parquet(f"{root}/nodes_work")
    assert after.filter(F.col("abstract").isNotNull()).count() == 0
    assert after.count() == n_before


def test_merged_triples_equal_rebuild_from_committed_tables(
        spark, half_graphs, tmp_path_factory):
    """Triple files carried over by hard link must not go stale: after
    a merge the triples table is exactly build_triples over the
    committed node and edge tables."""
    g_a, g_b = half_graphs
    root = str(tmp_path_factory.mktemp("kg_merge_triples"))
    write_graph(g_a, root)
    counts = merge_graph(g_b, root)
    got = _rows(spark.read.parquet(f"{root}/triples"))
    nodes, edges = _committed(spark, root)
    want = _rows(build_triples(nodes, edges))
    assert len(got) == len(set(got)) == counts["triples"]
    assert set(got) == set(want)


def test_remerge_writes_no_table_file(spark, half_graphs, tmp_path_factory):
    """Re-merging a graph that is already merged changes no row: no
    parquet file appears outside lineage/, and every data file keeps
    its inode."""
    g_a, g_b = half_graphs
    root = str(tmp_path_factory.mktemp("kg_merge_noop"))
    write_graph(g_a, root)
    first = merge_graph(g_b, root, with_search_indexes=True)
    before = _data_files(root)
    again = merge_graph(g_b, root, with_search_indexes=True)
    assert again == first
    assert _data_files(root) == before


def test_edge_only_delta_appends_and_keeps_other_partitions(
        spark, half_graphs, tmp_path_factory):
    """A delta that only adds HAS_TOPIC edges (which feed no derived
    count) rewrites no existing file: every old file keeps its inode,
    and new files land only in the pred=HAS_TOPIC partitions of edges
    and triples."""
    g_a, _ = half_graphs
    root = str(tmp_path_factory.mktemp("kg_merge_append"))
    write_graph(g_a, root)
    nodes, edges = _committed(spark, root)
    have = set(_rows(edges.filter(F.col("pred") == "HAS_TOPIC")))
    works = sorted(r["id"] for r in nodes["Work"].select("id").collect())
    topics = sorted(r["id"] for r in nodes["Topic"].select("id").collect())
    extra = [(w, "HAS_TOPIC", t) for w in works for t in topics
             if (w, "HAS_TOPIC", t) not in have][:5]
    assert extra
    delta = GraphTables(
        nodes=nodes,
        edges=edges.unionByName(
            spark.createDataFrame(extra, "subj string, pred string, obj string")),
        triples=None)
    before = _data_files(root)
    counts = merge_graph(delta, root)

    after = _data_files(root)
    assert all(after.get(f) == ino for f, ino in before.items())
    new = set(after) - set(before)
    assert {os.path.dirname(f) for f in new} == {
        os.path.join("edges", "pred=HAS_TOPIC"),
        os.path.join("triples", "pred=HAS_TOPIC")}
    merged = _rows(spark.read.parquet(f"{root}/edges"))
    assert len(merged) == len(set(merged)) == counts["edges"]
    assert set(extra) <= set(merged)


def _crash_before_rename(monkeypatch, target):
    real = mat._commit_table

    def commit(staged, path):
        if path == target:  # staged dir linked and filled, not promoted
            assert os.path.isdir(staged)
            raise RuntimeError("killed before commit")
        real(staged, path)
    monkeypatch.setattr(mat, "_commit_table", commit)


def _crash_between_renames(monkeypatch, target):
    real = os.rename

    def rename(src, dst):
        # the live dir is already moved aside; the staged dir is not
        # promoted yet
        if dst == target:
            raise RuntimeError("killed between renames")
        real(src, dst)
    monkeypatch.setattr(os, "rename", rename)


def _crash_then_rerun(spark, half_graphs, root, monkeypatch, crash, op):
    """Write g_a, kill ``op(g_b, root)`` in the commit of the
    pred-partitioned edges table, check that the edges read as exactly
    g_a's with no duplicate rows, then re-run ``op``; return g_a's
    edges, the re-run's counts and the committed edges."""
    g_a, g_b = half_graphs
    epath = f"{root}/edges"
    write_graph(g_a, root)
    old = _rows(spark.read.parquet(epath))
    assert set(old) == set(_rows(g_a.edges))

    crash(monkeypatch, epath)
    with pytest.raises(RuntimeError, match="killed"):
        op(g_b, root)
    monkeypatch.undo()
    mat._recover_table(epath)  # what the next merge does first
    got = _rows(spark.read.parquet(epath))
    assert len(got) == len(set(got))
    assert set(got) == set(old)

    counts = op(g_b, root)
    got = _rows(spark.read.parquet(epath))
    assert len(got) == len(set(got)) == counts["edges"]
    assert not _leftovers(root, "edges")
    return old, set(got)


def _leftovers(root: str, table: str) -> list[str]:
    """Staged (``.tmp-*``) and backup (``.bak-*``) siblings of a table."""
    return [d for d in os.listdir(root)
            if d.startswith((f"{table}.tmp-", f"{table}.bak-"))]


CRASHES = [_crash_before_rename, _crash_between_renames]


@pytest.mark.parametrize("crash", CRASHES)
def test_merge_crash_leaves_old_or_new_table(spark, half_graphs,
                                             tmp_path_factory, monkeypatch,
                                             crash):
    """Kill the copy-on-write commit of a merge at each crash point: the
    table reads as exactly the old state, and the next merge recovers
    and commits exactly the new state."""
    old, got = _crash_then_rerun(
        spark, half_graphs, str(tmp_path_factory.mktemp("kg_merge_crash")),
        monkeypatch, crash, merge_graph)
    assert got == set(old) | set(_rows(half_graphs[1].edges))


@pytest.mark.parametrize("crash", CRASHES)
def test_write_crash_leaves_old_or_new_table(spark, half_graphs,
                                             tmp_path_factory, monkeypatch,
                                             crash):
    """A cold import over an existing graph commits each table the same
    way: killed at each crash point it leaves the previous import's
    table, and a re-run replaces it with exactly the new graph's."""
    _, got = _crash_then_rerun(
        spark, half_graphs, str(tmp_path_factory.mktemp("kg_write_crash")),
        monkeypatch, crash, write_graph)
    assert got == set(_rows(half_graphs[1].edges))


@pytest.mark.parametrize("crash", CRASHES)
def test_write_rerun_after_crash_needs_no_recovery(spark, half_graphs,
                                                   tmp_path_factory,
                                                   monkeypatch, crash):
    """A cold import re-run straight after a crashed one (no recovery
    step in between) commits exactly the new graph and removes what
    the crashed commit left beside the table."""
    g_a, g_b = half_graphs
    root = str(tmp_path_factory.mktemp("kg_write_rerun"))
    epath = f"{root}/edges"
    write_graph(g_a, root)
    crash(monkeypatch, epath)
    with pytest.raises(RuntimeError, match="killed"):
        write_graph(g_b, root)
    monkeypatch.undo()
    assert _leftovers(root, "edges")

    counts = write_graph(g_b, root)
    got = _rows(spark.read.parquet(epath))
    assert len(got) == len(set(got)) == counts["edges"]
    assert set(got) == set(_rows(g_b.edges))
    assert not _leftovers(root, "edges")


EDGE_PREDS = {"AUTHORED", "AFFILIATED_WITH", "PUBLISHED_IN", "CITES",
              "HAS_TOPIC", "FUNDED_BY", "PUBLISHED_BY"}


def test_zero_edge_graph_writes_and_merges(spark, tmp_path_factory):
    """A graph of works with no author, venue, topic, funder or citation
    has no edges: the empty pred-partitioned edges table still commits
    and counts 0, the triples hold only property and label rows, and
    re-merging the same graph writes no table file."""
    from openalex_neo4j_spark.pipeline import build_graph_from_linked
    from openalex_neo4j_spark.schemas import MENTION_SCHEMA

    rows = [(f"u{i}", f"Paper {i}", f"paper {i}", f"10.9/{i}", 2020,
             "journal-article", None, [], [], None, None, None, [], [], [])
            for i in range(3)]
    linked = spark.createDataFrame(rows, MENTION_SCHEMA).withColumn(
        "work_key", F.concat(F.lit("doi:"), F.lower(F.trim("doi"))))
    g = build_graph_from_linked(linked)
    root = str(tmp_path_factory.mktemp("kg_zero_edges"))

    assert write_graph(g, root)["edges"] == 0
    first = merge_graph(g, root)
    assert first["edges"] == 0
    assert spark.read.schema(g.edges.schema).parquet(
        f"{root}/edges").count() == 0
    triples = _rows(spark.read.parquet(f"{root}/triples"))
    preds = {p for _, p, _ in triples}
    assert "label" in preds and preds.isdisjoint(EDGE_PREDS)
    assert len(triples) == first["triples"]

    before = _data_files(root)
    assert merge_graph(g, root) == first
    assert _data_files(root) == before


def test_read_graph_maps_tables_and_guards_the_index(spark, half_graphs,
                                                     tmp_path_factory):
    """materialize.read_graph returns each committed table by name; a
    graph written without search indexes has no index (None), and an
    index file that cannot be read raises instead of reading as
    missing."""
    g_a, _ = half_graphs
    root = str(tmp_path_factory.mktemp("kg_read_graph"))
    counts = write_graph(g_a, root)

    tables = mat.read_graph(spark, root)
    assert tables["index_fulltext"] is None
    assert list(tables) == [*LABELS, "edges", "triples", "index_fulltext"]
    assert {name: tables[name].count() for name in counts} == counts

    os.makedirs(f"{root}/index_fulltext")
    with open(f"{root}/index_fulltext/part-00000.parquet", "wb") as fh:
        fh.write(b"not a parquet file")
    with pytest.raises(Exception) as e:
        mat.read_graph(spark, root, ("index_fulltext",))
    assert "parquet" in str(e.value).lower()
