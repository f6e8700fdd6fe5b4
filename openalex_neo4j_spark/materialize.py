"""Graph materialization: partitioned node/edge/triple tables.

Analog of the reference's two-phase import (nodes then relationships —
importer.py:87-93, README:156-161) with Neo4j ``UNWIND…MERGE`` batches
(neo4j_client.py:211-320) replaced by columnar table writes:

- one table per node label (``nodes_work``, ``nodes_author``, …),
- one ``edges`` table **partitioned by pred** (partition pruning for
  per-edge-type scans — the analog of Neo4j's relationship-type index),
- the exploded ``triples`` table (the P/R-scored artifact),
- a ``lineage`` table with per-partition rows (north rule: resumable
  runs + metrics).

Every table is a plain parquet directory under the warehouse root, and
the table IS the set of parquet files under that directory: search,
``scripts/kg.py`` and pyarrow readers rely on nothing else.

Every warehouse table, fresh (``write_graph``) or merged
(``merge_graph``, ``upsert_nodes``), commits through one file-level
copy-on-write primitive, ``_cow_commit`` — the Delta Lake / Iceberg
MERGE recipe (Armbrust et al., VLDB 2020) without a manifest: write
into a staged directory, promote it with the two-rename
``_commit_table``. A fresh table is written whole. A merged one is
diffed against its current rows, tagged with the file each row lives
in: only the files that hold a removed or changed row are rewritten,
plus the added rows, and every other file is hard-linked into the
staged directory. A merge therefore writes the delta plus the files it
touches, not the table, and a re-import that changes nothing writes no
table file. A crash at any point leaves the previous table intact
(``_recover_table`` puts it back if the crash fell between the two
renames).
"""

from __future__ import annotations

import os
import shutil
import time
import uuid
from urllib.parse import unquote, urlparse

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from openalex_neo4j_spark.lineage import append_lineage
from openalex_neo4j_spark.pipeline import GraphTables, finish_graph
from openalex_neo4j_spark.session import (ckpt, concurrently,
                                          read_parquet_or_none)


def _read_prior(spark: SparkSession, path: str) -> DataFrame | None:
    """The table at ``path`` for a cumulative MERGE, after recovering a
    crashed commit; None only when there is no prior table. Any other
    read error aborts the merge instead of committing just the delta
    over the live table."""
    _recover_table(path)
    return read_parquet_or_none(spark, path)


def _recover_table(path: str) -> None:
    """If a previous commit crashed between the two renames (live dir
    moved aside, staged dir not yet promoted), restore the backup."""
    if not os.path.exists(path):
        for d in sorted(os.listdir(os.path.dirname(path) or ".")):
            full = os.path.join(os.path.dirname(path) or ".", d)
            if full.startswith(f"{path}.bak-"):
                os.rename(full, path)
                return


def _commit_table(staged: str, path: str) -> None:
    """Atomic-enough promote on a posix fs: each rename is atomic, and
    at every intermediate point either ``path`` or a ``.bak`` sibling
    holds the complete previous table (recovered by ``_recover_table``).
    The Iceberg analog is the snapshot-pointer swap of ``MERGE INTO``.

    Once ``path`` holds the new table, every ``.tmp-*`` and ``.bak-*``
    sibling of it is garbage: this commit's backup, and whatever a
    crashed commit left (a staged dir never promoted, a backup never
    deleted). One writer per table is assumed."""
    bak = f"{path}.bak-{uuid.uuid4().hex[:8]}"
    if os.path.exists(path):
        os.rename(path, bak)
    os.rename(staged, path)
    parent, name = os.path.split(path)
    for d in os.listdir(parent or "."):
        if d.startswith((f"{name}.tmp-", f"{name}.bak-")):
            shutil.rmtree(os.path.join(parent, d), ignore_errors=True)


def _data_files(path: str) -> list[str]:
    """Paths, relative to ``path``, of the table's parquet data files
    (Spark skips ``.``/``_``-prefixed names when reading)."""
    out = []
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                out.append(os.path.relpath(os.path.join(d, f), path))
    return out


def _link_file(src_root: str, dst_root: str, rel: str) -> None:
    """Hard-link one data file and its checksum sidecar, if any."""
    d, name = os.path.split(rel)
    os.makedirs(os.path.join(dst_root, d), exist_ok=True)
    for r in (rel, os.path.join(d, f".{name}.crc")):
        if os.path.exists(os.path.join(src_root, r)):
            os.link(os.path.join(src_root, r), os.path.join(dst_root, r))


def _footer_rows(path: str) -> int:
    """Row count of the table at ``path``, summed from its parquet
    footers on the driver: no Spark job."""
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(os.path.join(path, rel)).num_rows
               for rel in _data_files(path))


def _schema_sig(df: DataFrame) -> list[tuple[str, str]]:
    return sorted((f.name, f.dataType.simpleString()) for f in df.schema)


def _diff(old: DataFrame | None, final: DataFrame) -> DataFrame | None:
    """One row per distinct row of ``old`` ∪ ``final``: its columns,
    ``_file`` (the old file holding it; null if it is new) and ``_new``
    (whether ``final`` holds it). None when there is no comparable old
    table (none, or another schema).

    Tables are row sets, so a set difference is the whole MERGE diff: a
    row only in ``old`` was dropped or replaced (an updated node's old
    version), a row only in ``final`` was added. One grouping over the
    union matches rows null-safely on every column in one exchange."""
    if old is None or _schema_sig(old) != _schema_sig(final):
        return None
    cols = final.columns
    return (
        old.select(*cols, F.col("_metadata.file_path").alias("_file"))
        .unionByName(final.select(
            *cols, F.lit(None).cast("string").alias("_file")))
        .groupBy(*cols)
        .agg(F.max("_file").alias("_file"),
             F.max(F.col("_file").isNull()).alias("_new"))
    )


def _cow_commit(path: str, old: DataFrame | None, final: DataFrame,
                partition_by: str | None = None) -> tuple[DataFrame, int]:
    """Commit ``final`` as the table at ``path`` by file-level
    copy-on-write; return the committed table and its row count.

    ``old`` is the bare ``spark.read.parquet(path)`` (None: no prior
    table), and ``final`` may read it lazily: nothing under ``path``
    moves before the final rename.

    With nothing to diff (no ``old``, or another schema: a new column
    or type), ``final`` is written whole, laid out as Spark partitions
    it, and counted from the parquet footers. Otherwise, from the
    ``_diff`` of the two:

    - a file holding a row that ``final`` lacks is *touched*: its
      surviving rows are rewritten together with the added rows, one
      output file per ``partition_by`` value;
    - every untouched file is hard-linked into the staged directory
      under its own relative path, so its inode, bytes and mtime carry
      over;
    - nothing touched and nothing added: no write and no commit.

    The row count then comes from the diff (old − dropped + added), and
    the returned table reuses ``old``'s schema: no re-read of the
    committed files."""
    spark, cols = final.sparkSession, final.columns
    staged = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    diff = _diff(old, final)
    if diff is None:
        w = final.write
        if partition_by:
            w = w.partitionBy(partition_by)
        w.parquet(staged)
        n_rows = _footer_rows(staged)
        _commit_table(staged, path)
        # the explicit schema reads an empty partitioned table too,
        # which holds no data file to infer one from
        return spark.read.schema(final.schema).parquet(path), n_rows
    # the diff feeds two jobs (stats, then the rewrite): keep it in the
    # block store's disk tier instead of grouping twice
    diff = diff.persist(StorageLevel.DISK_ONLY)
    try:
        stats = diff.groupBy("_file", "_new").count().collect()
        touched = {r["_file"] for r in stats if not r["_new"]}
        added = sum(r["count"] for r in stats if r["_file"] is None)
        n_rows = sum(r["count"] for r in stats if r["_new"])
        if not touched and not added:
            return old, n_rows
        rows = diff.filter(F.col("_new") & (
            F.col("_file").isNull() | F.col("_file").isin(*touched))
        ).select(*cols)
        if partition_by:
            rows.repartition(partition_by).write.partitionBy(
                partition_by).parquet(staged)
        else:  # an emptied table still gets one (empty) file for its schema
            rows.coalesce(1).write.parquet(staged)
        root = os.path.realpath(path)
        gone = {os.path.relpath(
            os.path.realpath(unquote(urlparse(u).path)), root)
            for u in touched}
        for rel in _data_files(path):
            if rel not in gone:
                _link_file(path, staged, rel)
        _commit_table(staged, path)
        return spark.read.schema(old.schema).parquet(path), n_rows
    finally:
        diff.unpersist()


def _last_wins(old: DataFrame | None, new: DataFrame,
               key: str) -> DataFrame:
    """Union old+new with a precedence column and keep the newest row
    per key: Iceberg ``MERGE INTO … WHEN MATCHED THEN UPDATE SET * WHEN
    NOT MATCHED THEN INSERT *``."""
    if old is None:
        return new
    merged = old.withColumn("_gen", F.lit(0)).unionByName(
        new.withColumn("_gen", F.lit(1)), allowMissingColumns=True)
    w = Window.partitionBy(key).orderBy(F.col("_gen").desc())
    return (merged.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn", "_gen"))


def upsert_nodes(spark: SparkSession, path: str, new_df: DataFrame,
                 key: str = "id") -> DataFrame:
    """Last-wins MERGE upsert (A2): re-imported rows overwrite stored
    properties, like the reference's ``MERGE … SET n += item``
    (neo4j_client.py:246-252; last-wins asserted in its
    tests/integration/test_neo4j_integration.py:134-151).

    ``new_df`` must hold each key once (``ValueError`` otherwise): with
    two rows for one key, neither is the last.

    Commits through ``_cow_commit``: only the files holding an updated
    key are rewritten, and a crash at any point leaves the previous
    table intact (kill tests in tests/test_import_query.py and
    tests/test_merge_graph.py)."""
    if new_df.groupBy(key).count().filter(F.col("count") > 1).take(1):
        raise ValueError(f"upsert_nodes: duplicate {key!r} keys in new_df")
    old = _read_prior(spark, path)
    return _cow_commit(path, old, _last_wins(old, new_df, key))[0]


def merge_graph(g: GraphTables, root: str,
                with_search_indexes: bool = False) -> dict[str, int]:
    """Cumulative import: MERGE a newly built :class:`GraphTables`
    into an existing graph directory — the reference's re-import
    semantics, where a second run MERGEs into the live Neo4j store
    instead of replacing it (importer.py:87-93 re-run;
    ``MERGE … SET n += item`` neo4j_client.py:246-252 upserts node
    props last-wins and relationship MERGE is set semantics).

    - **Edges**: set-union MERGE on (subj, pred, obj) — a re-imported
      edge cannot duplicate.
    - **Nodes**: last-wins upsert per label, with the edge-derived
      counts refreshed from the MERGED edge set in the same pass (a
      delta can add CITES edges pointing at works that were not in the
      delta): Work.cited_by_count, Author.works_count/cited_by_count,
      Source.works_count, Publisher.works_count.
      Institution.works_count stays last-wins — it derives from linked
      mentions, which the warehouse does not retain across imports
      (documented boundary; see pipeline.enrich_node_counts).
    - **Triples** rebuilt from the merged node/edge state (property
      triples must reflect merged props, not the delta's).
    - **index_fulltext** rebuilt from the merged Work table; its idf
      weights depend on the Work count, so any Work insert rewrites it.

    Every table commits through ``_cow_commit``: only files holding a
    changed or removed row are rewritten, the rest carry over by hard
    link, and the returned counts come from the diffs. Each table
    commits atomically on its own; a crash mid-merge can leave some
    tables merged and others not, and re-running the merge converges.

    Identity note: DOI-keyed works, ORCID authors, ROR institutions,
    ISSN sources and slug-keyed topics/funders/publishers merge
    globally across imports by construction (their ids are computed
    from the entity, like the reference's OpenAlex ids). Title-minted
    orphan works merge when their normalized titles collapse to the
    same group; cross-import FUZZY links (LSH/TF-IDF) are not
    re-evaluated against the historical corpus — linking is per-import,
    the same boundary the reference has (it never re-links previously
    imported records either).
    """
    spark = g.edges.sparkSession
    t0 = time.time()
    names = [*g.nodes, "edges", "triples"]
    if with_search_indexes:
        names.append("index_fulltext")
    # every read infers its schema with a Spark job: read them together
    old = concurrently(_read_prior, {t: (spark, table_path(root, t))
                                     for t in names})

    # The final state of every table is checkpointed before any commit:
    # the node refresh, the triples and the fulltext index then read no
    # file a concurrent commit moves, so all tables commit at once. The
    # merged edges go first (the refresh reads them), then the node
    # tables, by the build's own finishing step.
    new_e = g.edges.select("subj", "pred", "obj")
    edges = ckpt(new_e if old["edges"] is None
                 else old["edges"].select("subj", "pred", "obj")
                 .unionByName(new_e).dropDuplicates())
    final = finish_graph({label: _last_wins(old[label], df, "id")
                          for label, df in g.nodes.items()}, edges)
    return _commit_graph(root, final, old, with_search_indexes,
                         ("merge", "merge"), t0)


GRAPH_TABLES = ("Work", "Author", "Institution", "Source", "Topic", "Funder",
                "Publisher", "edges", "triples", "index_fulltext")


def table_path(root: str, name: str) -> str:
    """Where the table ``name`` (a node label, ``edges``, ``triples`` or
    ``index_fulltext``) of the graph at ``root`` lives."""
    if name in ("edges", "triples", "index_fulltext"):
        return f"{root}/{name}"
    return f"{root}/nodes_{name.lower()}"


def read_graph(spark: SparkSession, root: str,
               names: tuple[str, ...] = GRAPH_TABLES
               ) -> dict[str, DataFrame | None]:
    """The committed tables of the graph at ``root``, by name (see
    ``table_path``), read concurrently: each read infers its schema with
    a Spark job. ``index_fulltext`` is None for a graph written without
    search indexes; an index that exists but cannot be read raises."""
    def read(name: str) -> DataFrame | None:
        path = table_path(root, name)
        if name == "index_fulltext":
            return read_parquet_or_none(spark, path)
        return spark.read.parquet(path)

    return concurrently(read, {name: (name,) for name in names})


def _commit_graph(root: str, g: GraphTables,
                  old: dict[str, DataFrame | None], with_search_indexes: bool,
                  lineage: tuple[str, str], t0: float) -> dict[str, int]:
    """Commit every table of ``g`` through ``_cow_commit``, each
    as its own concurrent Spark job, then append the ``lineage`` row
    (stage, run id) with ``lineage.append_lineage`` (no Spark job);
    return the row counts. ``old`` maps a table name
    to its prior rows (missing: nothing to diff). The fulltext index is
    built from the checkpointed ``Work`` frame in the same batch."""
    final = {**g.nodes, "edges": g.edges, "triples": g.triples}
    if with_search_indexes:
        from openalex_neo4j_spark.search import work_fulltext_index

        final["index_fulltext"] = work_fulltext_index(g.nodes["Work"])
    tables = {name: (table_path(root, name), old.get(name), df,
                     "pred" if name in ("edges", "triples") else None)
              for name, df in final.items()}
    counts = {name: n for name, (_, n) in
              concurrently(_cow_commit, tables).items()}

    stage, run_id = lineage
    append_lineage(root, [(stage, -1, None, counts["triples"],
                           int((time.time() - t0) * 1000), "done", run_id)])
    return counts


def write_graph(g: GraphTables, root: str,
                with_search_indexes: bool = False) -> dict[str, int]:
    """Write all tables, replacing any graph already at ``root``; return
    row counts (A7 import-count report, importer.py:95-98 /
    cli.py:159-181).

    ``with_search_indexes=True`` additionally materializes the fulltext
    inverted index over the Work table (``index_fulltext``) — the
    import-time DDL analog of the reference's fulltext/vector index
    creation (neo4j_client.py:134-144, 191-207; importer step 5). The
    search path then reads the stored index instead of rebuilding it
    per query.
    """
    return _commit_graph(root, g, {}, with_search_indexes,
                         ("materialize", "write"), time.time())
