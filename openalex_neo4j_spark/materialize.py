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

Re-imports (``merge_graph``, ``upsert_nodes``) commit through one
file-level copy-on-write primitive, ``_cow_commit`` — the Delta Lake /
Iceberg MERGE recipe (Armbrust et al., VLDB 2020) without a manifest:
diff the table's new state against its current rows, tagged with the
file each row lives in; rewrite only the files that hold a removed or
changed row, plus the added rows; hard-link every other file into the
staged directory; promote it with the two-rename ``_commit_table``. A
merge therefore writes the delta plus the files it touches, not the
table, and a re-import that changes nothing writes no table file.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from functools import reduce
from urllib.parse import unquote, urlparse

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from openalex_neo4j_spark.pipeline import GraphTables
from openalex_neo4j_spark.session import ckpt, read_parquet_or_none


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
    The Iceberg analog is the snapshot-pointer swap of ``MERGE INTO``."""
    bak = f"{path}.bak-{uuid.uuid4().hex[:8]}"
    if os.path.exists(path):
        os.rename(path, bak)
    os.rename(staged, path)
    shutil.rmtree(bak, ignore_errors=True)


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
    moves before the final rename. From the ``_diff`` of the two:

    - a file holding a row that ``final`` lacks is *touched*: its
      surviving rows are rewritten together with the added rows, one
      output file per ``partition_by`` value;
    - every untouched file is hard-linked into the staged directory
      under its own relative path, so its inode, bytes and mtime carry
      over;
    - nothing touched and nothing added: no write and no commit.

    A schema change (a new column or type) rewrites the whole table.
    The row count comes from the diff (old − dropped + added), and the
    returned table reuses ``old``'s schema: no re-read of the committed
    files."""
    spark, cols = final.sparkSession, final.columns
    diff = _diff(old, final)
    comparable = diff is not None
    if not comparable:  # every old file is replaced
        diff = final.select(*cols, F.lit(None).cast("string").alias("_file"),
                            F.lit(True).alias("_new"))
    # the diff feeds two jobs (stats, then the rewrite): keep it in the
    # block store's disk tier instead of grouping twice
    diff = diff.persist(StorageLevel.DISK_ONLY)
    try:
        stats = diff.groupBy("_file", "_new").count().collect()
        touched = {r["_file"] for r in stats if not r["_new"]}
        added = sum(r["count"] for r in stats if r["_file"] is None)
        n_rows = sum(r["count"] for r in stats if r["_new"])
        if comparable and not touched and not added:
            return old, n_rows
        n_rewrite = added + sum(r["count"] for r in stats
                                if r["_new"] and r["_file"] in touched)
        kept = []
        if comparable:
            root = os.path.realpath(path)
            gone = {os.path.relpath(
                os.path.realpath(unquote(urlparse(u).path)), root)
                for u in touched}
            kept = [rel for rel in _data_files(path) if rel not in gone]

        staged = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
        # an emptied table still gets one (empty) file for its schema
        if n_rewrite or not kept:
            rows = diff.filter(F.col("_new") & (
                F.col("_file").isNull() | F.col("_file").isin(*touched))
            ).select(*cols)
            if partition_by:
                rows.repartition(partition_by).write.partitionBy(
                    partition_by).parquet(staged)
            else:
                rows.coalesce(1).write.parquet(staged)
        else:
            os.makedirs(staged)
        for rel in kept:
            _link_file(path, staged, rel)
        _commit_table(staged, path)
        reader = spark.read.schema(old.schema) if comparable else spark.read
        return reader.parquet(path), n_rows
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
                 key: str = "id", backend: str = "plain") -> DataFrame:
    """Last-wins MERGE upsert (A2): re-imported rows overwrite stored
    properties, like the reference's ``MERGE … SET n += item``
    (neo4j_client.py:246-252; last-wins asserted in its
    tests/integration/test_neo4j_integration.py:134-151).

    The plain backend commits through ``_cow_commit``: only the files
    holding an updated key are rewritten, and a crash at any point
    leaves the previous table readable (kill tests in
    tests/test_import_query.py and tests/test_merge_graph.py).

    ``backend="snapshot"`` routes the same MERGE through
    :class:`~openalex_neo4j_spark.table_format.SnapshotTable` instead:
    versioned snapshots, min/max-key group pruning, time travel, and
    safe concurrent writers — at the cost of the snapshot layout
    (``_snapshots/`` + ``data/``) replacing the plain parquet directory.
    """
    if backend == "snapshot":
        from openalex_neo4j_spark.table_format import SnapshotTable
        t = SnapshotTable(spark, path, key=key)
        # Migration guard: a path previously written by the PLAIN
        # backend holds bare parquet files and no _snapshots/ dir.
        # SnapshotTable would see version 0, commit only new_df, and
        # every read would silently drop the previously merged rows
        # (the old part files just sit unreferenced in the same
        # directory). Fold the existing plain table in as the initial
        # snapshot instead, so switching backends preserves state the
        # same way staying on plain would.
        if t.current_version() == 0:
            _recover_table(path)  # a crashed plain commit counts too
            # read only the TOP-LEVEL part files explicitly: the path
            # can also hold orphan data/<uuid>/ group dirs from a
            # snapshot first-merge that crashed before its manifest
            # commit (current_version() still 0) — a bare
            # read.parquet(path) would then see parquet leaves at
            # mixed directory depths and raise "Conflicting directory
            # structures", wedging the migration until manual cleanup
            plain_parts = sorted(
                os.path.join(path, f) for f in os.listdir(path)
                if f.endswith(".parquet")
            ) if os.path.isdir(path) else []
            if plain_parts:
                t.merge(spark.read.parquet(*plain_parts))
        t.merge(new_df)
        return t.read()
    old = _read_prior(spark, path)
    return _cow_commit(path, old, _last_wins(old, new_df, key))[0]


def _materialize(frames: list[DataFrame]) -> None:
    """Compute every lazily-checkpointed plan in ``frames`` in ONE job
    before a concurrent fan-out: Spark's RDD checkpoint machinery has a
    lock-order inversion — RDD.doCheckpoint takes the global
    RDDCheckpointData$ lock then the RDD's own lock, while the
    DAGScheduler's getCacheLocs/visit takes the RDD lock then (via
    RDD.checkpointRDD -> isCheckpointed) the global lock — so two
    concurrent jobs that share an UNMATERIALIZED localCheckpoint RDD
    can deadlock the driver (observed in CI: an action thread blocked
    in RDDCheckpointData.checkpoint against dag-scheduler-event-loop in
    getCacheLocs, both on the same node table; the suite hung for 35+
    min on an idle machine). ONE count over a superset-schema union of
    the frames closes the window: each ckpt RDD is computed exactly
    once, on this single action thread, and the union branches fill the
    cores concurrently."""
    reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True),
           frames).count()


def _concurrently(fn, calls: dict[str, tuple]) -> dict:
    """``{name: fn(*args)}``, each call made from its own thread so that
    their Spark jobs run concurrently (a sequential loop serializes
    their fixed per-job latency)."""
    with ThreadPoolExecutor(max_workers=len(calls)) as pool:
        futs = {name: pool.submit(fn, *args) for name, args in calls.items()}
        return {name: f.result() for name, f in futs.items()}


# edge-derived node counts that a merge recomputes over the merged edges
_REFRESH_COLS = {"Work": ["cited_by_count"],
                 "Author": ["works_count", "cited_by_count"],
                 "Source": ["works_count"],
                 "Publisher": ["works_count"]}


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
    from openalex_neo4j_spark.pipeline import (build_triples,
                                               enrich_node_counts)

    t0 = time.time()
    paths = {name: f"{root}/{name}" for name in ["edges", "triples"]}
    paths.update({label: f"{root}/nodes_{label.lower()}" for label in g.nodes})
    if with_search_indexes:
        paths["index_fulltext"] = f"{root}/index_fulltext"
    # every read infers its schema with a Spark job: read them together
    old = _concurrently(_read_prior, {t: (spark, p) for t, p in paths.items()})

    # The final state of every table is checkpointed before any commit:
    # the node refresh, the triples and the fulltext index then read no
    # file a concurrent commit moves, so all tables commit at once.
    new_e = g.edges.select("subj", "pred", "obj")
    edges = ckpt((new_e if old["edges"] is None
                  else old["edges"].select("subj", "pred", "obj")
                  .unionByName(new_e).dropDuplicates()), eager=False)
    upserted = {label: _last_wins(old[label], df, "id")
                for label, df in g.nodes.items()}
    final = enrich_node_counts(  # checkpoints Work eagerly
        {label: df.drop(*_REFRESH_COLS.get(label, []))
         for label, df in upserted.items()}, edges, linked=None)
    final = {label: df if label == "Work" else ckpt(df, eager=False)
             for label, df in final.items()}
    _materialize([edges, *final.values()])

    tables = {label: (paths[label], old[label], final[label])
              for label in g.nodes}
    tables["edges"] = (paths["edges"], old["edges"], edges, "pred")
    tables["triples"] = (paths["triples"], old["triples"],
                         build_triples(final, edges), "pred")
    if with_search_indexes:
        from openalex_neo4j_spark.search import work_fulltext_index

        tables["index_fulltext"] = (
            paths["index_fulltext"], old["index_fulltext"],
            work_fulltext_index(final["Work"]))
    counts = {name: n for name, (_, n) in
              _concurrently(_cow_commit, tables).items()}

    from openalex_neo4j_spark.schemas import LINEAGE_SCHEMA

    wall_ms = int((time.time() - t0) * 1000)
    spark.createDataFrame(
        [("merge", -1, None, counts["triples"], wall_ms, "done", "merge")],
        LINEAGE_SCHEMA,
    ).write.mode("append").parquet(f"{root}/lineage")
    return counts


def _write(df: DataFrame, path: str, partition_by: list[str] | None = None) -> int:
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
    return -1  # caller counts from the written table to avoid recompute


def write_graph(g: GraphTables, root: str,
                with_search_indexes: bool = False) -> dict[str, int]:
    """Write all tables; return row counts (A7 import-count report,
    importer.py:95-98 / cli.py:159-181).

    ``with_search_indexes=True`` additionally materializes the fulltext
    inverted index over the written Work table (``index_fulltext``) —
    the import-time DDL analog of the reference's fulltext/vector index
    creation (neo4j_client.py:134-144, 191-207; importer step 5). The
    search path then reads the stored index instead of rebuilding it
    per query.
    """
    spark = g.edges.sparkSession
    counts: dict[str, int] = {}
    t0 = time.time()
    # all tables are independent outputs of already-checkpointed plans:
    # write them as concurrent jobs (a sequential loop serializes ~9
    # driver-blocking actions whose fixed latency no core count can
    # shrink); the counts afterwards read parquet footer metadata only.
    # The triples plan references every node table, so the fan-out
    # needs the node checkpoints materialized first.
    _materialize(list(g.nodes.values()))

    jobs = [(label, f"{root}/nodes_{label.lower()}", df, None)
            for label, df in g.nodes.items()]
    jobs.append(("edges", f"{root}/edges", g.edges, ["pred"]))
    jobs.append(("triples", f"{root}/triples", g.triples, ["pred"]))

    def _write_and_count(df: DataFrame, path: str, part) -> int:
        # count INSIDE the worker thread: footer-metadata reads are
        # cheap jobs, but nine of them in a serial post-write loop
        # were nine more driver round-trips on the critical path
        _write(df, path, partition_by=part)
        return spark.read.parquet(path).count()

    with ThreadPoolExecutor(max_workers=len(jobs)) as pool:
        futs = [(key, pool.submit(_write_and_count, df, path, part))
                for key, path, df, part in jobs]
        for key, f in futs:
            counts[key] = f.result()
    if with_search_indexes:
        from openalex_neo4j_spark.search import work_fulltext_index

        works_stored = spark.read.parquet(f"{root}/nodes_work")
        _write(work_fulltext_index(works_stored), f"{root}/index_fulltext")
        counts["index_fulltext"] = spark.read.parquet(
            f"{root}/index_fulltext").count()

    # lineage/metrics rows (north rule): one row per stage with wall
    # time and output counts
    wall_ms = int((time.time() - t0) * 1000)
    lineage_rows = [
        ("materialize", -1, None, counts["triples"], wall_ms, "done", "write")
    ]
    from openalex_neo4j_spark.schemas import LINEAGE_SCHEMA

    spark.createDataFrame(lineage_rows, LINEAGE_SCHEMA).write.mode(
        "append"
    ).parquet(f"{root}/lineage")
    return counts
