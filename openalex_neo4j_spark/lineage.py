"""Per-partition lineage + resumable build (north rule).

Every stage writes lineage rows ``(stage, partition_id, input_rows,
output_rows, wall_ms, status, run_id)`` to ``<root>/lineage`` as it
commits output, so a killed ``build_graph_resumable`` resumes without
recomputing completed work. Its stages:

- **extract** processes the input in ``num_buckets`` stable buckets
  (whole input files, or ``pmod(hash(url), num_buckets)``), committing
  ``chunk_size`` buckets at a time via dynamic partition overwrite +
  a lineage append. Kill the run between chunk commits and the next
  run only processes the missing buckets.
- **link** is global (entity linking is a corpus-wide fixpoint): the
  linked table commits atomically to ``<root>/linked``, then its
  lineage row is appended; a resumed run reads it back.
- **materialize** is ``materialize.write_graph`` over
  ``pipeline.build_graph_from_linked``: the assembly and commit every
  other build uses, so the resumable warehouse is read and merged like
  any other. ``write_graph`` appends the stage's row after every table
  has committed; until then a re-run rebuilds the graph from the
  committed linked table.

This is the analog of the reference's idempotent ``MERGE`` re-import
(neo4j_client.py:246-252, tests/integration/test_neo4j_integration.py:
134-151) — re-running converges to the same graph — plus the explicit
bookkeeping the reference never needed because it ran single-process.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from openalex_neo4j_spark.schemas import LINEAGE_SCHEMA
from openalex_neo4j_spark.session import read_parquet_or_none


def _lineage_path(root: str) -> str:
    return f"{root}/lineage"


def read_lineage(spark: SparkSession, root: str) -> DataFrame:
    """The lineage rows under ``root``; empty only when no lineage was
    ever written. A lineage that exists but cannot be read raises."""
    df = read_parquet_or_none(spark, _lineage_path(root))
    return spark.createDataFrame([], LINEAGE_SCHEMA) if df is None else df


def append_lineage(root: str, rows: list[tuple]) -> None:
    """Append ``rows`` (``LINEAGE_SCHEMA`` tuples) to the lineage as one
    new parquet file, written by pyarrow on the driver: a few rows are
    not worth a Spark job. The file is written under a hidden name
    (readers skip ``.``-prefixed files) and renamed into place, so a
    crash mid-append leaves no partial row set."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    table = pa.Table.from_pylist(
        [dict(zip(LINEAGE_SCHEMA.names, r)) for r in rows],
        to_arrow_schema(LINEAGE_SCHEMA))
    path = _lineage_path(root)
    os.makedirs(path, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.snappy.parquet"
    tmp = os.path.join(path, f".{name}.tmp")
    pq.write_table(table, tmp, compression="snappy", store_schema=False)
    os.rename(tmp, os.path.join(path, name))


def completed_partitions(spark: SparkSession, root: str, stage: str) -> set[int]:
    lin = read_lineage(spark, root)
    return {
        r["partition_id"]
        for r in lin.filter(
            (F.col("stage") == stage) & (F.col("status") == "done")
        ).select("partition_id").collect()
    }


def stage_done(spark: SparkSession, root: str, stage: str) -> bool:
    return -1 in completed_partitions(spark, root, stage)


def _is_bare_file_scan(df: DataFrame) -> bool:
    """True iff ``df``'s analyzed plan is a single leaf relation (a
    plain ``spark.read.parquet(...)`` with no filter/project/join on
    top). The file-granular resume path re-reads ``df.inputFiles()``
    directly, which silently DISCARDS any transformation sitting above
    the scan — so it is only sound for a bare scan. ``inputFiles()``
    being non-empty is NOT sufficient: a filtered/joined frame still
    reports its underlying files."""
    return df._jdf.queryExecution().analyzed().children().isEmpty()


def _extract_scheme(files: list[str], num_buckets: int) -> dict:
    """Fingerprint of the bucketing scheme: which algorithm assigns
    pages to buckets, over exactly which file set. Bucket b holds
    different pages under different schemes/file sets, so lineage rows
    are only meaningful relative to this fingerprint."""
    if files:
        md5 = hashlib.md5("\n".join(sorted(files)).encode()).hexdigest()
        return {"scheme": "files", "files_md5": md5,
                "num_buckets": num_buckets}
    return {"scheme": "hash", "files_md5": None,
            "num_buckets": num_buckets}


def _check_extract_scheme(root: str, scheme: dict,
                          have_done_partitions: bool) -> None:
    """Refuse to resume when the recorded scheme doesn't match: a
    prior run's completed bucket ids reinterpreted under a different
    bucketing silently drops some pages and duplicates others."""
    os.makedirs(root, exist_ok=True)
    meta_path = os.path.join(root, "extract_scheme.json")
    if have_done_partitions:
        prev = None
        if os.path.exists(meta_path):
            with open(meta_path) as f:
                prev = json.load(f)
        if prev != scheme:
            raise ValueError(
                "resumable_extract: recorded bucketing scheme "
                f"{prev} does not match current {scheme}; resuming "
                "would misassign pages to completed buckets. Remedy: "
                "restart from scratch by pointing at a fresh root, or "
                f"delete the lineage root (`rm -rf {root}`) to discard "
                "the partial run, or re-run with the original input "
                "frame/bucket count to resume it."
            )
    else:
        with open(meta_path, "w") as f:
            json.dump(scheme, f)


def bucket_files(files: list[str], num_buckets: int) -> dict[int, list[str]]:
    """Stable file->bucket assignment: sorted file list, round-robin.

    Deterministic across runs for an immutable input directory (the
    resume contract assumes the input does not change between the
    killed run and the resume — standard for batch ETL over an
    Iceberg/parquet snapshot)."""
    out: dict[int, list[str]] = {b: [] for b in range(num_buckets)}
    for i, f in enumerate(sorted(files)):
        out[i % num_buckets].append(f)
    return out


def resumable_extract(
    spark: SparkSession,
    pages: DataFrame,
    root: str,
    run_id: str | None = None,
    num_buckets: int = 32,
    chunk_size: int = 8,
    max_chunks: int | None = None,
) -> DataFrame:
    """Extract mentions bucket-by-bucket with per-partition lineage.

    **File-granular chunking**: when ``pages`` is backed by files
    (``pages.inputFiles()`` non-empty), buckets are assignments of
    whole input files (``bucket_files``) and each chunk's job reads
    ONLY its own files — a resume with k of n chunks done re-reads
    k/n-th of nothing, not the whole corpus. The previous
    ``pmod(hash(url), n).isin(chunk)`` filter was a computed predicate
    no row-group statistic can prune, so every chunk commit re-scanned
    every page row (url+html) and discarded ~(1 - chunk/n) of them —
    at 100 TB that multiplies the most expensive scan in the system by
    the number of chunks. For non-file-backed inputs (in-memory test
    frames) the hash-bucket filter remains as fallback.

    ``max_chunks`` limits how many chunk commits this call performs
    (used by tests to simulate a killed run). Returns the mentions
    table as currently materialized (possibly partial).
    """
    from openalex_neo4j_spark.extract import mentions_from_pages

    run_id = run_id or uuid.uuid4().hex[:12]
    out = f"{root}/mentions"
    done = completed_partitions(spark, root, "extract")
    todo = [b for b in range(num_buckets) if b not in done]

    # file-granular path ONLY for a bare file scan — a transformed
    # frame (filter/project/join above the scan) must fall back to the
    # hash-bucket filter, else the transformations are silently lost
    files = sorted(pages.inputFiles()) if _is_bare_file_scan(pages) else []
    _check_extract_scheme(root, _extract_scheme(files, num_buckets),
                          bool(done))
    by_bucket = bucket_files(files, num_buckets) if files else None
    schema = pages.schema

    chunks = [todo[i:i + chunk_size] for i in range(0, len(todo), chunk_size)]
    if max_chunks is not None:
        chunks = chunks[:max_chunks]
    for chunk in chunks:
        t0 = time.time()
        # exactly ONE pass over the html-bearing pages scan per chunk:
        # the extraction write. Bookkeeping counts come from the (much
        # narrower) mentions output read back with partition pruning;
        # input_rows stays null — counting it would re-scan pages.
        if by_bucket is not None:
            parts = []
            for b in chunk:
                if not by_bucket[b]:
                    continue
                # per-bucket scan over exactly that bucket's files;
                # the bucket id is a literal, not a computed column
                bdf = spark.read.schema(schema).parquet(*by_bucket[b])
                parts.append(
                    mentions_from_pages(bdf)
                    .withColumn("bucket", F.lit(b)))
            mentions = parts[0] if parts else None
            for p in parts[1:]:
                mentions = mentions.unionByName(p)
        else:
            bucket_col = F.pmod(F.hash(F.col("url")), F.lit(num_buckets))
            part = pages.filter(bucket_col.isin(chunk))
            mentions = mentions_from_pages(part).withColumn(
                "bucket", F.pmod(F.hash(F.col("url")), F.lit(num_buckets))
            )
        if mentions is not None:
            # replaces only the buckets written; a per-write option, so
            # the caller's session keeps its own overwrite mode
            (mentions.write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy("bucket").parquet(out))
        written = read_parquet_or_none(spark, out)
        # None: a chunk of entirely empty buckets, nothing written yet
        out_rows = 0 if written is None else written.filter(
            F.col("bucket").isin(chunk)).count()
        wall = int((time.time() - t0) * 1000)
        per_bucket_wall = wall // max(len(chunk), 1)
        append_lineage(root, [
            ("extract", b, None, out_rows, per_bucket_wall, "done", run_id)
            for b in chunk
        ])
    written = read_parquet_or_none(spark, out)
    if written is None:
        from openalex_neo4j_spark.schemas import MENTION_SCHEMA
        return spark.createDataFrame([], MENTION_SCHEMA)
    return written.drop("bucket")


def build_graph_resumable(
    spark: SparkSession,
    pages: DataFrame,
    root: str,
    num_buckets: int = 32,
    chunk_size: int = 8,
) -> dict[str, DataFrame | None]:
    """Extract, link and materialize the graph of ``pages`` under
    ``root``, skipping every stage a previous run completed; returns the
    committed tables (``materialize.read_graph``) plus ``lineage``."""
    # imported here: materialize imports this module
    from openalex_neo4j_spark.linking import link_mentions
    from openalex_neo4j_spark.materialize import (_cow_commit, read_graph,
                                                  write_graph)
    from openalex_neo4j_spark.pipeline import build_graph_from_linked

    run_id = uuid.uuid4().hex[:12]
    mentions = resumable_extract(spark, pages, root, run_id,
                                 num_buckets, chunk_size)
    if stage_done(spark, root, "link"):
        linked = spark.read.parquet(f"{root}/linked")
    else:
        t0 = time.time()
        linked, n = _cow_commit(f"{root}/linked", None,
                                link_mentions(mentions))
        append_lineage(root, [("link", -1, None, n,
                               int((time.time() - t0) * 1000), "done",
                               run_id)])
    if not stage_done(spark, root, "materialize"):
        write_graph(build_graph_from_linked(linked), root)
    return {**read_graph(spark, root), "lineage": read_lineage(spark, root)}
