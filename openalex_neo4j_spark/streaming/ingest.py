"""Continuous crawl ingestion via Structured Streaming.

The reference is strictly batch (one-shot CLI import — cli.py:138-156;
SURVEY §2.10), but a web-scale corpus arrives continuously. This
module adds the streaming front half of the pipeline:

- :func:`pages_stream` — file-source stream over a pages directory
  (new parquet files = newly crawled WARC batches).
- :func:`stream_ingest_mentions` — per-micro-batch mention extraction
  landed through ``foreachBatch``, with one lineage row per epoch
  (same lineage table the batch pipeline uses, so a streaming ingest
  is resumable/observable the same way). **Idempotent epochs**: each
  epoch writes to its own ``epoch=<id>`` partition with dynamic
  partition overwrite — ``foreachBatch`` is at-least-once, so a crash
  between the data write and the checkpoint commit replays the epoch,
  and the replay *rewrites* the same partition instead of appending
  duplicate rows.
- :func:`crawl_stats_stream` — watermarked tumbling-window crawl
  statistics (late pages beyond the watermark are dropped).

Entity linking and canonicalization stay batch (they are corpus-wide
fixpoints — north rule); the streaming layer lands raw mentions that
periodic batch link/materialize runs pick up.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from openalex_neo4j_spark.lineage import append_lineage
from openalex_neo4j_spark.schemas import PAGES_SCHEMA


def pages_stream(spark: SparkSession, pages_dir: str,
                 max_files_per_trigger: int | None = None) -> DataFrame:
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(pages_dir)


def migrate_flat_layout(out_root: str) -> int:
    """Migrate a pre-epoch-layout output directory IN PLACE: move the
    flat top-level part files of ``<out_root>/mentions_stream`` into an
    ``epoch=-1/`` partition dir, so a resumed stream's partitioned
    layout is consistent (:func:`stream_ingest_mentions` rejects mixed
    layouts at start — flat files next to partition dirs break
    partition discovery and can double-count rows).

    Returns the number of files moved; idempotent (a second call moves
    nothing). Real epoch ids are >= 0, so ``epoch=-1`` can never
    collide with a replayed epoch's dynamic-partition overwrite. The
    flat files carry no ``epoch`` data column — the partition dir name
    supplies it on read, matching the streamed epochs' schema."""
    import os

    ms_dir = os.path.join(out_root, "mentions_stream")
    if not os.path.isdir(ms_dir):
        return 0
    dest = os.path.join(ms_dir, "epoch=-1")
    moved = 0
    for f in os.listdir(ms_dir):
        if f.startswith(("epoch=", "_", ".")):
            continue
        src = os.path.join(ms_dir, f)
        # move only regular files: a stray subdirectory relocated into
        # epoch=-1/ would break partition discovery on read instead of
        # being flagged here (round-5 ADVICE, low)
        if not os.path.isfile(src):
            import warnings
            warnings.warn(
                f"migrate_flat_layout: skipping unexpected directory "
                f"{src!r} (not a flat part file)")
            continue
        os.makedirs(dest, exist_ok=True)
        os.replace(src, os.path.join(dest, f))
        moved += 1
    return moved


def stream_ingest_mentions(
    spark: SparkSession,
    pages_dir: str,
    out_root: str,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Start the ingest stream; returns the StreamingQuery.

    With ``available_now=True`` the query drains everything currently
    in ``pages_dir`` and stops (batch-like test/backfill mode);
    otherwise it runs continuously.

    Output layout: ``<out_root>/mentions_stream/epoch=<id>/...`` —
    consumers see an extra ``epoch`` long column (drop it if you want
    the flat mention schema). A pre-epoch-layout output directory
    (flat parquet files at the top level) is REJECTED at start: mixing
    flat files with partition dirs breaks partition discovery and can
    double-count rows. Migrate old flat files into an ``epoch=-1``
    subdirectory or point the stream at a fresh ``out_root``.
    """
    import os

    from openalex_neo4j_spark.extract import mentions_from_pages

    ms_dir = os.path.join(out_root, "mentions_stream")
    if os.path.isdir(ms_dir):
        flat = [f for f in os.listdir(ms_dir)
                if not f.startswith(("epoch=", "_", "."))]
        if flat:
            raise ValueError(
                f"{ms_dir} holds non-partitioned files {flat[:3]} from a "
                "pre-epoch-layout run; run "
                f"migrate_flat_layout({out_root!r}) to move them into an "
                "epoch=-1/ partition dir, or use a fresh out_root."
            )

    def ingest_batch(batch_df: DataFrame, epoch_id: int) -> None:
        t0 = time.time()
        n_in = batch_df.count()
        if n_in == 0:
            return
        # lineage counts THIS epoch's mentions only: cache the extracted
        # batch, count it, append it. Never re-read the cumulative output
        # table — per-epoch bookkeeping must stay O(batch), not O(corpus).
        mentions = mentions_from_pages(batch_df).persist()
        n_out = mentions.count()
        # idempotent land: foreachBatch is at-least-once (a crash
        # between this write and the stream checkpoint commit replays
        # the epoch), so the epoch id is the partition key and the
        # write is dynamic partition OVERWRITE — a replayed epoch
        # rewrites its own partition; it cannot duplicate rows. Plain
        # mode("append") here was the round-2 at-least-once hole.
        spark.conf.set("spark.sql.sources.partitionOverwriteMode",
                       "dynamic")
        (mentions.withColumn("epoch", F.lit(int(epoch_id)))
         .write.mode("overwrite").partitionBy("epoch")
         .parquet(f"{out_root}/mentions_stream"))
        mentions.unpersist()
        # lineage stays append-mode: a replayed epoch may record a
        # second bookkeeping row (observability only, deduped by
        # epoch id on read); the DATA partition above is exactly-once.
        append_lineage(out_root, [(
            "stream_ingest", int(epoch_id), n_in, n_out,
            int((time.time() - t0) * 1000), "done", f"epoch-{epoch_id}",
        )])

    stream = pages_stream(spark, pages_dir,
                          max_files_per_trigger=max_files_per_trigger)
    writer = (
        stream.writeStream.foreachBatch(ingest_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def crawl_stats_stream(stream: DataFrame, window: str = "1 hour",
                       watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window crawl statistics per language."""
    return (
        stream.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("win"), "lang")
        .agg(
            F.count("*").alias("pages"),
            F.sum(F.length("html").cast("long")).alias("bytes"),
        )
    )
