"""SparkSession construction — no module-level session (spark-submit-able).

Scale posture: these configs are what we would ship to a 1000-executor
cluster; local[N] is only the sandbox stand-in. AQE handles runtime
coalescing and skew-join splitting; shuffle partitions default to a
cluster-ish value and AQE coalesces down at small SF.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# Static engine configuration, shared by get_spark() and the
# spark-submit wrappers (scripts/scaling_bench.py emits each entry as a
# --conf flag so submitted jobs run under identical settings).
SPARK_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # 8MB advisory target, not the 64MB default: AQE coalesced the
    # edge-assembly union's final stage (7 dedup exchanges, ~84MB
    # total) down to ONE task — a hard serialization point that capped
    # the whole phase at 1/N of the cluster (event-log evidence:
    # s18 sr=84MB t=1 at every core count; 8m restores 14 tasks and
    # cuts the stage wall ~3x at 4 cores). The 64KB minPartitionSize
    # floor (below Spark's 1MB default) keeps the small fixed-width
    # link-stage shuffles from collapsing to 1-2 partitions
    # mid-pipeline.
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # sized for heavy rows: pages.html is 15-50KB, so 10k-row arrow
    # batches would be 150-500MB allocations per in-flight task
    "spark.sql.execution.arrow.maxRecordsPerBatch": "500",
    # 32MB, not the 128MB default: the hot scan feeds an Arrow->Python
    # parse that costs ~30x more per byte than a JVM columnar scan, so
    # per-split work is sized by Python-parse time, not IO. At 128MB
    # a 2M-page corpus became 14 fat extract tasks — a multi-second
    # under-subscribed tail on 8 cores; 32MB splits load-balance it.
    # (At 100TB this is ~3M scan tasks — fine for a 1000-executor
    # cluster; bump back up for scans that never enter Python.)
    "spark.sql.files.maxPartitionBytes": str(32 * 1024 * 1024),
    # pages.html rows are tens of KB; the 4096-row default columnar
    # batch can overflow the on-heap column vector on binary columns
    "spark.sql.parquet.columnarReaderBatchSize": "512",
    # disk blocks (shuffle + checkpoint) larger than this are read
    # via FileChannel.map; with tens of concurrent readers on one
    # kernel the mmap/munmap syscalls serialize on the address-space
    # lock (thread dumps: map0/unmap0 storms, 95% sys time).
    # Streaming reads sidestep it entirely; on a real cluster each
    # executor host has its own kernel so either setting works.
    # Value must fit in a signed int: TransportConf.memoryMapBytes()
    # does a checked int cast, so "2g" (2^31) would crash any
    # networked block-serving path (remote shuffle fetch / block
    # upload) with IllegalArgumentException. 2047m is the max safe.
    "spark.storage.memoryMapThreshold": "2047m",
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
}


def get_spark(
    app_name: str = "openalex-neo4j-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    shuffle = shuffle_partitions or int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"))
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.sql.warehouse.dir",
                os.environ.get("SPARK_WAREHOUSE_DIR", "/tmp/spark-warehouse"))
    )
    for k, v in SPARK_CONF.items():
        b = b.config(k, v)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def read_parquet_or_none(spark: SparkSession, path: str):
    """``spark.read.parquet(path)``, or None when the path is missing
    or holds no data files (e.g. only staging/marker leftovers).

    Any other read error re-raises: turning a transient or corrupt read
    into "no prior state" would let a caller silently replace or ignore
    history."""
    if not os.path.exists(path):
        return None
    from pyspark.errors import AnalysisException
    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        if "UNABLE_TO_INFER_SCHEMA" in str(e) or "PATH_NOT_FOUND" in str(e):
            return None
        raise


def ckpt(df, eager: bool = True):
    """Lineage-truncating ``localCheckpoint`` for LARGE intermediates.

    Storage level is ``DISK_ONLY``: checkpoint blocks go to
    ``spark.local.dir`` (node-local SSD on a real executor; tmpfs in
    the sandbox) instead of the JVM heap. On-heap MEMORY_AND_DISK
    checkpoint blocks become multi-GB long-lived young-gen survivors,
    and G1 evacuation pauses stretch from ~100ms to 15s+ (measured:
    ``G1CollectForAllocation`` VM operations of 15s with 8 GC workers
    while caching the 300k-work mention table — safepoint time was
    ~100% of wall). Keeping the heap small and the data in the block
    store's disk tier is the correct posture for any RAM-rich host.

    Small frames (CC labels, frontier sets, rank vectors) should keep
    plain ``localCheckpoint()`` — per-iteration disk round-trips cost
    more than their GC footprint.

    ``eager=False`` does not defer the work: under AQE a lazy
    ``localCheckpoint`` runs every shuffle stage beneath it on the
    calling thread, and only the final stage waits for the first
    consuming job. That saves one job when the first consumer runs on
    the same thread and references the plan once; the checkpoint stays
    unmaterialized until then, so concurrent jobs must not share it
    (see ``barrier``).
    """
    from pyspark import StorageLevel

    return df.localCheckpoint(eager=eager, storageLevel=StorageLevel.DISK_ONLY)


def concurrently(fn, calls: dict[str, tuple]) -> dict:
    """``{name: fn(*args)}``, each call made from its own thread so that
    their Spark jobs run concurrently (a sequential loop serializes
    their fixed per-job latency)."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=max(len(calls), 1)) as pool:
        futs = {name: pool.submit(fn, *args) for name, args in calls.items()}
        return {name: f.result() for name, f in futs.items()}


def barrier(frames: dict) -> dict:
    """``{name: ckpt(df)}``: materialize every frame now, each by an
    eager DISK_ONLY checkpoint, all submitted concurrently so their
    jobs share the cores instead of queueing behind one another.

    The frames must not depend on each other, and every checkpoint
    beneath them must already be materialized (eager, or computed by
    an earlier job). Concurrent jobs that share an UNMATERIALIZED
    checkpoint can deadlock the driver: RDDCheckpointData marks an RDD
    checkpointed under its global lock and then takes the RDD's lock,
    while the DAGScheduler takes the RDD's lock and then the global
    one."""
    return concurrently(ckpt, {name: (df,) for name, df in frames.items()})


_STAGE_RUN_ROOTS: dict[str, str] = {}


def _stage_run_root(base: str) -> str:
    """One staging directory per (base, process), cleaned up atexit."""
    import atexit
    import os as _os
    import shutil as _shutil
    import uuid as _uuid

    root = _STAGE_RUN_ROOTS.get(base)
    if root is None:
        root = _os.path.join(
            base, f"run_{_os.getpid()}_{_uuid.uuid4().hex[:6]}")
        _STAGE_RUN_ROOTS[base] = root
        atexit.register(_shutil.rmtree, root, ignore_errors=True)
    return root


def stage_parquet(df, name: str = "stage", partition_by: list[str] | None = None):
    """COLUMNAR materialization barrier for wide, multiply-consumed
    tables (mentions, linked mentions): write once as parquet, hand
    back a fresh scan of it.

    ``localCheckpoint`` blocks are row-oriented — every downstream
    consumer re-reads entire rows even when it needs 3 of 15 columns
    (measured: a single assembly stage read 6.8GB of block store for
    column-pruned plans that needed ~1GB). A parquet stage gives each
    consumer real column pruning + predicate pushdown + split-level
    parallelism, at a comparable one-time write cost (snappy
    compresses the text-heavy columns 3-5x, so the write often moves
    FEWER bytes than block-store serialization). This is also the
    shape that survives a real cluster: stages land on shared storage
    (set ``SPARK_GRAFT_STAGE_DIR`` to an HDFS/S3 path), where they
    double as resume points — unlike executor-local checkpoint blocks,
    which die with the executor.

    Narrow fixed-width intermediates (band keys, weights) should keep
    ``ckpt`` — for them the parquet encode/decode round trip costs
    more than row blocks.

    ``partition_by``: partition the staged table (e.g. edges by
    ``pred``) so downstream slice consumers get partition pruning on
    top of column pruning. A union whose branches each carry a
    constant partition value writes cleanly — every task lands in one
    partition dir, no pre-shuffle needed."""
    import os as _os
    import uuid as _uuid

    spark = df.sparkSession
    base = _os.environ.get("SPARK_GRAFT_STAGE_DIR")
    if not base:
        local = spark.conf.get("spark.local.dir", "/tmp").split(",")[0]
        base = _os.path.join(local, "graft_stage")
    # stages land under one per-process root removed at interpreter
    # exit — repeated builds in one process must not leak a full
    # linked-mention table to disk per run (round-3 advice). For a
    # non-local SPARK_GRAFT_STAGE_DIR (HDFS/S3) the atexit rmtree is a
    # no-op; there the stage doubles as a resume point and lifecycle
    # belongs to the storage layer's retention policy.
    path = f"{_stage_run_root(base)}/{name}_{_uuid.uuid4().hex[:8]}"
    # 32MB row groups, not the 128MB default: each concurrent writer
    # task buffers a whole row group on-heap — 8 writers x 128MB of
    # short-lived column buffers measured 130s of G1 time on the
    # extract stage; 32MB also matches the scan split size so read
    # parallelism is preserved.
    w = (df.write.mode("overwrite")
         .option("parquet.block.size", 32 * 1024 * 1024))
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
    # read back with the KNOWN schema: an empty input writes no part
    # files (and, when partitioned, no partition dirs), so schema
    # inference on the read would raise 'Unable to infer schema' — the
    # empty-edge-table graph is a legal input and must stage to an
    # empty scan, same as the row-block ckpt path it replaced. For a
    # partitioned write the partition columns live in dir names; the
    # user-supplied schema still resolves them by name.
    return spark.read.schema(df.schema).parquet(path)


def iter_ckpt(df):
    """Lineage truncation for ITERATIVE loops (CC label propagation,
    PageRank) — fault-tolerance selectable per session.

    ``localCheckpoint`` blocks live only on the executor that computed
    them: on a real cluster, one lost executor makes the RDD
    unrecoverable and fails the whole job. When a checkpoint directory
    is configured (``SparkContext.setCheckpointDir``, or Spark's own
    ``spark.checkpoint.dir`` pointing at shared storage — HDFS/S3 on a
    cluster), iterative loops use *reliable* ``DataFrame.checkpoint()``:
    blocks are written to that directory and survive executor loss.

    With no directory configured (a single JVM, where executor loss IS
    job loss anyway), falls back to ``localCheckpoint`` — per-iteration
    distributed-FS round-trips would cost more than they protect there.
    """
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint()
    return df.localCheckpoint()
