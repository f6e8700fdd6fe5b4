"""Snapshot table format: versioned parquet tables with MERGE,
time travel, and optimistic concurrency.

A contract-query table, not a warehouse backend: the ``q_snapshot_merge``
driver-contract query exercises it, and no warehouse table is written
through it. Every warehouse table is a plain parquet directory that
commits through ``materialize._cow_commit``; a ``SnapshotTable``
directory also holds superseded ``data/<uuid>/`` groups until
``vacuum``, so readers that list a directory would see stale rows.

It models what the reference gets from Neo4j transactions
(neo4j_client.py:246-252 — MERGE upserts inside a transactional
store): concurrent writers, snapshot isolation for readers, and
history. The design is the public Iceberg/Delta recipe re-expressed
minimally:

- **Immutable data groups.** Every write lands in a fresh
  ``data/<uuid>/`` parquet directory; nothing is ever modified in
  place, so a reader holding version N is never torn by a writer
  committing N+1.
- **Manifest per snapshot.** ``_snapshots/v<NNNNNNNN>.json`` lists the
  data groups (path, row count, per-group min/max of the merge key).
  The current table state is the highest manifest; readers pin one
  manifest and read exactly its groups.
- **Atomic commit = one file create.** A snapshot becomes visible by
  creating its manifest with ``O_CREAT|O_EXCL`` — atomic on POSIX. Two
  concurrent writers race to the same version number; exactly one
  create succeeds, the loser re-reads the new base and retries its
  whole operation (optimistic concurrency, like Iceberg's
  compare-and-swap on the metadata pointer).
- **Copy-on-write MERGE with file pruning.** ``merge`` rewrites only
  the data groups whose [min_key, max_key] range overlaps the update
  keys — the manifest-stats analog of Iceberg's file-level pruning.
  Untouched groups carry over into the new manifest by reference: a
  merge of 1k rows into a 10^9-row table rewrites a handful of
  groups, not the table.
- **Time travel.** ``read(version=...)`` or ``read(as_of=...)``
  (latest snapshot at-or-before a timestamp) — each manifest is a
  complete, self-contained description of one table state.

Crash-safety: data groups are written BEFORE the manifest create, so a
crash mid-operation leaves only unreferenced directories (reclaimed by
``vacuum``); the visible table is always the last committed snapshot.

At 100 TB the manifest is the only driver-side state — a list of a few
thousand group entries, not row data; every data-path operation is a
distributed DataFrame job.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F


class CommitConflict(Exception):
    """Another writer committed the version this operation raced for."""


def _snap_dir(root: str) -> str:
    return os.path.join(root, "_snapshots")


def _manifest_path(root: str, version: int) -> str:
    return os.path.join(_snap_dir(root), f"v{version:08d}.json")


def _list_versions(root: str) -> list[int]:
    d = _snap_dir(root)
    if not os.path.isdir(d):
        return []
    out = []
    for f in os.listdir(d):
        if f.startswith("v") and f.endswith(".json"):
            try:
                out.append(int(f[1:-5]))
            except ValueError:
                continue
    return sorted(out)


class SnapshotTable:
    """A versioned parquet table rooted at ``root``.

    >>> t = SnapshotTable(spark, "/warehouse/works", key="id")
    >>> t.overwrite(df)           # snapshot 1
    >>> t.merge(updates)          # snapshot 2: last-wins MERGE INTO
    >>> t.read()                  # current state
    >>> t.read(version=1)         # time travel by version
    >>> t.read(as_of=ts)          # time travel by wall-clock
    """

    #: groups smaller than this merge-rewrite together (compaction of
    #: merge dust); larger groups carry over untouched when unpruned
    def __init__(self, spark: SparkSession, root: str, key: str = "id"):
        self.spark = spark
        self.root = root
        self.key = key
        os.makedirs(_snap_dir(root), exist_ok=True)

    # ---------------- manifest plumbing ----------------

    def current_version(self) -> int:
        """0 = empty table (no snapshot yet)."""
        vs = _list_versions(self.root)
        return vs[-1] if vs else 0

    def _load_manifest(self, version: int) -> dict:
        with open(_manifest_path(self.root, version)) as f:
            return json.load(f)

    def history(self) -> list[dict]:
        """Snapshot metadata, oldest first (operation, ts, totals)."""
        out = []
        for v in _list_versions(self.root):
            m = self._load_manifest(v)
            out.append({
                "version": v,
                "operation": m["operation"],
                "ts": m["ts"],
                "rows": sum(g["rows"] for g in m["groups"]),
                "groups": len(m["groups"]),
            })
        return out

    @staticmethod
    def _stat(v):
        """Canonical manifest form of a min/max key stat. The manifest
        is JSON and the stats are compared across processes, so only
        order-preserving JSON-safe forms are kept: str/int/float/bool
        as-is, datetime/date as isoformat strings (isoformat order ==
        chronological order). Anything else (Decimal, bytes, ...)
        degrades to None — pruning is disabled for that group (every
        merge rewrites it), correctness is unaffected. Both the write
        path and the merge's fresh-updates agg go through this, so the
        two sides always compare like with like."""
        import datetime

        if isinstance(v, (str, int, float, bool)) or v is None:
            return v
        if isinstance(v, (datetime.datetime, datetime.date)):
            return v.isoformat()
        return None

    def _write_group(self, df: DataFrame) -> dict:
        """Write one immutable data group; return its manifest entry
        with row count and min/max key stats (computed from the
        written files so the stats can never drift from the data)."""
        rel = os.path.join("data", uuid.uuid4().hex)
        path = os.path.join(self.root, rel)
        df.write.mode("errorifexists").parquet(path)
        written = self.spark.read.parquet(path)
        if self.key in written.columns:
            stats = written.agg(
                F.count(F.lit(1)).alias("n"),
                F.min(self.key).alias("lo"),
                F.max(self.key).alias("hi"),
            ).collect()[0]
            return {"path": rel, "rows": stats["n"],
                    "min_key": self._stat(stats["lo"]),
                    "max_key": self._stat(stats["hi"])}
        n = written.count()
        return {"path": rel, "rows": n, "min_key": None, "max_key": None}

    def _commit(self, base_version: int, operation: str,
                groups: list[dict]) -> int:
        """Atomically publish ``base_version + 1``. Raises
        CommitConflict if another writer got there first — the caller
        must re-plan against the new base and retry."""
        version = base_version + 1
        manifest = {
            "format_version": 1,
            "version": version,
            "parent": base_version or None,
            "operation": operation,
            "ts": time.time(),
            "key": self.key,
            "groups": groups,
        }
        path = _manifest_path(self.root, version)
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError as e:
            raise CommitConflict(
                f"version {version} already committed by another writer"
            ) from e
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f)
            f.flush()
            os.fsync(f.fileno())
        return version

    # ---------------- reads ----------------

    def read(self, version: int | None = None,
             as_of: float | None = None) -> DataFrame:
        """Current state, or a pinned historical snapshot.

        ``as_of``: unix timestamp — resolves to the latest snapshot
        committed at or before it (Iceberg's ``FOR TIMESTAMP AS OF``).
        """
        if version is not None and as_of is not None:
            raise ValueError("pass version OR as_of, not both")
        if as_of is not None:
            version = 0
            for v in _list_versions(self.root):
                if self._load_manifest(v)["ts"] <= as_of:
                    version = v
            if version == 0:
                raise ValueError(f"no snapshot at or before {as_of}")
        if version is None:
            version = self.current_version()
        if version == 0:
            raise ValueError(f"{self.root}: empty table (no snapshot)")
        m = self._load_manifest(version)
        paths = [os.path.join(self.root, g["path"]) for g in m["groups"]]
        if not paths:
            # empty snapshot (e.g. delete-all): zero-row frame — schema
            # is unknowable without data, so produce an empty key-only
            return self.spark.createDataFrame([], f"{self.key} string")
        return (self.spark.read.option("mergeSchema", "true")
                .parquet(*paths))

    # ---------------- writes ----------------

    def _retry(self, op):
        """Optimistic-concurrency loop: re-plan + retry on conflict."""
        for _ in range(5):
            try:
                return op()
            except CommitConflict:
                continue
        raise CommitConflict(f"{self.root}: lost 5 straight commit races")

    def append(self, df: DataFrame) -> int:
        """Add rows as a new group; existing groups carry over. No key
        semantics — duplicates allowed (fact/edge tables)."""
        group = self._write_group(df)

        def commit():
            base = self.current_version()
            prior = self._load_manifest(base)["groups"] if base else []
            return self._commit(base, "append", prior + [group])

        return self._retry(commit)

    def overwrite(self, df: DataFrame) -> int:
        """Replace the whole table state (new snapshot; history and
        old data groups remain readable via time travel)."""
        group = self._write_group(df)
        return self._retry(
            lambda: self._commit(self.current_version(), "overwrite",
                                 [group]))

    def overwrite_clustered(self, df: DataFrame, num_groups: int) -> int:
        """Bulk load: replace the table with ``num_groups``
        key-range-clustered data groups in ONE commit.

        ``repartitionByRange`` on the merge key gives each group a
        tight, near-disjoint [min_key, max_key] span, so later merges
        prune to the few overlapping groups — the Iceberg
        write-ordered/clustered analog. Scale shape: one distributed
        write + one stats aggregation regardless of ``num_groups``
        (per-group ``append`` would be ``num_groups`` driver-blocking
        jobs); the driver-side cost is one manifest JSON entry per
        group. Initial loads should come through here — a single
        ``overwrite`` group spans the whole key range and every merge
        rewrites it."""
        if self.key not in df.columns:
            raise ValueError(f"df must carry key column {self.key!r}")
        gcol = "_snap_group"
        rel = os.path.join("data", uuid.uuid4().hex)
        path = os.path.join(self.root, rel)
        (df.repartitionByRange(num_groups, F.col(self.key))
           .withColumn(gcol, F.spark_partition_id())
           .write.mode("errorifexists").partitionBy(gcol).parquet(path))
        # An EMPTY input writes zero part files and zero partition
        # dirs; read.parquet(path) would raise 'Unable to infer
        # schema'. Commit an empty snapshot instead (matching
        # delete_where's delete-all behavior) — compact() after a
        # delete-all routes through here (round-5 ADVICE, low).
        if not any(f.startswith(f"{gcol}=") for f in os.listdir(path)):
            return self._retry(
                lambda: self._commit(self.current_version(), "overwrite",
                                     []))
        # stats from the written files (never drift from the data);
        # one job over all groups instead of one per group
        written = self.spark.read.parquet(path)
        stats = (written.groupBy(gcol).agg(
            F.count(F.lit(1)).alias("n"),
            F.min(self.key).alias("lo"),
            F.max(self.key).alias("hi")).collect())
        groups = [
            {"path": os.path.join(rel, f"{gcol}={r[gcol]}"),
             "rows": r["n"],
             "min_key": self._stat(r["lo"]),
             "max_key": self._stat(r["hi"])}
            for r in sorted(stats, key=lambda r: r[gcol])
        ]
        return self._retry(
            lambda: self._commit(self.current_version(), "overwrite",
                                 groups))

    def merge(self, updates: DataFrame) -> int:
        """Last-wins MERGE INTO on ``key``: matched rows are replaced
        by their update row, unmatched update rows are inserted —
        the reference's ``MERGE … SET n += item`` semantics
        (neo4j_client.py:246-252), same contract as
        ``materialize.upsert_nodes``.

        Copy-on-write with manifest pruning: only groups whose
        [min_key, max_key] overlaps the updates' key range are
        rewritten (old rows anti-joined against update keys, then the
        updates unioned in); disjoint groups carry over by reference.
        ``updates`` must be unique on ``key`` (pre-aggregate if not) —
        enforced here with a cheap distinct-count check.
        """
        if self.key not in updates.columns:
            raise ValueError(f"updates must carry key column {self.key!r}")
        # one tiny driver action: updates' key range + uniqueness
        s = updates.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct(self.key).alias("nk"),
            F.min(self.key).alias("lo"),
            F.max(self.key).alias("hi"),
        ).collect()[0]
        if s["n"] != s["nk"]:
            raise ValueError(
                f"updates not unique on {self.key!r}: {s['n']} rows, "
                f"{s['nk']} distinct keys")
        # canonicalize the fresh stats the same way the manifest does
        # (datetime keys -> isoformat strings; non-JSON-safe -> None,
        # which disables pruning but never the comparison's types)
        u_lo, u_hi = self._stat(s["lo"]), self._stat(s["hi"])

        def commit():
            base = self.current_version()
            if base == 0:
                group = self._write_group(updates)
                return self._commit(0, "merge", [group])
            prior = self._load_manifest(base)["groups"]
            touched, kept = [], []
            for g in prior:
                lo, hi = g["min_key"], g["max_key"]
                disjoint = (lo is not None and hi is not None
                            and u_lo is not None and u_hi is not None
                            and (hi < u_lo or lo > u_hi))
                (kept if disjoint else touched).append(g)
            new_groups = list(kept)
            if touched:
                old_paths = [os.path.join(self.root, g["path"])
                             for g in touched]
                old = (self.spark.read.option("mergeSchema", "true")
                       .parquet(*old_paths))
                survivors = old.join(
                    updates.select(self.key), self.key, "left_anti")
                rewritten = survivors.unionByName(
                    updates, allowMissingColumns=True)
            else:
                rewritten = updates
            new_groups.append(self._write_group(rewritten))
            return self._commit(base, "merge", new_groups)

        return self._retry(commit)

    def compact(self, num_groups: int) -> int:
        """Re-cluster the current state into ``num_groups`` range-
        clustered groups (one commit). Merges coalesce every touched
        group into ONE group spanning the union of their key ranges,
        so a long merge history degrades pruning; periodic compaction
        restores tight per-group spans (Iceberg's rewrite_data_files
        analog). History stays time-travelable; reclaim old groups
        with expire_snapshots + vacuum."""
        return self.overwrite_clustered(self.read(), num_groups)

    def delete_where(self, condition: str) -> int:
        """Copy-on-write DELETE: rewrite every group minus the matching
        rows (no stats pruning — an arbitrary predicate can hit any
        group). ``condition`` is a SQL boolean expression."""

        def commit():
            base = self.current_version()
            if base == 0:
                raise ValueError("delete from empty table")
            # SQL DELETE semantics: remove rows where the predicate is
            # TRUE — rows where it evaluates to NULL (e.g. "doi = 'x'"
            # on a NULL doi) must be KEPT. A bare ~expr(condition) is
            # NULL for those rows and the filter would silently drop
            # them from the new snapshot.
            remaining = self.read(version=base).filter(
                ~F.coalesce(F.expr(condition), F.lit(False)))
            groups = ([self._write_group(remaining)]
                      if remaining.limit(1).count() else [])
            return self._commit(base, "delete", groups)

        return self._retry(commit)

    # ---------------- maintenance ----------------

    def expire_snapshots(self, keep_last: int = 1) -> list[int]:
        """Drop manifests older than the newest ``keep_last`` (time
        travel to them stops working); data groups they referenced are
        reclaimed by the next ``vacuum``. Returns expired versions."""
        vs = _list_versions(self.root)
        expired = vs[:-keep_last] if keep_last else vs
        for v in expired:
            os.remove(_manifest_path(self.root, v))
        return expired

    def vacuum(self, older_than_s: float = 3600.0) -> list[str]:
        """Delete data groups referenced by NO live manifest — merge
        leftovers after expire_snapshots, and orphans from writes that
        crashed before their manifest commit. Returns removed paths.

        ``older_than_s`` is the retention grace period (Delta/Iceberg
        analog): a concurrent writer mid-``merge`` has written its data
        group but not yet committed the manifest, so its group is
        momentarily unreferenced — deleting it would let the writer
        commit a manifest pointing at a removed directory, wedging the
        table at a corrupt HEAD. Only groups whose directory mtime is
        older than the grace period are reclaimed; pass 0 only when no
        other writer can be in flight."""
        import time as _time

        live: set[str] = set()
        for v in _list_versions(self.root):
            for g in self._load_manifest(v)["groups"]:
                live.add(g["path"])
        data_dir = os.path.join(self.root, "data")
        removed = []
        cutoff = _time.time() - older_than_s
        if os.path.isdir(data_dir):
            import shutil
            for d in os.listdir(data_dir):
                rel = os.path.join("data", d)
                full = os.path.join(self.root, rel)
                try:
                    young = os.path.getmtime(full) > cutoff
                except OSError:
                    young = True  # vanished/being written — leave it
                # a clustered bulk load nests its group dirs one level
                # down (data/<uuid>/_snap_group=N) — the top-level dir
                # is live if ANY manifest references it or a child
                referenced = any(
                    p == rel or p.startswith(rel + os.sep) for p in live)
                if not referenced and not young:
                    shutil.rmtree(full, ignore_errors=True)
                    removed.append(rel)
        return removed
