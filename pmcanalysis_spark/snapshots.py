"""Snapshot-versioned tables over parquet: the Iceberg-shaped commit
semantics the north_rule's "resumes from the last committed snapshot"
implies, implemented table-format-natively rather than as per-stage
manifests (``lineage.materialize_stage`` remains the single-stage
checkpoint; this module is the multi-snapshot table).

Layout (all paths relative to the table root):

    data/<commit-uuid>/part-*.parquet   -- immutable data files per commit
    snapshots/v<NNNNNN>.json            -- snapshot metadata (file list,
                                           operation, parent, row count,
                                           schema)
    _current.json                       -- commit pointer (rename-last)

Semantics, matching the Iceberg model point for point:

- **Atomic commits.** A commit writes its data files first, then its
  snapshot json (O_CREAT|O_EXCL — see below), then swaps ``_current.json``
  via os.replace (rename-last). A reader either sees the previous snapshot
  or the new one, never a torn state; a crashed commit leaves orphan data
  files that are invisible (no snapshot references them) and reclaimable by
  ``expire_snapshots``.
- **Optimistic concurrency.** The snapshot file for version N+1 is created
  with O_EXCL: two writers racing from the same parent both compute N+1,
  and exactly one create succeeds — the loser gets ``CommitConflict`` and
  must re-read and retry, which is precisely Iceberg's optimistic catalog
  swap protocol.
- **Appends share history.** ``append`` records parent files + new files;
  data files are immutable and shared across snapshots, so history costs
  metadata only.
- **Time travel.** ``read(snapshot_id=N)`` reads any retained snapshot;
  ``rollback(N)`` makes N current again WITHOUT deleting history (it
  commits a new pointer, like Iceberg's rollback-to-snapshot).
- **Expiry.** ``expire_snapshots(keep_last=k)`` drops metadata of older
  snapshots and deletes data directories no retained snapshot references.

Single-machine caveat: O_EXCL-on-create and rename are atomic on POSIX
filesystems but not on S3 — production on object storage swaps this commit
primitive for a catalog (Hive/Glue/REST) compare-and-swap, which is the one
piece Iceberg's spec outsources for exactly this reason.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .lineage import footer_row_count


class CommitConflict(RuntimeError):
    """Another writer committed the same version first — re-read and retry."""


def _snap_path(root: str, version: int) -> str:
    return os.path.join(root, "snapshots", f"v{version:06d}.json")


class SnapshotTable:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(os.path.join(root, "snapshots"), exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)

    # -- metadata ----------------------------------------------------------
    def current_version(self) -> int | None:
        p = os.path.join(self.root, "_current.json")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)["current"]

    def snapshot(self, version: int) -> dict:
        with open(_snap_path(self.root, version)) as f:
            return json.load(f)

    def snapshots(self) -> list[dict]:
        out = []
        d = os.path.join(self.root, "snapshots")
        for name in sorted(os.listdir(d)):
            if name.startswith("v") and name.endswith(".json"):
                with open(os.path.join(d, name)) as f:
                    out.append(json.load(f))
        return out

    # -- commit protocol ---------------------------------------------------
    def _commit_snapshot(self, snap: dict) -> int:
        """O_EXCL create of the next version file, then pointer swap.
        Returns the committed version; raises CommitConflict if another
        writer took the version first."""
        version = snap["snapshot_id"]
        path = _snap_path(self.root, version)
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError as e:
            raise CommitConflict(
                f"snapshot v{version} already committed by another writer"
            ) from e
        with os.fdopen(fd, "w") as f:
            json.dump(snap, f)
            f.flush()
            os.fsync(f.fileno())
        tmp = os.path.join(self.root, f"_current.{uuid.uuid4().hex[:8]}.tmp")
        with open(tmp, "w") as f:
            json.dump({"current": version}, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, os.path.join(self.root, "_current.json"))
        return version

    def commit(self, df: DataFrame, mode: str = "append") -> int:
        """Write ``df`` as a new snapshot. mode 'append' keeps the parent's
        files; 'overwrite' replaces the logical content (old files stay on
        disk for time travel until expired)."""
        assert mode in ("append", "overwrite")
        parent = self.current_version()
        commit_dir = uuid.uuid4().hex[:16]
        data_path = os.path.join(self.root, "data", commit_dir)
        df.write.mode("error").parquet(data_path)
        n = footer_row_count(data_path)
        files = [commit_dir]
        rows = n
        if mode == "append" and parent is not None:
            psnap = self.snapshot(parent)
            files = psnap["files"] + files
            rows += psnap["row_count"]
        snap = {
            "snapshot_id": (parent or 0) + 1,
            "parent": parent,
            "operation": mode,
            "files": files,
            "row_count": rows,
            "schema": df.schema.jsonValue(),
        }
        try:
            return self._commit_snapshot(snap)
        except CommitConflict:
            shutil.rmtree(data_path, ignore_errors=True)  # orphan cleanup
            raise

    def rollback(self, version: int) -> int:
        """Make ``version``'s content current again via a NEW snapshot that
        references the same files — history is never rewritten."""
        old = self.snapshot(version)
        snap = {
            "snapshot_id": (self.current_version() or 0) + 1,
            "parent": self.current_version(),
            "operation": f"rollback_to_{version}",
            "files": old["files"],
            "row_count": old["row_count"],
            "schema": old.get("schema"),
        }
        return self._commit_snapshot(snap)

    # -- reads -------------------------------------------------------------
    def read(self, snapshot_id: int | None = None) -> DataFrame:
        """The rows of ``snapshot_id`` (default: the current snapshot), read
        with the schema stored in its snapshot json, so building the read
        starts no schema-inference Spark job."""
        version = snapshot_id if snapshot_id is not None else self.current_version()
        if version is None:
            raise FileNotFoundError(f"no committed snapshot in {self.root}")
        snap = self.snapshot(version)
        paths = [os.path.join(self.root, "data", d) for d in snap["files"]]
        reader = self.spark.read
        if snap.get("schema"):  # None in snapshots written before it was stored
            reader = reader.schema(StructType.fromJson(snap["schema"]))
        return reader.parquet(*paths)

    def diff(self, from_version: int, to_version: int) -> DataFrame:
        """Row-level diff between two snapshots: what a consumer pinned to
        ``from_version`` sees change when it advances to ``to_version`` —
        the audit step before promoting a new KG build. Returns the union
        of added and removed rows with a ``_change`` column ('added' /
        'removed'); multiset semantics (``exceptAll``), so duplicate-count
        changes surface too.

        Plan shape: two snapshot scans + the exceptAll anti-shuffles on the
        full row — at scale, run it column-pruned by selecting the key
        columns from ``read(v)`` first if rows are wide."""
        old = self.read(from_version)
        new = self.read(to_version)
        added = new.exceptAll(old).withColumn("_change", F.lit("added"))
        removed = old.exceptAll(new).withColumn("_change", F.lit("removed"))
        return added.unionByName(removed)

    # -- maintenance -------------------------------------------------------
    def compact(
        self,
        target_file_size_bytes: int = 128 * 1024 * 1024,
        min_input_files: int = 2,
    ) -> int | None:
        """Small-file compaction — Iceberg's ``rewrite_data_files`` shape.

        A long-appended table accretes one commit directory per append; at
        100 TB that is the classic small-file problem (every scan pays
        per-file open/footer cost, and file-grain parallelism fragments).
        Compaction reads the CURRENT snapshot and rewrites its content as
        one commit directory with ceil(total_bytes / target) parquet files,
        then commits a ``compact`` snapshot through the same O_EXCL
        optimistic protocol as any writer — so compaction can race live
        appends and exactly one wins (the loser's files are removed and
        ``CommitConflict`` raised, Iceberg's retry contract). History is
        untouched: pre-compaction snapshots still reference the old small
        files for time travel until ``expire_snapshots`` reclaims them.

        Row-count is verified on the rewritten copy (its Parquet footers)
        before the commit is attempted — a lost-row rewrite aborts instead
        of committing.
        Returns the new version, or None when the current snapshot already
        references fewer than ``min_input_files`` data files (no-op).
        """
        parent = self.current_version()
        if parent is None:
            return None
        psnap = self.snapshot(parent)
        n_files, total_bytes = 0, 0
        for d in psnap["files"]:
            base = os.path.join(self.root, "data", d)
            for name in os.listdir(base):
                if name.endswith(".parquet"):
                    n_files += 1
                    total_bytes += os.path.getsize(os.path.join(base, name))
        if n_files < min_input_files:
            return None
        n_out = max(1, -(-total_bytes // target_file_size_bytes))
        commit_dir = uuid.uuid4().hex[:16]
        data_path = os.path.join(self.root, "data", commit_dir)
        self.read(parent).repartition(n_out).write.mode("error").parquet(data_path)
        n = footer_row_count(data_path)
        if n != psnap["row_count"]:
            shutil.rmtree(data_path, ignore_errors=True)
            raise RuntimeError(
                f"compaction rewrite lost rows ({n} != {psnap['row_count']}); aborted"
            )
        snap = {
            "snapshot_id": parent + 1,
            "parent": parent,
            "operation": "compact",
            "files": [commit_dir],
            "row_count": n,
            "schema": psnap.get("schema"),
        }
        try:
            return self._commit_snapshot(snap)
        except CommitConflict:
            shutil.rmtree(data_path, ignore_errors=True)
            raise

    def expire_snapshots(self, keep_last: int = 1) -> list[int]:
        """Drop all but the newest ``keep_last`` snapshots' metadata and
        delete data directories no retained snapshot references. Returns the
        expired snapshot ids. The current snapshot is always retained."""
        snaps = self.snapshots()
        if len(snaps) <= keep_last:
            return []
        cur = self.current_version()
        retained = snaps[-keep_last:]
        if cur is not None and all(s["snapshot_id"] != cur for s in retained):
            retained.append(self.snapshot(cur))
        keep_ids = {s["snapshot_id"] for s in retained}
        keep_files = {f for s in retained for f in s["files"]}
        expired = []
        for s in snaps:
            if s["snapshot_id"] in keep_ids:
                continue
            os.remove(_snap_path(self.root, s["snapshot_id"]))
            expired.append(s["snapshot_id"])
        data_dir = os.path.join(self.root, "data")
        for d in os.listdir(data_dir):
            if d not in keep_files:
                shutil.rmtree(os.path.join(data_dir, d), ignore_errors=True)
        return expired
