"""Snapshot-committed parquet tables (Iceberg-shaped semantics).

Production target is Apache Iceberg (spark.read.format("iceberg"), atomic
snapshot commits, data-skipping statistics); this container ships no
Iceberg runtime jars, so this module provides the same *contract* over
plain parquet + an atomically-replaced JSON snapshot log:

- every ``append``/``overwrite`` is an isolated snapshot commit
  (write data to a fresh directory, then ``os.replace`` the manifest —
  atomic on POSIX, crash-safe: a half-written commit is invisible);
- readers resolve a snapshot id (default: current) to a file list —
  time travel = read an older snapshot id;
- rollback = commit a new manifest pointing at an older snapshot's
  files.

The engine's checkpoint/lineage/resume layer (plans/runner.py) keys
itself on these snapshot ids exactly as it would on Iceberg snapshot
ids, so swapping in Iceberg changes only this module.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    operation: str
    data_dirs: list[str]
    committed_at_ms: int
    summary: dict


class SnapshotTable:
    def __init__(self, path: str):
        self.path = path
        self.meta_path = os.path.join(path, "_meta")
        self.manifest_path = os.path.join(self.meta_path, "snapshots.json")
        os.makedirs(self.meta_path, exist_ok=True)

    # ------------------------------------------------------------ manifest
    def snapshots(self) -> list[Snapshot]:
        if not os.path.exists(self.manifest_path):
            return []
        with open(self.manifest_path) as f:
            raw = json.load(f)
        return [Snapshot(**s) for s in raw]

    def current(self) -> Snapshot | None:
        snaps = self.snapshots()
        return snaps[-1] if snaps else None

    def current_id(self) -> int | None:
        cur = self.current()
        return cur.snapshot_id if cur else None

    def data_path(self, data_dir: str) -> str:
        """A manifest's data dir as a path.  Manifests name their dirs
        relative to the table root, so a moved or copied table reads its
        own files; an absolute name, as older manifests hold, is kept."""
        return os.path.join(self.path, data_dir)

    def _write_manifest(self, snaps: list[Snapshot]) -> None:
        tmp = self.manifest_path + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump([s.__dict__ for s in snaps], f, indent=1)
        os.replace(tmp, self.manifest_path)  # atomic commit point

    def _commit(self, operation: str, data_dirs: list[str], summary: dict | None,
                append: bool = False) -> int:
        """Commit the snapshot after the current one, over ``data_dirs``
        (after the current snapshot's dirs when ``append``); returns its
        id."""
        snaps = self.snapshots()
        cur = snaps[-1] if snaps else None
        snap = Snapshot(
            snapshot_id=(cur.snapshot_id + 1) if cur else 1,
            parent_id=cur.snapshot_id if cur else None,
            operation=operation,
            data_dirs=(cur.data_dirs if append and cur else []) + data_dirs,
            committed_at_ms=int(time.time() * 1000),
            summary=summary or {},
        )
        self._write_manifest(snaps + [snap])
        return snap.snapshot_id

    # --------------------------------------------------------------- write
    def _write_data(self, df: DataFrame, writer_conf) -> str:
        d = f"data-{uuid.uuid4().hex}"
        writer = df.write.mode("overwrite")
        if writer_conf:
            writer = writer_conf(writer)
        writer.parquet(self.data_path(d))
        return d

    def append_local(self, rows, arrow_schema,
                     operation: str = "append",
                     summary: dict | None = None) -> int:
        """Append DRIVER-LOCAL rows as one parquet file via pyarrow — no
        Spark job.  For the per-batch appends of rows the driver already
        holds (lineage rows, metric rows, every batch's state delta and
        new index edges): a Spark write job for a handful of rows costs
        seconds of pure job machinery (measured: ~2.5 s/write on the
        round-5 soak profile) while a driver-side parquet write costs
        milliseconds.  ``rows`` is a list of tuples or a pyarrow Table;
        the file is bit-compatible with the Spark reader (types follow
        ``arrow_schema``), and the manifest commit is the same atomic
        ``os.replace``."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        d = f"data-{uuid.uuid4().hex}"
        os.makedirs(self.data_path(d), exist_ok=True)
        if isinstance(rows, pa.Table):
            tbl = rows.select(arrow_schema.names).cast(arrow_schema)
        else:
            cols = list(zip(*rows)) if rows else [[] for _ in arrow_schema]
            tbl = pa.table(
                {f.name: pa.array(list(c), type=f.type)
                 for f, c in zip(arrow_schema, cols)}
            )
        pq.write_table(tbl, os.path.join(self.data_path(d), "part-00000.parquet"))
        return self._commit(operation, [d], summary, append=True)

    def append(self, df: DataFrame, operation: str = "append", summary: dict | None = None, writer_conf=None) -> int:
        d = self._write_data(df, writer_conf)
        return self._commit(operation, [d], summary, append=True)

    def overwrite(self, df: DataFrame, summary: dict | None = None, writer_conf=None) -> int:
        return self._commit("overwrite", [self._write_data(df, writer_conf)], summary)

    def compact(self, spark: SparkSession, transform=None, writer_conf=None,
                schema=None, summary: dict | None = None) -> int | None:
        """Rewrite the current snapshot's data dirs into ONE dir and
        commit it as a ``compact`` snapshot (reference parity: the
        augdiff job flushes + re-clusters its state every
        saveInterval=5 batches, AugmentedDiff.scala:226-233).  Without
        compaction a thousand minutely appends would leave a thousand
        directories for every later read to list.

        ``transform`` (e.g. StateTable's re-cluster) runs over the
        union before the rewrite.  Old dirs stay on disk for time
        travel until ``expire_snapshots`` reclaims them.  Returns the
        new snapshot id, or None when there is nothing to compact.

        ``summary`` extends the compact snapshot's summary.  CRUCIAL for
        crash safety: a compaction triggered by an as-yet-UNCOMMITTED
        batch append must carry that batch's ``{"seq": n}`` tag — the
        resume path (plans/runner._rollback_uncommitted) treats
        untagged snapshots as committed, so an untagged compact snapshot
        would freeze uncommitted rows into the rollback target and the
        rerun would double-append them.
        """
        cur = self.current()
        if cur is None or len(cur.data_dirs) <= 1:
            return None
        df = self.read(spark, schema=schema)
        if transform is not None:
            df = transform(df)
        return self._commit("compact", [self._write_data(df, writer_conf)],
                            {**(summary or {}), "compacted_dirs": len(cur.data_dirs)})

    def maybe_compact(self, spark: SparkSession, save_interval: int,
                      keep_last: int, transform=None, writer_conf=None,
                      schema=None, summary: dict | None = None) -> int | None:
        """Compact + expire once the current snapshot exceeds
        ``save_interval`` data dirs — the steady-state cadence every
        append-per-batch table needs (reference: saveInterval=5 flush,
        AugmentedDiff.scala:226-233).  Without it a long-horizon run
        leaves one directory per minutely batch for every later read to
        list and union: at a year of minutely batches that is ~500k
        dirs — the read path, not storage, is what breaks."""
        cur = self.current()
        if cur is None or len(cur.data_dirs) <= save_interval:
            return None
        cid = self.compact(spark, transform=transform, writer_conf=writer_conf,
                           schema=schema, summary=summary)
        self.expire_snapshots(keep_last=keep_last)
        return cid

    def expire_snapshots(self, keep_last: int = 10) -> list[str]:
        """Drop manifest entries older than the newest ``keep_last``
        snapshots and DELETE data dirs no kept snapshot references
        (Iceberg expire_snapshots semantics: expired ids stop being
        time-travel targets).  The manifest rewrite commits atomically
        BEFORE any deletion, so a crash mid-expiry never leaves the
        manifest pointing at missing files.  Returns deleted dirs."""
        snaps = self.snapshots()
        if len(snaps) <= keep_last:
            return []
        kept, dropped = snaps[-keep_last:], snaps[:-keep_last]
        referenced = {d for s in kept for d in s.data_dirs}
        doomed = sorted({d for s in dropped for d in s.data_dirs} - referenced)
        self._write_manifest(kept)
        for d in doomed:
            shutil.rmtree(self.data_path(d), ignore_errors=True)
        return doomed

    def rollback_to(self, snapshot_id: int) -> int:
        target = next(s for s in self.snapshots() if s.snapshot_id == snapshot_id)
        return self._commit("rollback", list(target.data_dirs), {"rolled_back_to": snapshot_id})

    # ---------------------------------------------------------------- read
    def read(self, spark: SparkSession, snapshot_id: int | None = None, schema=None,
             partitions: list[int] | None = None) -> DataFrame:
        """The snapshot's rows (default: current).  ``partitions`` limits
        each ``partitionBy("p")`` data dir to its existing ``p=<N>``
        subdirs for those values, so the read lists only them; a dir
        without that layout is read whole."""
        snaps = self.snapshots()
        if snapshot_id is None:
            snap = snaps[-1] if snaps else None
        else:
            snap = next((s for s in snaps if s.snapshot_id == snapshot_id), None)
            if snap is None:
                raise KeyError(f"snapshot {snapshot_id} not found in {self.path}")
        if snap is None or not snap.data_dirs:
            if schema is None:
                raise ValueError(f"empty table {self.path} needs an explicit schema")
            return spark.createDataFrame([], schema)

        # one load per dir + union: each data dir may be a partitioned
        # (partitionBy) layout with its own root, which a multi-path
        # load rejects; per-dir loads keep directory partition pruning
        # intact and filters push through the union into every scan
        def load(d):
            reader = spark.read
            if schema is not None:
                reader = reader.schema(schema)
            if partitions is None or not any(n.startswith("p=") for n in os.listdir(d)):
                return reader.parquet(d)
            # the listed subdirs are named explicitly, with basePath
            # keeping p a partition column: a listing of every p= dir
            # is a parallel Spark job per read
            subdirs = [s for s in (os.path.join(d, f"p={p}") for p in partitions) if os.path.isdir(s)]
            return reader.option("basePath", d).parquet(*subdirs) if subdirs else None

        loads = [df for df in (load(self.data_path(d)) for d in snap.data_dirs) if df is not None]
        if not loads:
            return spark.createDataFrame([], schema)
        out = loads[0]
        for df in loads[1:]:
            out = out.unionByName(df)
        # a partitionBy dir yields its partition column last, a flat
        # dir (a driver-written delta) in file order: the schema's order
        # keeps a read's columns independent of which dirs it loads
        return out if schema is None else out.select(*schema.names)

    def exists(self) -> bool:
        return os.path.exists(self.manifest_path)
