"""Entity-version state table: clustered writes + point-lookup reads.

Replaces the reference's hand-rolled ORC backend
(/root/reference/common/src/main/scala/OrcBackend.scala):

- S4 clustered sink (:268-291): ``repartition(p)`` +
  ``sortWithinPartitions(id, type)`` + bloom filter on ``id`` — here the
  same two DataFrame calls plus parquet bloom-filter/dictionary options;
  Spark's vectorized parquet reader + row-group statistics replace the
  ~190-line hand-written vectorized ORC point-lookup scan (S2) wholesale.
- S3/P6/J1 partition-pruned IN-list point lookup (:233-266, :240-247):
  the read lists only the ``p=`` dirs the keys can live in; a key set
  small enough to enumerate filters on IN-lists of its ids and
  partitions (row-group min/max and bloom skipping push down) and of
  its packed keys, a larger one matches the packed keys with a
  broadcast left-semi join (``packing.keyed``).
- per-batch deltas are appended from the driver-held batch by pyarrow
  (``append_batch``); every ``save_interval`` batches the compaction
  re-clusters them into the partitionBy layout above.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import packing
from ..functions.packing import in_list, pair_to_long, partition_number, partition_number_py
from ..schemas import CODE_TYPES, OSM_COLUMNS, OSM_SCHEMA
from .catalog import SnapshotTable

MAX_ENUMERATED_PARTITIONS = 150  # reference pfLimit (Common.scala:30)


def clustered_writer(writer):
    # partitionBy("p") = reference parity with OrcBackend.scala:283-288's
    # partitioned write: a point lookup passes its partition list to
    # SnapshotTable.read, which lists only those p= dirs, so a lookup at
    # 10^12 rows never opens footers outside its partitions
    return (
        writer.partitionBy("p")
        .option("parquet.bloom.filter.enabled#id", "true")
        .option("parquet.enable.dictionary", "true")
    )


# compact every N appended batches (reference: saveInterval=5 flush +
# re-cluster cadence, AugmentedDiff.scala:226-233) and keep this many
# snapshots time-travelable before expiry reclaims their files
SAVE_INTERVAL = 5
KEEP_SNAPSHOTS = 25


class StateTable:
    """Append-only entity-version log with snapshot commits.

    Steady state never accumulates directories: every ``SAVE_INTERVAL``
    appended batches the table re-clusters into one partitioned dir
    (``compact`` snapshot) and snapshots older than ``KEEP_SNAPSHOTS``
    are expired — any number of batches leaves at most
    SAVE_INTERVAL + 1 data dirs in the current snapshot and at most
    KEEP_SNAPSHOTS + SAVE_INTERVAL manifest entries."""

    def __init__(self, path: str, save_interval: int = SAVE_INTERVAL,
                 keep_snapshots: int = KEEP_SNAPSHOTS):
        if keep_snapshots <= save_interval:
            raise ValueError(
                f"keep_snapshots ({keep_snapshots}) must exceed "
                f"save_interval ({save_interval}): with a shorter expiry "
                "horizon a compaction fired by a still-uncommitted batch "
                "could expire every committed rollback target, and resume "
                "after a crash would double-append the batch"
            )
        self.table = SnapshotTable(path)
        self.save_interval = save_interval
        self.keep_snapshots = keep_snapshots

    def init(self, df: DataFrame) -> int:
        return self.table.overwrite(self._cluster(df), writer_conf=clustered_writer)

    def append_batch(self, rows: pa.Table, seq: int, spark: SparkSession) -> int:
        """Append one driver-held batch (an Arrow table of its OSM
        columns) as a delta, written by pyarrow with no Spark job: p
        column + sort on (p, id, type), no partitionBy dirs and no bloom
        filter (row-group stats on p and id still prune).  ``spark``
        runs the compaction below, which folds deltas back into the
        clustered partitionBy layout with its bloom filters."""
        p = [partition_number_py(i, t) for i, t in
             zip(rows["id"].to_pylist(), rows["type"].to_pylist())]
        delta = rows.select([c for c in OSM_COLUMNS if c != "p"]).add_column(
            0, "p", pa.array(p, pa.int64()))
        sid = self.table.append_local(
            delta.sort_by([("p", "ascending"), ("id", "ascending"), ("type", "ascending")]),
            delta.schema, summary={"seq": seq},
        )
        # the compact snapshot inherits the triggering seq tag: until the
        # lineage commit marker lands this seq is uncommitted, and an
        # untagged compact snapshot would become a bogus rollback target
        # holding the uncommitted rows (crash here -> rerun -> doubles)
        cid = self.table.maybe_compact(
            spark, self.save_interval, self.keep_snapshots,
            transform=self._cluster, writer_conf=clustered_writer,
            schema=OSM_SCHEMA, summary={"seq": seq},
        )
        return cid if cid is not None else sid

    @staticmethod
    def _cluster(df: DataFrame) -> DataFrame:
        df = df.withColumn("p", partition_number(F.col("id"), F.col("type")))
        return df.repartition(F.col("p")).sortWithinPartitions("id", "type")

    def read(self, spark: SparkSession, snapshot_id: int | None = None,
             partitions: list[int] | None = None) -> DataFrame:
        return self.table.read(spark, snapshot_id, schema=OSM_SCHEMA, partitions=partitions)

    def current_id(self) -> int | None:
        return self.table.current_id()

    def fetch_pairs(
        self,
        spark: SparkSession,
        keys: DataFrame,
        snapshot_id: int | None = None,
    ) -> DataFrame:
        """All state rows whose packed (id,type) key ∈ ``keys`` (col ``k``).

        A key set small enough to enumerate is collected and looked up
        by ``fetch_keys`` (IN-list filters that Catalyst pushes into the
        parquet scan as min/max + bloom skipping, the DataFrame twin of
        the reference's ORC SearchArgument); a larger one is a broadcast
        left-semi join on the packed key.
        """
        keys = keys.select("k").distinct()
        key_rows = keys.limit(packing.MAX_ENUMERATED_KEYS + 1).collect()
        if len(key_rows) <= packing.MAX_ENUMERATED_KEYS:
            return self.fetch_keys(spark, [r["k"] for r in key_rows], snapshot_id)
        state = self.read(spark, snapshot_id)
        key_col = pair_to_long(F.col("id"), F.col("type"))
        return state.join(
            F.broadcast(keys), on=key_col == F.col("k"), how="left_semi"
        )

    def fetch_keys(
        self,
        spark: SparkSession,
        key_list: list[int],
        snapshot_id: int | None = None,
    ) -> DataFrame:
        """``fetch_pairs`` with a DRIVER-side packed-key list — zero
        probe jobs (the caller already holds the keys, e.g. from the
        incremental closure's small path).  The read lists only the
        ``p=`` dirs the keys can live in (up to MAX_ENUMERATED_PARTITIONS
        of them); up to MAX_ENUMERATED_KEYS keys it filters on IN-lists
        of the keys' ids and partitions, which push down into the scan.
        The exact packed-key match is ``packing.keyed``: an IN-list, or a
        broadcast semi-join beyond MAX_ENUMERATED_KEYS.
        """
        uniq = sorted({int(k) for k in key_list})
        # keys with an invalid type code (low bits not 0|1|2) can never
        # match a state row — they contribute no partition, which is
        # correct
        ps = sorted(
            {partition_number_py(k >> 2, CODE_TYPES[k & 3]) for k in uniq if (k & 3) in CODE_TYPES}
        )
        if not ps:
            return self.read(spark, snapshot_id).limit(0)
        # reference pfLimit=150 partition filters (Common.scala:30):
        # enumerate the partitions the keys can live in so the read
        # lists only their p=... dirs (and row-group stats prune deltas)
        enumerate_ps = len(ps) <= MAX_ENUMERATED_PARTITIONS
        state = self.read(spark, snapshot_id, partitions=ps if enumerate_ps else None)
        if len(uniq) <= packing.MAX_ENUMERATED_KEYS:
            state = state.filter(in_list("id", sorted({k >> 2 for k in uniq})))
            if enumerate_ps:
                state = state.filter(in_list("p", ps))
        state = state.withColumn("_k", pair_to_long(F.col("id"), F.col("type")))
        return packing.keyed(state, "_k", uniq).drop("_k")
