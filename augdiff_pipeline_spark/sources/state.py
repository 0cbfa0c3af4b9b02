"""Entity-version state table: clustered writes + point-lookup reads.

Replaces the reference's hand-rolled ORC backend
(/root/reference/common/src/main/scala/OrcBackend.scala):

- S4 clustered sink (:268-291): ``repartition(p)`` +
  ``sortWithinPartitions(id, type)`` + bloom filter on ``id`` — here the
  same two DataFrame calls plus parquet bloom-filter/dictionary options;
  Spark's vectorized parquet reader + row-group statistics replace the
  ~190-line hand-written vectorized ORC point-lookup scan (S2) wholesale.
- S3/P6/J1 partition-pruned IN-list point lookup (:233-266): expressed as
  a broadcast left-semi join on the packed key (plus a partition-column
  filter when the key set is small enough to enumerate partitions),
  letting Catalyst push the partition filter and min/max skipping down.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.packing import pair_to_long, partition_number
from ..schemas import OSM_SCHEMA
from .catalog import SnapshotTable

# reference Common.scala:30-31 declares pfLimit=150 partition filters and
# idLimit=4096 pushdown ids; we keep an IN-list enumeration bound in the
# same spirit (beyond it, the broadcast semi-join alone does the work).
MAX_ENUMERATED_KEYS = 4096
MAX_ENUMERATED_PARTITIONS = 150  # reference pfLimit (Common.scala:30)


def clustered_writer(writer):
    # partitionBy("p") = reference parity with OrcBackend.scala:283-288's
    # partitioned write: file LISTING itself prunes on p, so a point
    # lookup at 10^12 rows never opens footers outside its partitions
    return (
        writer.partitionBy("p")
        .option("parquet.bloom.filter.enabled#id", "true")
        .option("parquet.enable.dictionary", "true")
    )


def delta_writer(writer):
    # per-batch DELTA append: same bloom/dictionary skipping, but NO
    # partitionBy layout — a minutely batch is a handful of rows, and a
    # dynamic-partition write (shuffle + one dir per p value) costs a
    # multiple of a straight file write for zero read benefit at that
    # size (the p COLUMN is still present, so row-group stats and the
    # p-IN-list filter still prune).  Compaction re-clusters everything
    # into the partitionBy("p") layout every save_interval batches, so
    # the steady-state table keeps directory pruning.
    return (
        writer.option("parquet.bloom.filter.enabled#id", "true")
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

    def append_batch(self, df: DataFrame, seq: int) -> int:
        # delta append: p column + in-partition sort, NO shuffle and no
        # dynamic-partition dirs (see delta_writer); compaction below
        # folds deltas back into the clustered partitionBy layout
        delta = df.withColumn(
            "p", partition_number(F.col("id"), F.col("type"))
        ).sortWithinPartitions("p", "id", "type")
        sid = self.table.append(
            delta, operation="append", summary={"seq": seq},
            writer_conf=delta_writer,
        )
        # the compact snapshot inherits the triggering seq tag: until the
        # lineage commit marker lands this seq is uncommitted, and an
        # untagged compact snapshot would become a bogus rollback target
        # holding the uncommitted rows (crash here -> rerun -> doubles)
        cid = self.table.maybe_compact(
            df.sparkSession, self.save_interval, self.keep_snapshots,
            transform=self._cluster, writer_conf=clustered_writer,
            schema=OSM_SCHEMA, summary={"seq": seq},
        )
        return cid if cid is not None else sid

    @staticmethod
    def _cluster(df: DataFrame) -> DataFrame:
        df = df.withColumn("p", partition_number(F.col("id"), F.col("type")))
        return df.repartition(F.col("p")).sortWithinPartitions("id", "type")

    def read(self, spark: SparkSession, snapshot_id: int | None = None) -> DataFrame:
        return self.table.read(spark, snapshot_id, schema=OSM_SCHEMA)

    def current_id(self) -> int | None:
        return self.table.current_id()

    def fetch_pairs(
        self,
        spark: SparkSession,
        keys: DataFrame,
        snapshot_id: int | None = None,
    ) -> DataFrame:
        """All state rows whose packed (id,type) key ∈ ``keys`` (col ``k``).

        Point-lookup join: broadcast left-semi on the packed key.  When
        the key set is small we additionally enumerate concrete ``id``
        values into an IN-list filter so Catalyst pushes min/max + bloom
        skipping into the parquet scan before the join runs (the
        DataFrame twin of the reference's ORC SearchArgument).
        """
        keys = keys.select("k").distinct()
        key_rows = keys.limit(MAX_ENUMERATED_KEYS + 1).collect()
        if len(key_rows) <= MAX_ENUMERATED_KEYS:
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
        incremental closure's small path).  Same pushdown: IN-list on
        id + pfLimit-style partition enumeration + broadcast semi-join.
        """
        state = self.read(spark, snapshot_id)
        key_col = pair_to_long(F.col("id"), F.col("type"))
        uniq = sorted({int(k) for k in key_list})
        if not uniq:
            return state.limit(0)
        keys_df = spark.createDataFrame([(k,) for k in uniq], "k long")
        if len(uniq) <= MAX_ENUMERATED_KEYS:
            state = state.filter(F.col("id").isin(sorted({k >> 2 for k in uniq})))
            # reference pfLimit=150 partition filters (Common.scala:30):
            # enumerate the partitions the keys can live in so the p=...
            # DIRECTORY listing prunes before any footer is opened
            from ..functions.packing import partition_number_py
            from ..schemas import CODE_TYPES

            # keys with an invalid type code (low bits not 0|1|2) can
            # never match a state row — they contribute no partition,
            # which is correct
            ps = sorted(
                {
                    partition_number_py(k >> 2, CODE_TYPES[k & 3])
                    for k in uniq
                    if (k & 3) in CODE_TYPES
                }
            )
            if not ps:
                return state.limit(0)
            if len(ps) <= MAX_ENUMERATED_PARTITIONS:
                state = state.filter(F.col("p").isin(ps))
        return state.join(
            F.broadcast(keys_df), on=key_col == F.col("k"), how="left_semi"
        )
