"""Per-partition lineage + metrics tables (north-rule requirement).

Every batch commit records, per stage, the input/output snapshot ids and
the stage's row count as one partition -1 row (a batch is held on the
driver, so every count is a driver-side length); ``metrics`` records
scalar stage measurements.
Resume logic reads the lineage table to find the last fully-committed
sequence number and rolls half-committed table snapshots back — this is
the atomicity the reference lacks (its JSON write, Postgres index write
and ORC flush can interleave a crash: AugmentedDiff.scala:226-233,
ChangeAugmenter.scala:159-163).
"""

from __future__ import annotations

import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from ..schemas import LINEAGE_SCHEMA, METRICS_SCHEMA
from ..sources.catalog import SnapshotTable

COMMIT_STAGE = "commit"


def _encode_ranges(seqs: set[int]) -> list[list[int]]:
    """Sorted committed-seq set as closed [start, end] ranges — the
    compact manifest-summary form (minutely seqs are near-contiguous,
    so ~0.5M seqs/year collapse to a handful of intervals)."""
    out: list[list[int]] = []
    for s in sorted(seqs):
        if out and s == out[-1][1] + 1:
            out[-1][1] = s
        else:
            out.append([s, s])
    return out


def _decode_ranges(ranges) -> set[int]:
    seqs: set[int] = set()
    for a, b in ranges:
        seqs.update(range(int(a), int(b) + 1))
    return seqs


class LineageLog:
    """Buffers per-stage rows in memory and flushes ONE lineage append +
    ONE metrics append at commit time — the commit marker row is part of
    the same atomic manifest swap, so lineage never shows stage rows for
    an uncommitted batch (and per-batch snapshot-commit overhead stays
    O(1) instead of O(stages))."""

    def __init__(self, path: str, save_interval: int | None = None,
                 keep_snapshots: int | None = None):
        """``save_interval``/``keep_snapshots`` set this log's compaction
        cadence (defaulting to the package constants) — threaded through
        the constructor so a deployment that tunes the state table's
        cadence tunes the lineage/metrics tables with the same knob
        instead of silently keeping the module defaults."""
        from ..sources.state import KEEP_SNAPSHOTS, SAVE_INTERVAL

        self.save_interval = SAVE_INTERVAL if save_interval is None else save_interval
        self.keep_snapshots = KEEP_SNAPSHOTS if keep_snapshots is None else keep_snapshots
        if self.keep_snapshots <= self.save_interval:
            raise ValueError(
                f"keep_snapshots ({self.keep_snapshots}) must exceed "
                f"save_interval ({self.save_interval}): expiry could "
                "otherwise reclaim every committed rollback target while "
                "the triggering seq is still uncommitted"
            )
        self.lineage = SnapshotTable(path + "/lineage")
        self.metrics = SnapshotTable(path + "/metrics")
        self._pending_lineage: list[tuple] = []
        self._pending_metrics: list[tuple] = []
        self._commits_since_metrics_flush = 0
        # committed-seq cache: resume_and_run asks per batch; the table
        # scan runs once per LineageLog instance (a fresh instance after
        # a crash re-reads from disk), then commits update it in memory
        self._committed_cache: set[int] | None = None

    def record_stage(
        self,
        spark: SparkSession,
        seq: int,
        stage: str,
        row_count: int | None = None,
        input_snapshot: int | None = None,
        output_snapshot: int | None = None,
    ) -> None:
        """Buffer (seq, stage)'s one partition -1 row: ``row_count``
        rows, counted by the caller on the driver."""
        self._pending_lineage.append((seq, stage, -1, input_snapshot, output_snapshot, row_count))

    def record_stage_counts(
        self,
        seq: int,
        stage: str,
        part_counts,
        input_snapshot: int | None = None,
        output_snapshot: int | None = None,
    ) -> None:
        """Buffer ALREADY-COLLECTED per-partition counts (rows with
        ``partition_id``/``row_count``) — for callers that computed them
        as part of another aggregation, so lineage costs zero extra
        jobs."""
        for r in part_counts:
            self._pending_lineage.append(
                (seq, stage, r["partition_id"], input_snapshot, output_snapshot, r["row_count"])
            )
        if not part_counts:
            self._pending_lineage.append((seq, stage, -1, input_snapshot, output_snapshot, 0))

    def commit_seq(self, spark: SparkSession, seq: int, snapshots: dict[str, int | None]) -> int:
        # the committed-seq cache must be complete before this commit is
        # folded in (the compaction summary below persists the FULL set
        # as ranges); first call on a resumed log loads it — from the
        # manifest when a ranges summary exists, O(manifest), see
        # committed_seqs.  An unloaded cache would persist an empty
        # range set as the restart baseline, so fail before any write.
        self.committed_seqs(spark)
        assert self._committed_cache is not None, "committed-seq cache not loaded"
        self._pending_lineage.append(
            (seq, COMMIT_STAGE, -1, snapshots.get("state"), snapshots.get("index"), None)
        )
        # driver-local parquet append: the commit rows already live on
        # the driver — a Spark write job here costs seconds of pure job
        # machinery per minutely batch (round-5 soak profile)
        snap = self.lineage.append_local(
            self._pending_lineage, to_arrow_schema(LINEAGE_SCHEMA),
            summary={"seq": seq, "stage": COMMIT_STAGE},
        )
        self._pending_lineage = []
        self._committed_cache.add(seq)
        # Metrics flush on the save_interval cadence, not per batch: the
        # lineage append (above) is the COMMIT — it must be durable every
        # batch for resume — but metrics are observability, and on a host
        # where every tiny write job costs seconds, a per-batch metrics
        # append was ~25% of steady-state batch latency (round-5 soak
        # profile).  A crash loses at most save_interval batches of
        # buffered metric rows, never a commit marker.
        self._commits_since_metrics_flush += 1
        if self._pending_metrics and self._commits_since_metrics_flush >= self.save_interval:
            self.flush_metrics(spark, seq)
        # steady-state dir bound: one append per minutely batch would
        # otherwise leave one directory per batch forever, and EVERY
        # restart's committed_seqs() scan unions all of them.  The
        # compaction lands after this seq's commit marker, so the tag is
        # already-committed metadata (safe even if compaction crashes).
        # the compaction summary carries the full committed set as
        # ranges: restart then reads ONE manifest instead of scanning
        # the lineage table (the set is near-contiguous minutely seqs,
        # so a year of commits encodes to a handful of intervals)
        self.lineage.maybe_compact(
            spark, self.save_interval, self.keep_snapshots,
            schema=LINEAGE_SCHEMA,
            summary={"seq": seq,
                     "committed_ranges": _encode_ranges(self._committed_cache)},
        )
        return snap

    def flush_metrics(self, spark: SparkSession, seq: int) -> None:
        """Append all buffered metric rows (tagged by their own seqs) and
        run the metrics table's compaction check.  Called automatically
        every ``save_interval`` commits; call directly to force a flush
        (e.g. at the end of a driver run)."""
        if self._pending_metrics:
            self.metrics.append_local(
                self._pending_metrics, to_arrow_schema(METRICS_SCHEMA), summary={"seq": seq}
            )
            self._pending_metrics = []
        self._commits_since_metrics_flush = 0
        self.metrics.maybe_compact(
            spark, self.save_interval, self.keep_snapshots,
            schema=METRICS_SCHEMA, summary={"seq": seq},
        )

    def record_metric(self, spark: SparkSession, seq: int, stage: str, metric: str, value: float) -> None:
        self._pending_metrics.append((seq, stage, metric, float(value)))

    def committed_seqs(self, spark: SparkSession) -> list[int]:
        if self._committed_cache is not None:
            return sorted(self._committed_cache)
        if not self.lineage.exists():
            self._committed_cache = set()
            return []
        # Manifest-first restart read (O(manifest), no Spark scan): the
        # newest compaction summary holds the full committed set as
        # ranges, and every later commit append's summary carries its
        # own seq — together they reconstruct the set exactly.  Tables
        # written before the ranges summary existed fall back to the
        # full lineage scan.
        snaps = self.lineage.snapshots()
        base_idx = None
        for i, s in enumerate(snaps):
            if "committed_ranges" in s.summary:
                base_idx = i
        if base_idx is not None:
            seqs = _decode_ranges(snaps[base_idx].summary["committed_ranges"])
            for s in snaps[base_idx + 1:]:
                if (s.operation == "append"
                        and s.summary.get("stage") == COMMIT_STAGE
                        and s.summary.get("seq") is not None):
                    seqs.add(int(s.summary["seq"]))
            self._committed_cache = seqs
            return sorted(seqs)
        df = self.lineage.read(spark, schema=LINEAGE_SCHEMA)
        rows = df.filter(F.col("stage") == COMMIT_STAGE).select("seq").distinct().collect()
        self._committed_cache = {r["seq"] for r in rows}
        return sorted(self._committed_cache)

    def last_committed(self, spark: SparkSession) -> int | None:
        seqs = self.committed_seqs(spark)
        return seqs[-1] if seqs else None


class StageTimer:
    """Times pipeline stages into (a) the metrics table and (b) a local
    ``timings`` dict run_batch returns (the per-batch latency breakdown
    the bench's streaming soak reports).  Stages recorded after the
    lineage flush (``record_to_log=False``, e.g. the commit itself) go
    to the local dict only — a pending metric row there would silently
    ride on the NEXT batch's commit."""

    def __init__(self, log: LineageLog, spark: SparkSession, seq: int):
        self.log, self.spark, self.seq = log, spark, seq
        self.timings: dict[str, float] = {}

    def time(self, stage: str, record_to_log: bool = True):
        timer = self

        class _Ctx:
            def __enter__(self):
                self.t0 = time.perf_counter()
                return self

            def __exit__(self, *exc):
                dt = time.perf_counter() - self.t0
                timer.timings[stage] = round(dt, 4)
                if record_to_log:
                    timer.log.record_metric(timer.spark, timer.seq, stage, "wall_sec", dt)
                return False

        return _Ctx()
