"""The per-minutely-batch augmented-diff pipeline (the engine's core DAG).

Re-expresses the reference's driver loop (AugmentedDiff.scala:47-93 +
osc2json).  The closure's size decision picks one of two routes for the
rest of the batch; both run the same history and render Python
(history.all_histories → render.feature_lines_py), on the whole scope or
on partitions of it:

  change batch ── incremental closure (new edges → index table)
                   │
       small closure (driver route)     │  oversize closure or scope
                                        │    (grouped route)
       ─────────────────────────────    │  ─────────────────────────────────
       point lookup of the fetch keys   │  needed pairs → semi-join lookup
       ONE Arrow collect of batch ∪     │  scope rows' own containment
         fetched rows (in_batch tag)    │    edges → closure → roots; each
       all_histories → feature_lines_py │    row tagged with every root
         on the driver                  │    above it, hashed on the root
       feature file written from the    │  per partition (whole downsets):
         driver                         │    all_histories → feature_lines_py
                                        │  feature file written by Spark
                   │
       state append → index append → lineage commit marker

The driver route is the reference's own shape (RowsToJson.scala:104-388
builds histories and geometries for the batch scope in driver memory).
A scope over the closure's probe bound (closure.SMALL_COMPONENT_EDGES
rows) runs the same Python on executors instead.  That is exact because
an entity's history and geometry read only its own rows and those of its
transitive members, and a partition holds whole downsets of the roots
hashed to it; an entity under several roots renders identically in each,
and the duplicates are dropped.  Both routes produce byte-identical
feature files.

State/index/lineage/metrics are snapshot-committed tables; the batch's
own rows append to state AFTER the diff is computed (the diff joins the
batch against *prior* state), exactly as the reference holds batch rows
in its memory buffer during rendering.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import history, render
from ..operators.closure import (
    SMALL_COMPONENT_EDGES, downset_partitions, incremental_closure, needed_pairs,
)
from ..schemas import INDEX_SCHEMA, OSM_COLUMNS
from ..sources.catalog import SnapshotTable
from ..sources.state import StateTable
from .lineage import LineageLog, StageTimer


class _NullTimer:
    def time(self, stage: str, record_to_log: bool = True):
        import contextlib

        return contextlib.nullcontext()


def compute_batch_features(
    spark: SparkSession,
    state: StateTable,
    index: SnapshotTable,
    batch_df: DataFrame,
    timer=None,
) -> tuple:
    """(features, new_edges_df, new_edge_rows) for one change batch (no
    writes).  ``features`` is the ordered list of feature lines when the
    driver route ran, else a DataFrame (etype, id, sub, feature);
    ``new_edge_rows`` is the driver-held new-edge list of the small
    closure, else None.

    ``timer`` (a lineage.StageTimer) splits the diff into closure /
    histories / render sub-stages in the metrics table — the per-batch
    latency breakdown a minutely deployment watches.
    """
    timer = timer or _NullTimer()
    with timer.time("closure"):
        index_df = index.read(spark, schema=INDEX_SCHEMA)
        new_edges, all_edges, fetch_keys, new_edge_rows = incremental_closure(
            index_df, batch_df, return_keys=True
        )
        if new_edge_rows is None:
            # distributed path: materialize before the anti-join plan is
            # consumed twice (index append + lineage).  The small path's
            # new_edges is a local relation — already materialized.
            new_edges = new_edges.localCheckpoint(eager=True)
    with timer.time("histories"):
        if fetch_keys is not None:
            fetched = state.fetch_keys(spark, fetch_keys)
        else:
            fetched = state.fetch_pairs(spark, needed_pairs(batch_df, all_edges))
        rows = (
            batch_df.select(*OSM_COLUMNS).withColumn("in_batch", F.lit(True))
            .unionByName(fetched.select(*OSM_COLUMNS).withColumn("in_batch", F.lit(False)))
        )
        scope = None
        if fetch_keys is not None:
            # driver route: the closure was small, so the scope it keys
            # is small too — ONE Arrow collect under the closure's probe
            # bound brings batch ∪ fetched rows to the driver; an
            # overflow falls back to the grouped route
            tbl = rows.limit(SMALL_COMPONENT_EDGES + 1).toArrow()
            if tbl.num_rows <= SMALL_COMPONENT_EDGES:
                scope = tbl.to_pylist()
        if scope is not None:
            hists = history.all_histories(scope)

    with timer.time("render"):
        if scope is not None:
            lines = [line for *_, line in render.feature_lines_py(*hists)]
            return lines, new_edges, new_edge_rows
        feats = _grouped_features(rows)
    return feats, new_edges, new_edge_rows


def _grouped_features(rows: DataFrame) -> DataFrame:
    """DataFrame[etype, id, sub, feature] of a scope too large for the
    driver: the driver route's Python, once per partition of complete
    root downsets (closure.downset_partitions)."""
    schema = pa.schema([("etype", pa.string()), ("id", pa.int64()),
                        ("sub", pa.int32()), ("feature", pa.string())])

    def kernel(batches):
        batches = list(batches)
        if batches:
            # a row under two roots of this partition arrives twice;
            # all_histories dedups it
            scope = pa.Table.from_batches(batches).to_pylist()
            feats = render.feature_lines_py(*history.all_histories(scope))
            yield pa.RecordBatch.from_pylist([dict(zip(schema.names, f)) for f in feats], schema=schema)

    # an entity under roots of two partitions renders identically in both
    return downset_partitions(rows).mapInArrow(
        kernel, "etype string, id long, sub int, feature string"
    ).dropDuplicates(["etype", "id", "sub"])


def _write_lines(path: str, lines: list[str]) -> None:
    """The driver route's feature file, in the Spark text writer's
    ``part-*`` layout.  Like the writer's overwrite mode, the directory
    of any earlier attempt is replaced first; the file is written under
    a hidden temp name inside it (ignored by ``part-*`` readers and
    partition discovery, deleted by the next attempt) and moved in with
    ``os.replace``."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    tmp = os.path.join(path, ".part-00000.txt.tmp")
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.writelines(line + "\n" for line in lines)
    os.replace(tmp, os.path.join(path, "part-00000.txt"))


def run_batch(
    spark: SparkSession,
    state: StateTable,
    index: SnapshotTable,
    log: LineageLog,
    batch_df: DataFrame,
    seq: int,
    out_dir: str,
) -> dict:
    """Execute + commit one batch: features file, state/index appends,
    lineage + metrics rows, single lineage 'commit' marker last.

    Compaction cadence: the state table compacts on ITS save_interval /
    keep_snapshots; the index follows the state table's knobs (one
    pipeline, one cadence), and the lineage/metrics tables follow the
    LineageLog's own constructor knobs — tuning any table's cadence no
    longer silently leaves the others on the module constants."""
    timer = StageTimer(log, spark, seq)
    batch_df = batch_df.localCheckpoint(eager=True)

    with timer.time("diff"):
        feats, new_edges, new_edge_rows = compute_batch_features(
            spark, state, index, batch_df, timer=timer
        )
        with timer.time("emit"):
            if isinstance(feats, list):
                part_counts = [{"partition_id": -1, "row_count": len(feats)}]
            else:
                feats = feats.localCheckpoint(eager=True)
                # n_feats and the per-partition lineage rows come from ONE
                # aggregation over the checkpoint (was two separate jobs)
                part_counts = (
                    feats.groupBy(F.spark_partition_id().alias("partition_id"))
                    .agg(F.count(F.lit(1)).alias("row_count"))
                    .collect()
                )
            n_feats = sum(r["row_count"] for r in part_counts)

    path = os.path.join(out_dir, f"seq={seq:09d}")
    with timer.time("write_features"):
        if isinstance(feats, list):
            _write_lines(path, feats)
        else:
            # one output partition anyway (line-delimited GeoJSON
            # sequence file) — sort WITHIN it instead of a global
            # orderBy, which would add a range-partitioner sampling pass
            ordered = feats.withColumn(
                "ord", F.when(F.col("etype") == "node", 0).when(F.col("etype") == "way", 1).otherwise(2)
            ).coalesce(1).sortWithinPartitions("ord", "id", "sub").select("feature")
            ordered.write.mode("overwrite").text(path)
    log.record_stage_counts(seq, "features", part_counts)

    with timer.time("state_append"):
        state_snap = state.append_batch(batch_df, seq)
    log.record_stage(spark, seq, "state_append", batch_df, output_snapshot=state_snap)

    with timer.time("index_append"):
        if new_edge_rows is not None:
            # small-closure path: the new edges are a driver-held list —
            # write them driver-side (no Spark job), and the lineage row
            # count comes for free
            idx_snap = index.append_local(
                new_edge_rows,
                pa.schema([pa.field("a", pa.int64()), pa.field("b", pa.int64())]),
                summary={"seq": seq},
            )
        else:
            idx_snap = index.append(new_edges, summary={"seq": seq})
        # compaction BEFORE the commit marker must carry this seq's tag,
        # or a crash here would freeze the uncommitted edges into an
        # untagged (= treated-as-committed) rollback target
        cid = index.maybe_compact(
            spark, state.save_interval, state.keep_snapshots,
            schema=INDEX_SCHEMA, summary={"seq": seq},
        )
        if cid is not None:
            idx_snap = cid
    if new_edge_rows is not None:
        log.record_stage_counts(
            seq, "index_append",
            [{"partition_id": -1, "row_count": len(new_edge_rows)}],
            output_snapshot=idx_snap,
        )
    else:
        log.record_stage(spark, seq, "index_append", new_edges, output_snapshot=idx_snap)

    log.record_metric(spark, seq, "diff", "features", float(n_feats))
    with timer.time("commit", record_to_log=False):
        log.commit_seq(spark, seq, {"state": state_snap, "index": idx_snap})
    return {
        "seq": seq, "features": n_feats, "state_snapshot": state_snap,
        "index_snapshot": idx_snap, "path": path, "stage_sec": timer.timings,
    }
