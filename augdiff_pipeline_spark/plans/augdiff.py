"""The per-minutely-batch augmented-diff pipeline (the engine's core DAG).

Re-expresses the reference's driver loop (AugmentedDiff.scala:47-93 +
osc2json).  The closure's size decision picks one of two routes for the
rest of the batch; both run the same history and render Python
(history.all_histories → render.feature_lines_py), on the whole scope or
on partitions of it:

  change batch ── ONE Arrow collect: the batch rows stay on the driver
                   │
  incremental closure: row edges in Python; the 2-hop index fetch as
    two key probes (a IN touched → containers, b IN containers;
    packing.keyed: IN-lists, broadcast semi-joins over its key bound)
                   │
       small closure (driver route)     │  oversize batch, closure or
                                        │    scope (grouped route)
       ─────────────────────────────    │  ─────────────────────────────────
       point lookup of the fetch keys:  │  (distributed fixpoint: its new
         only their p= dirs, IN-lists   │    edges collected once)
       ONE Arrow collect of the fetched │  needed pairs → semi-join lookup
         rows (+ held batch, in_batch)  │  scope rows' own containment
       all_histories → feature_lines_py │    edges → closure → roots; each
         on the driver                  │    row tagged with every root
                                        │    above it, hashed on the root
                                        │  per partition (whole downsets):
                                        │    all_histories → feature_lines_py
                                        │  ONE Arrow collect of the deduped
                                        │    lines, sorted on the driver
                   │
       every delta written from the driver: feature file (_write_lines)
         → state delta (pyarrow) → index delta (pyarrow) → lineage
         commit marker

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

from ..operators import closure, history, render
from ..operators.closure import downset_partitions, incremental_closure, needed_pairs
from ..schemas import INDEX_SCHEMA, OSM_COLUMNS
from ..sources.catalog import SnapshotTable
from ..sources.state import StateTable
from .lineage import LineageLog, StageTimer


def compute_batch_features(
    spark: SparkSession,
    state: StateTable,
    index: SnapshotTable,
    batch_df: DataFrame,
    batch_rows: pa.Table,
    timer: StageTimer,
) -> tuple[list[str], list[tuple[int, int]]]:
    """(feature lines in sink order, new index edges) for one change
    batch (no writes).  ``batch_rows`` is ``batch_df`` held on the
    driver.

    ``timer`` splits the diff into closure / histories / render
    sub-stages in the metrics table — the per-batch latency breakdown a
    minutely deployment watches.
    """
    with timer.time("closure"):
        index_df = index.read(spark, schema=INDEX_SCHEMA)
        new_edges, all_edges, fetch_keys, new_edge_rows = incremental_closure(
            index_df, batch_df, batch_rows
        )
        if new_edge_rows is None:
            # distributed fixpoint: its new edges come to the driver in
            # one collect, for the index append and its lineage count
            tbl = new_edges.toArrow()
            new_edge_rows = sorted(zip(tbl["a"].to_pylist(), tbl["b"].to_pylist()))
    with timer.time("histories"):
        if fetch_keys is not None:
            fetched = state.fetch_keys(spark, fetch_keys)
        else:
            fetched = state.fetch_pairs(spark, needed_pairs(batch_df, all_edges))
        scope = None if fetch_keys is None else _driver_scope(batch_rows, fetched)
        if scope is not None:
            hists = history.all_histories(scope)

    with timer.time("render"):
        if scope is not None:
            return [line for *_, line in render.feature_lines_py(*hists)], new_edge_rows
        rows = (
            batch_df.select(*OSM_COLUMNS).withColumn("in_batch", F.lit(True))
            .unionByName(fetched.select(*OSM_COLUMNS).withColumn("in_batch", F.lit(False)))
        )
        return _grouped_features(rows), new_edge_rows


def _driver_scope(batch_rows: pa.Table, fetched: DataFrame) -> list[dict] | None:
    """The driver route's scope rows (``in_batch`` tagged), or None when
    the scope overflows the closure bound and takes the grouped route.
    The closure was small, so the scope its keys fetch is small too:
    ONE Arrow collect of the fetched rows under the rest of the bound."""
    room = closure.SMALL_COMPONENT_EDGES - batch_rows.num_rows
    if room < 0:
        return None
    tbl = fetched.limit(room + 1).toArrow()
    if tbl.num_rows > room:
        return None
    return [
        {**r, "in_batch": in_batch}
        for t, in_batch in ((batch_rows, True), (tbl, False))
        for r in t.select(OSM_COLUMNS).to_pylist()
    ]


def _grouped_features(rows: DataFrame) -> list[str]:
    """Feature lines in sink order of a scope too large for the driver:
    the driver route's Python, once per partition of complete root
    downsets (closure.downset_partitions).  Only the deduplicated lines
    come to the driver, in one Arrow collect."""
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
    tbl = downset_partitions(rows).mapInArrow(
        kernel, "etype string, id long, sub int, feature string"
    ).dropDuplicates(["etype", "id", "sub"]).toArrow()
    order = {"node": 0, "way": 1, "relation": 2}
    feats = zip(tbl["etype"].to_pylist(), tbl["id"].to_pylist(),
                tbl["sub"].to_pylist(), tbl["feature"].to_pylist())
    return [f for *_, f in sorted(feats, key=lambda r: (order[r[0]], r[1], r[2]))]


def _write_lines(path: str, lines: list[str]) -> None:
    """The batch's feature file (both routes), in the Spark text
    writer's ``part-*`` layout.  Like its overwrite mode, the directory
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
    # ONE collect holds the batch on the driver for the whole batch:
    # closure probes, scope, state append.  The DataFrame the closure's
    # distributed fixpoint and the grouped route read is a local
    # relation over it, checkpointed lazily: the driver route never
    # scans it (no job), and the other routes scan it several times,
    # where a bare local relation would ship every row with each job.
    batch_rows = batch_df.toArrow()
    batch_df = spark.createDataFrame(batch_rows, schema=batch_df.schema).localCheckpoint(eager=False)

    with timer.time("diff"):
        lines, new_edge_rows = compute_batch_features(
            spark, state, index, batch_df, batch_rows, timer
        )

    path = os.path.join(out_dir, f"seq={seq:09d}")
    with timer.time("write_features"):
        _write_lines(path, lines)
    log.record_stage(spark, seq, "features", len(lines))

    with timer.time("state_append"):
        state_snap = state.append_batch(batch_rows, seq, spark)
    log.record_stage(spark, seq, "state_append", batch_rows.num_rows, output_snapshot=state_snap)

    with timer.time("index_append"):
        idx_snap = index.append_local(
            new_edge_rows,
            pa.schema([pa.field("a", pa.int64()), pa.field("b", pa.int64())]),
            summary={"seq": seq},
        )
        # compaction BEFORE the commit marker must carry this seq's tag,
        # or a crash here would freeze the uncommitted edges into an
        # untagged (= treated-as-committed) rollback target
        cid = index.maybe_compact(
            spark, state.save_interval, state.keep_snapshots,
            schema=INDEX_SCHEMA, summary={"seq": seq},
        )
        if cid is not None:
            idx_snap = cid
    log.record_stage(spark, seq, "index_append", len(new_edge_rows), output_snapshot=idx_snap)

    log.record_metric(spark, seq, "diff", "features", float(len(lines)))
    with timer.time("commit", record_to_log=False):
        log.commit_seq(spark, seq, {"state": state_snap, "index": idx_snap})
    return {
        "seq": seq, "features": len(lines), "state_snapshot": state_snap,
        "index_snapshot": idx_snap, "path": path, "stage_sec": timer.timings,
    }
