"""The per-minutely-batch augmented-diff pipeline (the engine's core DAG).

Re-expresses the reference's driver loop (AugmentedDiff.scala:47-93 +
osc2json).  Every batch closes and renders on the driver, as the
reference builds histories and geometries for the batch scope in driver
memory (RowsToJson.scala:104-388):

  change batch ── ONE Arrow collect: the batch rows stay on the driver
                   │
  incremental closure: row edges in Python; the 2-hop index fetch as
    two key probes (a IN touched → containers, b IN containers;
    packing.keyed: IN-lists, broadcast semi-joins over its key bound);
    closed in Python → new edges + fetch keys
                   │
  point lookup of the fetch keys (only their p= dirs), ONE Arrow
    collect of the fetched rows (+ held batch, in_batch)
                   │
  history.all_histories → render.feature_lines_py on the driver
                   │
  every delta written from the driver: feature file (_write_lines)
    → state delta (pyarrow) → index delta (pyarrow) → lineage
    commit marker

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
from pyspark.sql.pandas.types import to_arrow_schema

from ..operators import history, render
from ..operators.closure import incremental_closure
from ..schemas import INDEX_SCHEMA, OSM_COLUMNS
from ..sources.catalog import SnapshotTable
from ..sources.state import StateTable
from .lineage import LineageLog, StageTimer


def compute_batch_features(
    spark: SparkSession,
    state: StateTable,
    index: SnapshotTable,
    batch_rows: pa.Table,
    timer: StageTimer,
) -> tuple[list[str], list[tuple[int, int]]]:
    """(feature lines in sink order, new index edges) for one change
    batch held on the driver as ``batch_rows`` (no writes).

    ``timer`` splits the diff into closure / histories / render
    sub-stages in the metrics table — the per-batch latency breakdown a
    minutely deployment watches.
    """
    with timer.time("closure"):
        index_df = index.read(spark, schema=INDEX_SCHEMA)
        _, _, fetch_keys, new_edge_rows = incremental_closure(index_df, batch_rows)
    with timer.time("histories"):
        fetched = state.fetch_keys(spark, fetch_keys).toArrow()
        scope = [
            {**r, "in_batch": in_batch}
            for t, in_batch in ((batch_rows, True), (fetched, False))
            for r in t.select(OSM_COLUMNS).to_pylist()
        ]
        hists = history.all_histories(scope)
    with timer.time("render"):
        return [line for *_, line in render.feature_lines_py(*hists)], new_edge_rows


def _write_lines(path: str, lines: list[str]) -> None:
    """The batch's feature file, in the Spark text writer's ``part-*``
    layout.  Like its overwrite mode, the directory of any earlier
    attempt is replaced first; the file is written under
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
    LineageLog's own constructor knobs."""
    timer = StageTimer(log, spark, seq)
    # ONE collect holds the batch on the driver for the whole batch:
    # closure, scope, state append
    batch_rows = batch_df.toArrow()

    with timer.time("diff"):
        lines, new_edge_rows = compute_batch_features(spark, state, index, batch_rows, timer)

    path = os.path.join(out_dir, f"seq={seq:09d}")
    with timer.time("write_features"):
        _write_lines(path, lines)
    log.record_stage(spark, seq, "features", len(lines))

    with timer.time("state_append"):
        state_snap = state.append_batch(batch_rows, seq, spark)
    log.record_stage(spark, seq, "state_append", batch_rows.num_rows, output_snapshot=state_snap)

    with timer.time("index_append"):
        idx_snap = index.append_local(
            new_edge_rows, to_arrow_schema(INDEX_SCHEMA), summary={"seq": seq},
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
