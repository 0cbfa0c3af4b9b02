"""The per-minutely-batch augmented-diff pipeline (the engine's core DAG).

Re-expresses the reference's driver loop (AugmentedDiff.scala:47-93 +
osc2json).  The closure's size decision picks one of two routes for the
rest of the batch:

  change batch ── incremental closure (new edges → index table)
                   │
       small closure (driver route)     │  oversize closure or scope
                                        │    (DataFrame route)
       ─────────────────────────────    │  ─────────────────────────────────
       point lookup of the fetch keys   │  needed pairs → semi-join lookup
       ONE Arrow collect of batch ∪     │  union + provenance dedup (J6/T5)
         fetched rows (in_batch tag)    │  histories: windows + quantifier
       histories_py (dicts)             │    aggregates + fixpoint (A2/G2)
       feature_lines_py: per-mode WKB   │  per-mode WKB (Arrow kernels,
         + GeoJSON lines (G1/G3/G6/G8)  │    G1/G3/G6) → emit (G8)
       feature file written from the    │  feature file written by Spark
         driver                         │
                   │
       state append → index append → lineage commit marker

The driver route is the reference's own shape (RowsToJson.scala:104-388
builds histories and geometries for the batch scope in driver memory):
a minutely batch's scope is a few dozen rows, so the DataFrame route's
~100 jobs were fixed per-job overhead.  A scope over the closure's probe
bound (closure.SMALL_COMPONENT_EDGES rows) falls back to the DataFrame
route.  The bound holds for full rows too: on a 4-core host, one node
move reaching a whole relation ran 4.5 s on the driver route vs 15.5 s
on the DataFrame route at 20k scope rows and 16.2 s vs 25.7 s at 191k,
with the driver's Python heap growing ~0.6 KB per scope row (121 MB).
Both routes call the same per-entity kernels in operators/render.py and
produce byte-identical feature files.

State/index/lineage/metrics are snapshot-committed tables; the batch's
own rows append to state AFTER the diff is computed (the diff joins the
batch against *prior* state), exactly as the reference holds batch rows
in its memory buffer during rendering.
"""

from __future__ import annotations

import os
import shutil

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import history, render
from ..operators.closure import SMALL_COMPONENT_EDGES, incremental_closure, needed_pairs
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
            # overflow falls back to the DataFrame route
            tbl = rows.limit(SMALL_COMPONENT_EDGES + 1).toArrow()
            if tbl.num_rows <= SMALL_COMPONENT_EDGES:
                scope = tbl.to_pylist()
        if scope is not None:
            nh, wh, rh = history.histories_py(scope)
        else:
            nh, wh, rh, present = history.all_histories(history.dedup_batch_union(rows))

    with timer.time("render"):
        if scope is not None:
            return render.feature_lines_py(nh, wh, rh), new_edges, new_edge_rows
        # node_points is a pure projection over the CHECKPOINTED nh; its
        # own eager checkpoint only pays off when the way/relation render
        # chains consume it repeatedly (explode joins + both WKB modes).
        node_pts = render.node_points(nh)
        if present & {"way", "relation"}:
            node_pts = node_pts.localCheckpoint(eager=True)
        empty_wkb = spark.createDataFrame([], "id long, wkb binary")
        # per-type skip (driven by all_histories' one presence probe —
        # no per-frame isEmpty jobs): most minutely batches touch no
        # relation, node-only batches touch no way; each skipped mode
        # skips an explode/join/agg/kernel chain + its checkpoint
        if "way" in present:
            # both way render modes in ONE explode/join/agg/kernel pass,
            # then filter the single checkpointed result per mode —
            # halves the heaviest per-batch chain (each mode previously
            # paid its own explode + broadcast join + sort-collect +
            # Arrow kernel + eager checkpoint, serialized back-to-back)
            way_both = render.way_wkbs_both(wh, node_pts).localCheckpoint(eager=True)
            way_a = way_both.filter(F.col("mode") == "a").select("id", "wkb")
            way_b = way_both.filter(F.col("mode") == "b").select("id", "wkb")
        else:
            way_a, way_b = empty_wkb, empty_wkb
        if "relation" in present:
            rel_a = render.relation_wkbs(rh, node_pts, way_a, "after")
            rel_b = render.relation_wkbs(rh, node_pts, way_b, "before")
        else:
            rel_a, rel_b = empty_wkb, empty_wkb

        node_a = _point_wkbs(node_pts, "ax", "ay")
        node_b = _point_wkbs(node_pts, "bx", "by")

        feats = (
            render.emit_features(nh, node_a, node_b, "node")
            .unionByName(render.emit_features(wh, way_a, way_b, "way"))
            .unionByName(render.emit_features(rh, rel_a, rel_b, "relation"))
        )
    return feats, new_edges, new_edge_rows


def _point_wkbs(node_pts: DataFrame, xcol: str, ycol: str) -> DataFrame:
    pts = node_pts.select("id", F.col(xcol).alias("x"), F.col(ycol).alias("y")).filter(
        F.col("x").isNotNull()
    )

    def kernel(it):
        from ..geometry import core, wkb

        for pdf in it:
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "wkb": [
                        wkb.dumps(core.Point(float(x), float(y)))
                        for x, y in zip(pdf["x"], pdf["y"])
                    ],
                }
            )

    return pts.mapInPandas(kernel, "id long, wkb binary")


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
            import pyarrow as pa

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
