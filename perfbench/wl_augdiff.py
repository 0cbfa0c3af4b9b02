"""augdiff_minutely: the paper's minutely augmented-diff loop.

A closed loop with one client: each seeded change batch goes through
``plans.runner.resume_and_run`` once the previous batch has committed,
as the reference differ does.  The world is the fixture world plus a
dense grid of buildings; state compaction is live (save_interval 5).
Every batch's features are checked against the pure-Python oracle in
``tests/oracle_augdiff.py`` after the timed window.
"""

from __future__ import annotations

import glob
import importlib.util
import json
import os
import time

from augdiff_pipeline_spark.operators import history
from augdiff_pipeline_spark.operators.closure import edges_from_rows, transitive_closure
from augdiff_pipeline_spark.plans import augdiff, runner
from augdiff_pipeline_spark.plans.lineage import LineageLog
from augdiff_pipeline_spark.schemas import OSM_SCHEMA
from augdiff_pipeline_spark.sources.catalog import SnapshotTable
from augdiff_pipeline_spark.sources.state import StateTable

from . import harness, inputs

SAVE_INTERVAL = 5


def _oracle():
    spec = importlib.util.spec_from_file_location(
        "oracle_augdiff", os.path.join("tests", "oracle_augdiff.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _wraps():
    def closure_route(sp, args, out):
        # the 4th result holds the new edges as a driver-side list only
        # when the small-component (driver) route ran
        sp.attrs["driver"] = out[3] is not None

    def fetch_keys(sp, args, out):
        sp.attrs["keys"] = len(set(args[2]))

    def compacted(sp, args, out):
        sp.attrs["compacted"] = out is not None

    lineage = [(LineageLog, m, "lineage.record", None)
               for m in ("record_stage", "record_stage_counts", "record_metric",
                         "flush_metrics", "committed_seqs")]
    return [
        (runner, "run_batch", "run_batch", None),
        (augdiff, "compute_batch_features", "compute_batch_features", None),
        (augdiff, "incremental_closure", "closure", closure_route),
        (history, "all_histories", "history", None),
        (StateTable, "fetch_keys", "state.fetch", fetch_keys),
        (StateTable, "fetch_pairs", "state.fetch", None),
        (StateTable, "append_batch", "state.append", None),
        (SnapshotTable, "append", "catalog.append", None),
        (SnapshotTable, "append_local", "catalog.append", None),
        (SnapshotTable, "compact", "catalog.compact", compacted),
        (LineageLog, "commit_seq", "lineage.commit", None),
    ] + lineage


def _read_features(out_dir: str, seq: int) -> list[dict]:
    lines = []
    for f in glob.glob(os.path.join(out_dir, f"seq={seq:09d}", "part-*")):
        with open(f) as fh:
            lines.extend(line for line in fh.read().splitlines() if line)
    return [json.loads(line) for line in lines]


def _canon(features) -> list[str]:
    return sorted(json.dumps(f, sort_keys=True) for f in features)


def run(ctx) -> dict:
    spark, size = ctx.spark, inputs.SIZES["augdiff_minutely"][ctx.size]
    world = inputs.augdiff_world(size["grid_n"])
    batches = inputs.augdiff_batches(ctx.seed, world, size["max_batches"])
    world_df = spark.createDataFrame(world, OSM_SCHEMA)

    # set-up: state + closure index over the world
    root = os.path.join(ctx.run_dir, "augdiff")
    t0 = time.perf_counter()
    state = StateTable(root + "/state", save_interval=SAVE_INTERVAL,
                       keep_snapshots=SAVE_INTERVAL + 3)
    index = SnapshotTable(root + "/index")
    log = LineageLog(root + "/log")
    state.init(world_df)
    index.overwrite(transitive_closure(edges_from_rows(world_df)))
    ctx.setup_parts = {"state_index_init": time.perf_counter() - t0,
                       "python_workers": harness.timed(harness.warm_python_workers, spark)[0]}
    out_dir = os.path.join(root, "out")

    # closed loop, one client
    lat, done, failed = [], [], 0
    # two timed batches per run: one batch's time varies by up to a
    # quarter from run to run, and a run has time for two
    for seq in harness.op_slots(ctx, _wraps(), min_ops=2):
        bdf = spark.createDataFrame(batches[seq], OSM_SCHEMA)
        t0 = time.perf_counter()
        try:
            with ctx.tracer.op():
                runner.resume_and_run(spark, state, index, log, out_dir, {seq: lambda: bdf})
        except Exception as exc:  # a failed batch leaves state unusable
            ctx.log(f"batch {seq} failed: {exc!r}")
            failed += 1
            break
        lat.append(time.perf_counter() - t0)
        done.append(seq)

    # outputs vs the oracle, outside the timed window
    expected, _ = _oracle().run_sequence(world, {s: batches[s] for s in done})
    wrong = [s for s in done if _canon(_read_features(out_dir, s)) != _canon(expected[s])]
    if wrong:
        ctx.log(f"batches differing from the oracle: {wrong}")
    return {
        "op_s": lat,
        "attempted": len(done) + failed,
        "failed": failed + len(wrong),
    }


def layer_metrics(tr, n_ops: int) -> dict:
    closures = [tr.spans[i] for i in tr.named("closure")]
    fetches = [tr.spans[i] for i in tr.named("state.fetch")]
    compacts = [tr.spans[i] for i in tr.named("catalog.compact")]
    lineage = {"lineage.commit", "lineage.record"}
    lineage_jobs = sum(  # outermost lineage spans only: commit_seq nests reads
        len(d.jobs)
        for i, sp in enumerate(tr.spans)
        if sp.name in lineage and (sp.parent is None or tr.spans[sp.parent].name not in lineage)
        for d in tr.descendants(i)
    )
    return {
        "closure.wall_s": tr.wall("closure") / n_ops,
        "closure.jobs": tr.jobs("closure") / n_ops,
        "closure.driver_route_ratio":
            sum(sp.attrs.get("driver", False) for sp in closures) / max(1, len(closures)),
        "history.wall_s": tr.wall("history") / n_ops,
        "history.jobs": tr.jobs("history") / n_ops,
        "history.tasks": tr.tasks("history") / n_ops,
        "state.fetch_keys": sum(sp.attrs.get("keys", 0) for sp in fetches) / n_ops,
        "render.self_s": tr.self_time("compute_batch_features") / n_ops,
        "render.jobs": tr.jobs("compute_batch_features", inclusive=False) / n_ops,
        "emit.self_s": tr.self_time("run_batch") / n_ops,
        "emit.jobs": tr.jobs("run_batch", inclusive=False) / n_ops,
        "state.append_wall_s": tr.wall("state.append") / n_ops,
        "catalog.append_wall_s": tr.wall("catalog.append") / n_ops,
        "catalog.compact_wall_s": tr.wall("catalog.compact") / n_ops,
        "catalog.compactions": sum(sp.attrs.get("compacted", False) for sp in compacts) / n_ops,
        "lineage.commit_wall_s": tr.wall("lineage.commit") / n_ops,
        "lineage.jobs": lineage_jobs / n_ops,
        "trace.span_coverage": tr.coverage(),
    }
