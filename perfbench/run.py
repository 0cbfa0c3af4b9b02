"""Benchmark of record for augdiff_pipeline_spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload augdiff_minutely --seed 1 --seconds 5 --trace 0

Workloads: augdiff_minutely and image_pipeline (see perfbench/README.md).
Spark runs on local[nproc] with driver memory sized from host RAM.  Each
run sets the workload up once, runs one warm-up op, then times ops until
the window of --seconds closes.  The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}.  With
--trace 0 the metrics are the end-to-end metrics; with --trace 1 they
are the per-layer metrics of a traced run, which traces the second half
of its window and compares it with the untraced first half.  Diagnostics
go to standard error.  Exits 2 when not run from a checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from dataclasses import dataclass, field

E2E_UNITS = {
    "setup_s": "s",
    "batch_p50_s": "s",
    "memory_mb": "MB",
}

# per-layer metric -> unit; every traced run prints all of them, with 0
# for layers its workload does not run
LAYER_UNITS = {
    "closure.wall_s": "s", "closure.jobs": "count", "closure.driver_route_ratio": "ratio",
    "history.wall_s": "s", "history.jobs": "count", "history.tasks": "count",
    "state.fetch_keys": "count",
    "render.self_s": "s", "render.jobs": "count",
    "emit.self_s": "s", "emit.jobs": "count",
    "state.append_wall_s": "s", "catalog.append_wall_s": "s",
    "catalog.compact_wall_s": "s", "catalog.compactions": "count",
    "lineage.commit_wall_s": "s", "lineage.jobs": "count",
    "spatial_join.cell_wall_s": "s", "spatial_join.scan_wall_s": "s",
    "spatial_join.shuffle_wall_s": "s", "spatial_join.shuffle_tasks": "count",
    "spatial_join.shuffle_task_skew": "ratio", "spatial_join.shuffle_bytes": "bytes",
    "spatial_join.hit_ratio": "ratio",
    "knn.wall_s": "s", "knn.jobs": "count", "knn.shuffle_bytes": "bytes",
    "polygon_layer.build_s": "s",
    "tiling.cut_wall_s": "s", "tiling.cut_tasks": "count",
    "tiling.cut_task_skew": "ratio", "tiling.cut_shuffle_bytes": "bytes",
    "multimodal.features_wall_s": "s",
    "dedup.minhash_wall_s": "s", "dedup.minhash_jobs": "count",
    "dedup.minhash_shuffle_bytes": "bytes", "dedup.pairs": "count", "dedup.recall": "ratio",
    "spark.jobs_per_op": "count", "spark.tasks_per_op": "count",
    "spark.failed_tasks": "count", "spark.unattributed_jobs": "count",
    "host.calib_jvm_s": "s", "trace.overhead_ratio": "ratio", "trace.span_coverage": "ratio",
}


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    trace: bool
    size: str
    run_dir: str
    tracer: object
    setup_parts: dict = field(default_factory=dict)
    traced_from: int | None = None

    @staticmethod
    def log(msg: str) -> None:
        print(f"perfbench: {msg}", file=sys.stderr, flush=True)


WORKLOADS = ("augdiff_minutely", "image_pipeline")


def _workload(name: str):
    """(run, layer_metrics) of one workload module."""
    from perfbench import wl_augdiff, wl_image

    mod = {"augdiff_minutely": wl_augdiff, "image_pipeline": wl_image}[name]
    return mod.run, mod.layer_metrics


def measure(args, root: str) -> dict:
    from perfbench import harness, spans

    run_dir = os.path.join(root, harness.WORK_DIR, f"run-{os.getpid()}")
    harness.prepare_env(root, run_dir)
    cores = args.cores or harness.host_cores()
    run, layers_of = _workload(args.workload)
    session_s, spark = harness.timed(harness.start_spark, cores, run_dir)
    try:
        ctx = Ctx(spark, args.seed, args.seconds, bool(args.trace), args.size, run_dir,
                  spans.Tracer(spark))
        res = run(ctx)
        calib = harness.calib_jvm_s(spark)
        ctx.log(f"local[{cores}], driver memory {harness.driver_memory()}, "
                f"host.calib_jvm_s {calib:.3f}")
        ctx.log("setup parts (s): " + json.dumps(
            {k: round(v, 3) for k, v in ctx.setup_parts.items()}))
        split = ctx.traced_from if args.trace else len(res["op_s"])
        op_s = res["op_s"][1:split]
        ctx.log(f"warm-up op {res['op_s'][0]:.3f}s; {len(op_s)} untraced op seconds: "
                f"{[round(v, 3) for v in op_s]}")
        if not op_s:
            raise RuntimeError("no op completed inside the window")
        if args.trace:
            traced = res["op_s"][split:]
            if not traced:
                raise RuntimeError("no op completed inside the traced half of the window")
            stats = ctx.tracer.resolve()
            n = len(traced)
            metrics = {
                **layers_of(ctx.tracer, n),
                **res.get("layers", {}),
                "spark.jobs_per_op": stats["jobs"] / n,
                "spark.tasks_per_op": stats["tasks"] / n,
                "spark.failed_tasks": stats["failed_tasks"],
                "spark.unattributed_jobs": stats["unattributed_jobs"],
                "host.calib_jvm_s": calib,
                "trace.overhead_ratio": harness.median(traced) / harness.median(op_s),
            }
            units = LAYER_UNITS
        else:
            metrics = {
                "setup_s": session_s + sum(ctx.setup_parts.values()),
                "batch_p50_s": harness.median(op_s),
                "memory_mb": harness.memory_mb(spark),
            }
            units = E2E_UNITS
    finally:
        harness.stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    return {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": u} for k, u in units.items()},
    }


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["full", "tiny"], default="full")
    p.add_argument("--cores", type=int, default=0, help="local[N]; default nproc")
    args = p.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "augdiff_pipeline_spark", "__init__.py"))
            and os.path.isfile(os.path.join(root, "tests", "oracle_augdiff.py"))):
        print("perfbench: run from the root of a checkout of the repository "
              "(augdiff_pipeline_spark/ and tests/oracle_augdiff.py not found)", file=sys.stderr)
        return 2
    # import the package and this benchmark from the checkout root, not
    # from perfbench/ (whose module names must not shadow anything)
    sys.path[0] = root
    t0 = time.perf_counter()
    result = measure(args, root)
    print(f"perfbench: run took {time.perf_counter() - t0:.1f}s", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
