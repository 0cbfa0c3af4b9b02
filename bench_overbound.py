"""Large minutely batches, one per process, through ``run_batch``.

Each leg is one change batch far larger than a usual minutely diff:

  create250k  250,000 new nodes in one batch
  import60k   a 110 x 110 grid of new buildings (60,500 rows) on the
              fixture world
  rel4k       one node moved in a route relation of 4,000 ten-node ways
              (a scope of about 44k rows)
  rel50k      the same in a route relation of 50,000 ways (a scope of
              about 550k rows)

A leg's base world (state table + closed index) and its batch are built
once, in a process of their own, under ``--work``/<leg>/ and reused by
later runs.  Every run then copies the world and runs the one batch in
a fresh process on ``local[4]``, so the driver's peak RSS is the
batch's own.  One JSON line per leg: the batch's wall time and
``stage_sec``, its Spark job count, the driver Python peak RSS, and the
sha256 of the feature file.

    python bench_overbound.py [--leg NAME ...] [--work DIR]
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import resource
import shutil
import subprocess
import sys
import time

from perfbench import harness

ROOT = os.path.dirname(os.path.abspath(__file__))
LEGS = ["create250k", "import60k", "rel4k", "rel50k"]
CORES = 4


def _base_and_batch(leg: str):
    """(base world rows, batch rows) of one leg, as row tuples."""
    from augdiff_pipeline_spark import fixtures
    from augdiff_pipeline_spark.fixtures import _node_row, _rel_row, _way_row, _ts

    if leg == "create250k":
        batch = [_node_row(50_000_000 + i, 1, _ts(1), lon=10.0 + (i % 500) * 1e-4,
                           lat=50.0 + (i // 500) * 1e-4) for i in range(250_000)]
        return fixtures.base_state_rows(), batch
    if leg == "import60k":
        return fixtures.base_state_rows(), fixtures.dense_grid_state_rows(110)
    n_ways = {"rel4k": 4_000, "rel50k": 50_000}[leg]
    rows, members = [], []
    for w in range(n_ways):
        x0, y0 = -170.0 + (w % 500) * 0.02, -80.0 + (w // 500) * 0.01
        nds = [20_000_000 + 10 * w + k for k in range(10)]
        rows += [_node_row(n, 1, _ts(0), lon=x0 + k * 1e-3, lat=y0) for k, n in enumerate(nds)]
        rows.append(_way_row(30_000_000 + w, 1, _ts(0), nds=nds, tags={"highway": "path"}))
        members.append(("way", 30_000_000 + w, ""))
    rows.append(_rel_row(40_000_000, 1, _ts(0), members=members, tags={"type": "route"}))
    batch = [_node_row(20_000_003, 2, _ts(1), lon=-170.0 + 3e-3, lat=-80.0 + 5e-4)]
    return rows, batch


def _write_rows(rows: list[tuple], path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from augdiff_pipeline_spark.schemas import OSM_COLUMNS, OSM_SCHEMA

    schema = to_arrow_schema(OSM_SCHEMA)
    with pq.ParquetWriter(path, schema) as w:
        for i in range(0, len(rows), 50_000):
            chunk = [dict(zip(OSM_COLUMNS, r)) for r in rows[i:i + 50_000]]
            w.write_table(pa.Table.from_pylist(chunk, schema=schema))


def _spark(app: str):
    from augdiff_pipeline_spark.session import get_spark

    return get_spark(app, cores=CORES)


def _open(root: str):
    from augdiff_pipeline_spark.plans.lineage import LineageLog
    from augdiff_pipeline_spark.sources.catalog import SnapshotTable
    from augdiff_pipeline_spark.sources.state import StateTable

    return (StateTable(os.path.join(root, "state")), SnapshotTable(os.path.join(root, "index")),
            LineageLog(os.path.join(root, "log")))


def build(leg: str, leg_dir: str) -> None:
    """Write the leg's batch parquet and its initialized world."""
    from augdiff_pipeline_spark.operators.closure import edges_from_rows, transitive_closure
    from augdiff_pipeline_spark.schemas import OSM_SCHEMA

    base, batch = _base_and_batch(leg)
    os.makedirs(leg_dir, exist_ok=True)
    _write_rows(base, os.path.join(leg_dir, "base.parquet"))
    _write_rows(batch, os.path.join(leg_dir, "batch.parquet"))
    del base, batch
    spark = _spark(f"overbound-build-{leg}")
    base_df = spark.read.schema(OSM_SCHEMA).parquet(os.path.join(leg_dir, "base.parquet"))
    world = os.path.join(leg_dir, "world")
    shutil.rmtree(world, ignore_errors=True)
    state, index, _ = _open(world)
    state.init(base_df)
    index.overwrite(transitive_closure(edges_from_rows(base_df)))
    spark.stop()
    # an interrupted build has no marker and is built again
    open(os.path.join(leg_dir, "built"), "w").close()


def run(leg: str, leg_dir: str) -> dict:
    """One batch over a fresh copy of the leg's world."""
    from augdiff_pipeline_spark.plans.augdiff import run_batch
    from augdiff_pipeline_spark.schemas import OSM_SCHEMA

    root = os.path.join(leg_dir, "run")
    shutil.rmtree(root, ignore_errors=True)
    shutil.copytree(os.path.join(leg_dir, "world"), root)
    spark = _spark(f"overbound-{leg}")
    sc = spark.sparkContext
    batch_df = spark.read.schema(OSM_SCHEMA).parquet(os.path.join(leg_dir, "batch.parquet"))
    state, index, log = _open(root)
    group = f"overbound-{leg}"
    sc.setJobGroup(group, "run_batch")
    t0 = time.perf_counter()
    try:
        out = run_batch(spark, state, index, log, batch_df, 0, os.path.join(root, "out"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    wall = time.perf_counter() - t0
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    with open(os.path.join(out["path"], "part-00000.txt"), "rb") as fh:
        sha = hashlib.sha256(fh.read()).hexdigest()
    res = {
        "leg": leg,
        "wall_s": round(wall, 3),
        "stage_sec": out["stage_sec"],
        "jobs": len(sc.statusTracker().getJobIdsForGroup(group)),
        # ru_maxrss is in KiB on Linux
        "driver_peak_rss_mb": round(resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024, 1),
        "features": out["features"],
        "sha256": sha,
    }
    spark.stop()
    shutil.rmtree(root, ignore_errors=True)
    return res


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--leg", action="append", choices=LEGS, help="leg to run (repeatable; default all)")
    ap.add_argument("--work", default=os.path.join(ROOT, ".overbound_work"),
                    help="directory for the legs' worlds and batches")
    ap.add_argument("--step", choices=["build", "run"], help=argparse.SUPPRESS)
    args = ap.parse_args()
    legs = args.leg or LEGS
    if args.step:
        leg_dir = os.path.join(args.work, legs[0])
        if args.step == "build":
            build(legs[0], leg_dir)
        else:
            print(json.dumps(run(legs[0], leg_dir)), flush=True)
        return
    # a fresh process per step; Spark's Python workers import the
    # package from this checkout
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p))
    # the driver JVM size perfbench runs under: a quarter of host RAM
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", harness.driver_memory())
    for leg in legs:
        cmd = [sys.executable, os.path.abspath(__file__), "--leg", leg, "--work", args.work]
        if not os.path.exists(os.path.join(args.work, leg, "built")):
            subprocess.run(cmd + ["--step", "build"], env=env, check=True,
                           stdout=subprocess.DEVNULL)
        out = subprocess.run(cmd + ["--step", "run"], env=env, check=True,
                             stdout=subprocess.PIPE, text=True).stdout
        print(out.strip().splitlines()[-1], flush=True)


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    main()
