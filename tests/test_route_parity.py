"""Route parity for the per-batch pipeline.

A batch whose closure is small runs on the driver route (histories,
geometry and feature lines in driver Python, feature file written from
the driver); every other batch runs the DataFrame route.  Closing every
batch on the distributed path (``small_component_edges=0``) forces the
DataFrame route.  A third leg keeps the closure small but makes the
scope collect overflow (``SMALL_COMPONENT_EDGES=0`` in the plan), which
is what a large scope under a small closure hits: the DataFrame route
then runs after the driver-side closure and its driver-side index
append.  The same worlds run through all three and must leave
byte-identical feature files and equal state, index and lineage rows.
The driver route's job count is pinned as a regression guard.
"""

import functools
import glob
import os
from pathlib import Path

import pytest

from augdiff_pipeline_spark import fixtures
from augdiff_pipeline_spark.fixtures import _node_row, _rel_row, _way_row, _ts
from augdiff_pipeline_spark.operators import closure
from augdiff_pipeline_spark.operators.closure import edges_from_rows, transitive_closure
from augdiff_pipeline_spark.plans import augdiff
from augdiff_pipeline_spark.plans.lineage import LineageLog
from augdiff_pipeline_spark.schemas import INDEX_SCHEMA, LINEAGE_SCHEMA, OSM_SCHEMA
from augdiff_pipeline_spark.sources.catalog import SnapshotTable
from augdiff_pipeline_spark.sources.state import StateTable

import test_tombstone_golden as tombstone

# two relations that contain each other: the histories fixpoint and the
# render rounds must both stop on the cycle and agree across routes
CYCLE_BASE = [
    _node_row(9501, 1, _ts(0), lon=30.0, lat=40.0),
    _node_row(9502, 1, _ts(0), lon=30.1, lat=40.0),
    _node_row(9503, 1, _ts(0), lon=30.1, lat=40.1),
    _node_row(9504, 1, _ts(0), lon=30.2, lat=40.2),
    _way_row(9600, 1, _ts(0), nds=[9501, 9502, 9503], tags={"highway": "path"}),
    _rel_row(9700, 1, _ts(0), members=[("way", 9600, ""), ("relation", 9701, "")],
             tags={"type": "route"}),
    _rel_row(9701, 1, _ts(0), members=[("relation", 9700, ""), ("node", 9504, "")],
             tags={"type": "site"}),
]
CYCLE_BATCHES = {
    0: [_node_row(9502, 2, _ts(1), lon=30.15, lat=40.05)],
    1: [
        _rel_row(9701, 2, _ts(2), members=[("relation", 9700, ""), ("node", 9504, "")],
                 tags={"type": "site", "name": "loop"}),
        _node_row(9504, 2, _ts(2), lon=30.25, lat=40.2),
    ],
}


def _worlds():
    seqs = dict(fixtures.change_batch_rows())
    seqs.update(fixtures.soak_batch_rows(10))
    return {
        "fixtures": (fixtures.base_state_rows(), seqs),
        "tombstone": (tombstone.BASE_ROWS, {0: tombstone.BATCH_ROWS}),
        "cycle": (CYCLE_BASE, CYCLE_BATCHES),
    }


def _jobs_in_group(spark, group):
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _run_world(spark, root, base_rows, batches):
    state = StateTable(os.path.join(root, "state"))
    index = SnapshotTable(os.path.join(root, "index"))
    log = LineageLog(os.path.join(root, "log"))
    out_dir = os.path.join(root, "out")
    base_df = spark.createDataFrame(base_rows, OSM_SCHEMA)
    state.init(base_df)
    index.overwrite(transitive_closure(edges_from_rows(base_df)))

    sc = spark.sparkContext
    files, names, jobs = {}, {}, {}
    for seq in sorted(batches):
        batch_df = spark.createDataFrame(batches[seq], OSM_SCHEMA)
        group = f"route-parity-{os.path.basename(root)}-{seq}"
        sc.setJobGroup(group, "run_batch")
        try:
            augdiff.run_batch(spark, state, index, log, batch_df, seq, out_dir)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs[seq] = _jobs_in_group(spark, group)
        parts = sorted(glob.glob(os.path.join(out_dir, f"seq={seq:09d}", "part-*")))
        files[seq] = b"".join(Path(p).read_bytes() for p in parts)
        names[seq] = [os.path.basename(p) for p in parts]

    lineage: dict = {}
    index_parts = set()
    for r in log.lineage.read(spark, schema=LINEAGE_SCHEMA).collect():
        if r["stage"] == "index_append":
            index_parts.add(r["partition_id"])
        # per-partition splits are route-specific (the driver route
        # writes one -1 row per stage); totals per stage are not
        key = (r["seq"], r["stage"], r["input_snapshot"], r["output_snapshot"])
        total = lineage.get(key)
        if r["row_count"] is not None:
            total = (total or 0) + r["row_count"]
        lineage[key] = total
    return {
        "files": files,
        "names": names,
        "jobs": jobs,
        "state": sorted(str(r) for r in state.read(spark).collect()),
        "index": sorted((r["a"], r["b"]) for r in index.read(spark, schema=INDEX_SCHEMA).collect()),
        "lineage": lineage,
        "index_parts": index_parts,
        "committed": log.committed_seqs(spark),
    }


@pytest.fixture(scope="module")
def routes(spark, tmp_path_factory):
    out = {}
    for route in ("driver", "dataframe", "mixed"):
        with pytest.MonkeyPatch.context() as mp:
            if route == "dataframe":
                mp.setattr(augdiff, "incremental_closure", functools.partial(
                    closure.incremental_closure, small_component_edges=0))
            elif route == "mixed":
                mp.setattr(augdiff, "SMALL_COMPONENT_EDGES", 0)
            for name, (base_rows, batches) in _worlds().items():
                root = str(tmp_path_factory.mktemp(f"{route}-{name}"))
                out[route, name] = _run_world(spark, root, base_rows, batches)
    return out


@pytest.mark.parametrize("world", ["fixtures", "tombstone", "cycle"])
def test_routes_write_identical_outputs(routes, world):
    drv = routes["driver", world]
    assert any(drv["files"].values()), "no features written"
    # each leg really took its route: the driver writer's one file vs
    # the Spark text writer's part-00000-<uuid>-c000.txt, and the small
    # closure's driver-side index append (one partition -1 lineage row)
    # on the driver and mixed legs
    assert all(n == ["part-00000.txt"] for n in drv["names"].values()), drv["names"]
    assert drv["index_parts"] == routes["mixed", world]["index_parts"] == {-1}
    for route in ("dataframe", "mixed"):
        other = routes[route, world]
        assert all(n and n != ["part-00000.txt"] for n in other["names"].values()), other["names"]
        for seq in drv["files"]:
            assert drv["files"][seq] == other["files"][seq], f"{world} {route} seq {seq}"
        assert drv["committed"] == other["committed"] == sorted(drv["files"])
        assert drv["state"] == other["state"], route
        assert drv["index"] == other["index"], route
        assert drv["lineage"] == other["lineage"], route


def test_driver_route_job_count(routes):
    """Every fixture and soak batch on the driver route runs at most 20
    Spark jobs end to end, compacting batches included (closure probe,
    scope collect, state append and compaction, lineage); the DataFrame
    route runs several times that."""
    drv, dfr = routes["driver", "fixtures"], routes["dataframe", "fixtures"]
    assert max(drv["jobs"].values()) <= 20, drv["jobs"]
    assert dfr["jobs"][0] > 2 * drv["jobs"][0], (drv["jobs"], dfr["jobs"])
