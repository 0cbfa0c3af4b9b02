"""Route parity for the per-batch pipeline.

Every batch closes on the driver.  A batch whose scope fits
``augdiff.DRIVER_SCOPE_ROWS`` then runs on the driver route (histories,
geometry and feature lines in driver Python); every other batch runs the
grouped route (the same Python on executors, once per partition of whole
root downsets, its deduplicated lines collected to the driver).  Both
routes write every per-batch delta (feature file, state, index) from the
driver.  ``augdiff.DRIVER_SCOPE_ROWS`` patched to 0 forces the grouped
route; its leg is named "grouped".  The same worlds run through both
legs and must leave byte-identical feature files and equal state, index
and lineage rows; spies on ``augdiff._grouped_features`` and on
``incremental_closure``'s 4th result (the driver closure's new-edge
list) prove each leg's route.  Both legs' job counts are pinned as
regression guards.
"""

import glob
import json
import os
from pathlib import Path

import pytest

from augdiff_pipeline_spark import fixtures
from augdiff_pipeline_spark.fixtures import _node_row, _rel_row, _way_row, _ts
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

# a relation whose before-version member (node 9801) is in scope only
# through way 9900, and a moved node (9802) under two roots (ways 9900
# and 9901): the grouped route must still emit 9950's invisible v1 line
# and 9802's lines once
INCIDENTAL_BASE = [
    _node_row(9801, 1, _ts(0), lon=31.0, lat=41.0),
    _node_row(9802, 1, _ts(0), lon=31.1, lat=41.0),
    _node_row(9803, 1, _ts(0), lon=31.2, lat=41.1),
    _way_row(9900, 1, _ts(0), nds=[9801, 9802], tags={"highway": "path"}),
    _way_row(9901, 1, _ts(0), nds=[9802, 9803], tags={"highway": "path"}),
    _rel_row(9950, 1, _ts(0), members=[("node", 9801, "")], tags={"type": "site"}),
]
INCIDENTAL_BATCHES = {
    0: [
        _rel_row(9950, 2, _ts(1), members=[("node", 9803, "")], tags={"type": "site"}),
        _node_row(9802, 2, _ts(1), lon=31.15, lat=41.05),
    ],
}


def _worlds():
    seqs = dict(fixtures.change_batch_rows())
    seqs.update(fixtures.soak_batch_rows(10))
    return {
        "fixtures": (fixtures.base_state_rows(), seqs),
        "tombstone": (tombstone.BASE_ROWS, {0: tombstone.BATCH_ROWS}),
        "cycle": (CYCLE_BASE, CYCLE_BATCHES),
        "incidental": (INCIDENTAL_BASE, INCIDENTAL_BATCHES),
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

    calls = {"grouped": 0, "closure": []}
    grouped_features, incremental_closure = augdiff._grouped_features, augdiff.incremental_closure

    def grouped_spy(rows):
        calls["grouped"] += 1
        return grouped_features(rows)

    def closure_spy(*args):
        out = incremental_closure(*args)
        calls["closure"].append(isinstance(out[3], list))
        return out

    sc = spark.sparkContext
    files, names, jobs, grouped, closed = {}, {}, {}, {}, {}
    for seq in sorted(batches):
        batch_df = spark.createDataFrame(batches[seq], OSM_SCHEMA)
        group = f"route-parity-{os.path.basename(root)}-{seq}"
        calls["grouped"], calls["closure"] = 0, []
        sc.setJobGroup(group, "run_batch")
        try:
            with pytest.MonkeyPatch.context() as mp:
                mp.setattr(augdiff, "_grouped_features", grouped_spy)
                mp.setattr(augdiff, "incremental_closure", closure_spy)
                augdiff.run_batch(spark, state, index, log, batch_df, seq, out_dir)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs[seq] = _jobs_in_group(spark, group)
        grouped[seq], closed[seq] = calls["grouped"], calls["closure"]
        parts = sorted(glob.glob(os.path.join(out_dir, f"seq={seq:09d}", "part-*")))
        files[seq] = b"".join(Path(p).read_bytes() for p in parts)
        names[seq] = [os.path.basename(p) for p in parts]

    lineage: dict = {}
    index_parts = set()
    for r in log.lineage.read(spark, schema=LINEAGE_SCHEMA).collect():
        if r["stage"] == "index_append":
            index_parts.add(r["partition_id"])
        # every stage writes one partition -1 row; the totals per stage
        # are what the routes must agree on
        key = (r["seq"], r["stage"], r["input_snapshot"], r["output_snapshot"])
        total = lineage.get(key)
        if r["row_count"] is not None:
            total = (total or 0) + r["row_count"]
        lineage[key] = total
    return {
        "files": files,
        "names": names,
        "jobs": jobs,
        "grouped": grouped,
        "closure": closed,
        "state": sorted(str(r) for r in state.read(spark).collect()),
        "index": sorted((r["a"], r["b"]) for r in index.read(spark, schema=INDEX_SCHEMA).collect()),
        "lineage": lineage,
        "index_parts": index_parts,
        "committed": log.committed_seqs(spark),
    }


@pytest.fixture(scope="module")
def routes(spark, tmp_path_factory):
    out = {}
    for route in ("driver", "grouped"):
        with pytest.MonkeyPatch.context() as mp:
            if route == "grouped":
                mp.setattr(augdiff, "DRIVER_SCOPE_ROWS", 0)
            for name, (base_rows, batches) in _worlds().items():
                root = str(tmp_path_factory.mktemp(f"{route}-{name}"))
                out[route, name] = _run_world(spark, root, base_rows, batches)
    return out


@pytest.mark.parametrize("world", ["fixtures", "tombstone", "cycle", "incidental"])
def test_routes_write_identical_outputs(routes, world):
    drv, grp = routes["driver", world], routes["grouped", world]
    assert any(drv["files"].values()), "no features written"
    # each leg really took its route: the grouped render ran on every
    # batch of the grouped leg and on none of the driver leg's, and
    # every batch of both closed once on the driver (incremental_closure's
    # 4th result a list)
    assert set(drv["grouped"].values()) == {0}, drv["grouped"]
    assert set(grp["grouped"].values()) == {1}, grp["grouped"]
    for leg in (drv, grp):
        assert all(c == [True] for c in leg["closure"].values()), leg["closure"]
    # one writer: both legs write the driver's one file and one
    # partition -1 index lineage row
    assert drv["index_parts"] == grp["index_parts"] == {-1}
    for leg in (drv, grp):
        assert all(n == ["part-00000.txt"] for n in leg["names"].values()), leg["names"]
    for seq in drv["files"]:
        assert drv["files"][seq] == grp["files"][seq], f"{world} seq {seq}"
    assert drv["committed"] == grp["committed"] == sorted(drv["files"])
    assert drv["state"] == grp["state"]
    assert drv["index"] == grp["index"]
    assert drv["lineage"] == grp["lineage"]


def test_driver_route_job_count(routes):
    """Every fixture and soak batch on the driver route runs at most 10
    Spark jobs end to end (a quarter over the 8 measured), compacting
    batches included (batch collect, two index probes, scope collect,
    state compaction); the grouped route runs several times that, and
    at most 52 (a quarter over the 41 measured, after the driver
    closure, with its features, state and index deltas written from the
    driver)."""
    drv, grp = routes["driver", "fixtures"], routes["grouped", "fixtures"]
    assert max(drv["jobs"].values()) <= 10, drv["jobs"]
    assert grp["jobs"][0] > 2 * drv["jobs"][0], (drv["jobs"], grp["jobs"])
    assert max(grp["jobs"].values()) <= 52, grp["jobs"]


def test_incidental_world_covers_its_case(routes):
    """The incidental world's batch emits relation 9950's invisible v1
    line, which reads node 9801 (in scope only through way 9900), and
    one line per side for node 9802 (under two roots); the other legs
    match these bytes per test_routes_write_identical_outputs."""
    lines = routes["driver", "incidental"]["files"][0].decode().splitlines()
    keys = [(p["type"], p["id"], p["version"], p["visible"])
            for p in (json.loads(line)["properties"] for line in lines)]
    assert len(keys) == len(set(keys)) == 8, keys
    assert ("relation", 9950, 1, False) in keys, keys
    assert ("node", 9802, 1, False) in keys and ("node", 9802, 2, True) in keys, keys
