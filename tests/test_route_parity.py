"""Per-batch pipeline outputs locked against per-world goldens.

Every batch closes on the driver and renders its whole scope there
(histories, geometry and feature lines in driver Python), and every
per-batch delta (feature file, state, index) is written from the
driver.  The worlds below (the fixture and soak batches, the tombstone
deletes, a containment cycle and an incidental before-version member)
run through ``run_batch`` and must leave the feature files, state, index
and lineage rows recorded in tests/data/batch_worlds_golden.json.  The
golden was captured while a second, distributed render route still
existed and agreed with this one byte for byte on every world.

A spy on ``incremental_closure``'s 4th result (the driver closure's
new-edge list) proves every batch closes once on the driver, and the
fixture world's Spark job count is pinned as a regression guard.

Regenerate the golden with ``python tests/test_route_parity.py``.
"""

import glob
import hashlib
import json
import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from augdiff_pipeline_spark import fixtures  # noqa: E402
from augdiff_pipeline_spark.fixtures import _node_row, _rel_row, _way_row, _ts  # noqa: E402
from augdiff_pipeline_spark.operators.closure import edges_from_rows, transitive_closure  # noqa: E402
from augdiff_pipeline_spark.plans import augdiff  # noqa: E402
from augdiff_pipeline_spark.plans.lineage import LineageLog  # noqa: E402
from augdiff_pipeline_spark.schemas import INDEX_SCHEMA, LINEAGE_SCHEMA, OSM_SCHEMA  # noqa: E402
from augdiff_pipeline_spark.sources.catalog import SnapshotTable  # noqa: E402
from augdiff_pipeline_spark.sources.state import StateTable  # noqa: E402

import test_tombstone_golden as tombstone  # noqa: E402

GOLDEN = os.path.join(os.path.dirname(__file__), "data", "batch_worlds_golden.json")
WORLDS = ["fixtures", "tombstone", "cycle", "incidental"]

# two relations that contain each other: the histories fixpoint and the
# render rounds must both stop on the cycle
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
# through way 9900, and a moved node (9802) under two ways (9900 and
# 9901): the batch must still emit 9950's invisible v1 line and 9802's
# lines once
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


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


def _run_world(spark, root, base_rows, batches):
    state = StateTable(os.path.join(root, "state"))
    index = SnapshotTable(os.path.join(root, "index"))
    log = LineageLog(os.path.join(root, "log"))
    out_dir = os.path.join(root, "out")
    base_df = spark.createDataFrame(base_rows, OSM_SCHEMA)
    state.init(base_df)
    index.overwrite(transitive_closure(edges_from_rows(base_df)))

    closures: list = []
    incremental_closure = augdiff.incremental_closure

    def closure_spy(*args):
        out = incremental_closure(*args)
        closures.append(isinstance(out[3], list))
        return out

    sc = spark.sparkContext
    files, names, jobs, closed = {}, {}, {}, {}
    for seq in sorted(batches):
        batch_df = spark.createDataFrame(batches[seq], OSM_SCHEMA)
        group = f"batch-worlds-{os.path.basename(root)}-{seq}"
        closures.clear()
        sc.setJobGroup(group, "run_batch")
        try:
            with pytest.MonkeyPatch.context() as mp:
                mp.setattr(augdiff, "incremental_closure", closure_spy)
                augdiff.run_batch(spark, state, index, log, batch_df, seq, out_dir)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs[seq] = _jobs_in_group(spark, group)
        closed[seq] = list(closures)
        parts = sorted(glob.glob(os.path.join(out_dir, f"seq={seq:09d}", "part-*")))
        files[seq] = b"".join(Path(p).read_bytes() for p in parts)
        names[seq] = [os.path.basename(p) for p in parts]

    lineage: dict = {}
    index_parts = set()
    for r in log.lineage.read(spark, schema=LINEAGE_SCHEMA).collect():
        if r["stage"] == "index_append":
            index_parts.add(r["partition_id"])
        # every stage writes one partition -1 row; the golden holds the
        # total per stage
        key = (r["seq"], r["stage"], r["input_snapshot"], r["output_snapshot"])
        total = lineage.get(key)
        if r["row_count"] is not None:
            total = (total or 0) + r["row_count"]
        lineage[key] = total
    return {
        "files": files,
        "names": names,
        "jobs": jobs,
        "closure": closed,
        "state": sorted(str(r) for r in state.read(spark).collect()),
        "index": sorted((r["a"], r["b"]) for r in index.read(spark, schema=INDEX_SCHEMA).collect()),
        "lineage": lineage,
        "index_parts": index_parts,
        "committed": log.committed_seqs(spark),
    }


def world_digest(world: dict) -> dict:
    """The golden's record of one world's run: sha256 of each seq's
    feature file, of the sorted state rows and of the sorted index
    rows (with their counts), the lineage totals and the committed seqs."""
    return {
        "files": {str(seq): hashlib.sha256(b).hexdigest() for seq, b in sorted(world["files"].items())},
        "state": [len(world["state"]), _sha("\n".join(world["state"]))],
        "index": [len(world["index"]), _sha(json.dumps(world["index"]))],
        "lineage": sorted(([*k, v] for k, v in world["lineage"].items()), key=str),
        "committed": world["committed"],
    }


def _run_worlds(spark, mktemp):
    return {name: _run_world(spark, mktemp(name), base_rows, batches)
            for name, (base_rows, batches) in _worlds().items()}


@pytest.fixture(scope="module")
def worlds(spark, tmp_path_factory):
    return _run_worlds(spark, lambda name: str(tmp_path_factory.mktemp(name)))


@pytest.mark.parametrize("world", WORLDS)
def test_world_matches_golden(worlds, world):
    got = worlds[world]
    assert any(got["files"].values()), "no features written"
    # every batch closed once on the driver (incremental_closure's 4th
    # result a list)
    assert all(c == [True] for c in got["closure"].values()), got["closure"]
    # one writer: the driver's one file and one partition -1 index
    # lineage row
    assert got["index_parts"] == {-1}
    assert all(n == ["part-00000.txt"] for n in got["names"].values()), got["names"]
    assert got["committed"] == sorted(got["files"])
    with open(GOLDEN) as fh:
        golden = json.load(fh)[world]
    assert json.loads(json.dumps(world_digest(got))) == golden


def test_driver_route_job_count(worlds):
    """Every fixture and soak batch runs at most 10 Spark jobs end to
    end (a quarter over the 8 measured), compacting batches included
    (batch collect, two index probes, scope collect, state compaction)."""
    jobs = worlds["fixtures"]["jobs"]
    assert max(jobs.values()) <= 10, jobs


def test_incidental_world_covers_its_case(worlds):
    """The incidental world's batch emits relation 9950's invisible v1
    line, which reads node 9801 (in scope only through way 9900), and
    one line per side for node 9802 (under two ways)."""
    lines = worlds["incidental"]["files"][0].decode().splitlines()
    keys = [(p["type"], p["id"], p["version"], p["visible"])
            for p in (json.loads(line)["properties"] for line in lines)]
    assert len(keys) == len(set(keys)) == 8, keys
    assert ("relation", 9950, 1, False) in keys, keys
    assert ("node", 9802, 1, False) in keys and ("node", 9802, 2, True) in keys, keys


if __name__ == "__main__":
    import tempfile

    from augdiff_pipeline_spark.session import get_spark

    s = get_spark("batch-worlds-golden", cores=4, shuffle_partitions=8)
    with tempfile.TemporaryDirectory() as tmp:
        runs = _run_worlds(s, lambda name: os.path.join(tmp, name))
    with open(GOLDEN, "w") as fh:
        json.dump({name: world_digest(runs[name]) for name in WORLDS}, fh, indent=1)
        fh.write("\n")
    s.stop()
