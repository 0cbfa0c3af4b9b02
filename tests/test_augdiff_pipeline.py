"""End-to-end: 8 fixture change batches through the distributed pipeline,
golden-compared against the independent Python oracle, plus closure
checks against the oracle and crash-resume."""

import glob
import json
import os
import shutil
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from augdiff_pipeline_spark import fixtures
from augdiff_pipeline_spark.fixtures import _node_row, _rel_row, _ts, _way_row
from augdiff_pipeline_spark.operators.closure import edges_from_rows, transitive_closure
from augdiff_pipeline_spark.plans import augdiff
from augdiff_pipeline_spark.plans.augdiff import run_batch
from augdiff_pipeline_spark.plans.lineage import LineageLog
from augdiff_pipeline_spark.schemas import INDEX_SCHEMA, OSM_SCHEMA
from augdiff_pipeline_spark.sources.catalog import SnapshotTable
from augdiff_pipeline_spark.sources.state import StateTable

import oracle_augdiff as oracle


def canon(features):
    """Order-insensitive canonical form for a feature set."""
    return sorted(json.dumps(f, sort_keys=True) for f in features)


# a relation chain 100 deep: relation 9_200_000 holds 9_200_001, ...,
# the last one holds way 9_100_000, which holds node 9_000_000 (101
# edges from node to top)
CHAIN_DEPTH = 100
CHAIN_TOP = 9_200_000


def deep_chain_rows() -> list[tuple]:
    t = _ts(0)
    rows = [_node_row(9_000_000, 1, t, lon=10.05, lat=50.05),
            _way_row(9_100_000, 1, t, nds=[9_000_000])]
    for i in range(CHAIN_DEPTH):
        last = i == CHAIN_DEPTH - 1
        member = ("way", 9_100_000, "") if last else ("relation", CHAIN_TOP + i + 1, "")
        rows.append(_rel_row(CHAIN_TOP + i, 1, t, members=[member]))
    return rows


def test_batch_index_closure_matches_oracle(spark):
    """The closure by OSM type closes the fixture world, the 100-deep
    relation chain, and the route-parity cycle and incidental worlds
    (base rows plus every batch: a containment cycle, an incidental
    before-version member) exactly as the oracle's loop, at any depth."""
    import test_route_parity as parity

    parity_worlds = parity._worlds()
    worlds = [fixtures.base_state_rows(), deep_chain_rows()] + [
        base + [r for b in batches.values() for r in b]
        for base, batches in (parity_worlds["cycle"], parity_worlds["incidental"])
    ]
    for rows in worlds:
        expected = {(a, b) for a, b in oracle.close_edges(oracle.edges_from_rows(rows)) if a != b}
        df = spark.createDataFrame(rows, OSM_SCHEMA)
        got = {
            (r["a"], r["b"])
            for r in transitive_closure(edges_from_rows(df)).collect()
        }
        assert got == expected


# the closure's Spark jobs per batch of
# test_incremental_closure_matches_oracle on each leg, as measured: one
# per index probe (the second probe runs only when the batch's entities
# have containers in the index, as in batches 0 and 5), and one more
# per probe for a semi-join's broadcast
CLOSURE_JOBS = {
    "in-list": [2, 1, 2, 1, 1],
    "semi-join": [4, 2, 4, 2, 2],
}


def test_incremental_closure_matches_oracle(spark):
    """incremental_closure's new edges and fetch keys equal the
    oracle's (``oracle.incremental_closure`` and ``needed_pairs``, which
    share no code with operators/closure.py) on node/way edits,
    tombstones, new relations and a relation chain deeper than 64 edges.
    One leg probes the index with IN-lists, the other with broadcast
    semi-joins (every key set over ``MAX_ENUMERATED_KEYS``); each runs
    the pinned number of Spark jobs per batch."""
    from augdiff_pipeline_spark.functions import packing
    from augdiff_pipeline_spark.functions.packing import pair_to_long_py
    from augdiff_pipeline_spark.operators import closure

    base_rows = fixtures.base_state_rows()
    # materialized, as the stored index run_batch probes: the closure's
    # own joins would otherwise rerun in every probe
    index_df = transitive_closure(
        edges_from_rows(spark.createDataFrame(base_rows, OSM_SCHEMA))
    ).localCheckpoint(eager=True)
    oracle_index = {(a, b) for a, b in oracle.close_edges(oracle.edges_from_rows(base_rows)) if a != b}
    changes = fixtures.change_batch_rows()
    batches = [changes[seq] for seq in (0, 2, 5, 6)] + [deep_chain_rows()]
    sc = spark.sparkContext
    for leg, max_keys in (("in-list", packing.MAX_ENUMERATED_KEYS), ("semi-join", 0)):
        jobs = []
        for i, batch in enumerate(batches):
            rows = spark.createDataFrame(batch, OSM_SCHEMA).toArrow()
            group = f"incremental-closure-{leg}-{i}"
            sc.setJobGroup(group, "incremental_closure")
            try:
                with pytest.MonkeyPatch.context() as mp:
                    mp.setattr(packing, "MAX_ENUMERATED_KEYS", max_keys)
                    ne, ae, keys, new_rows = closure.incremental_closure(index_df, rows)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
            new_edges, all_edges = oracle.incremental_closure(oracle_index, batch)
            assert ne is None and ae is None, (leg, i)
            assert new_rows == sorted(new_edges), (leg, i)
            assert keys == sorted(
                pair_to_long_py(eid, etype) for eid, etype in oracle.needed_pairs(batch, all_edges)
            ), (leg, i)
        assert jobs == CLOSURE_JOBS[leg], leg


def test_downset_partitions_keeps_deep_chain(spark):
    """Every row of the 100-deep chain has the top relation as its one
    root, so each comes out once, all in that relation's partition."""
    from augdiff_pipeline_spark.operators.closure import downset_partitions

    df = spark.createDataFrame(deep_chain_rows(), OSM_SCHEMA)
    got = downset_partitions(df).select(
        "id", "type", F.spark_partition_id().alias("part")
    ).collect()
    assert sorted((r["id"], r["type"]) for r in got) == sorted(
        (r[1], r[2]) for r in deep_chain_rows()
    )
    top = [r["part"] for r in got if (r["id"], r["type"]) == (CHAIN_TOP, "relation")]
    assert {r["part"] for r in got} == set(top)


def test_transitive_closure_job_count(spark):
    """transitive_closure runs the same 3 Spark jobs on the fixture
    world and on the 100-deep relation chain: the checkpoint of the
    distinct edges and the relation -> relation collect, whatever the
    nesting depth."""
    sc = spark.sparkContext
    for name, rows in (("fixtures", fixtures.base_state_rows()), ("chain", deep_chain_rows())):
        edges = edges_from_rows(spark.createDataFrame(rows, OSM_SCHEMA))
        group = f"transitive-closure-jobs-{name}"
        sc.setJobGroup(group, "transitive_closure")
        try:
            transitive_closure(edges)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 3, name


@pytest.fixture(scope="module")
def pipeline_run(spark, tmp_path_factory):
    """Run all 8 batches once; share results across assertions."""
    root = str(tmp_path_factory.mktemp("augdiff"))
    state = StateTable(os.path.join(root, "state"))
    index = SnapshotTable(os.path.join(root, "index"))
    log = LineageLog(os.path.join(root, "log"))
    out_dir = os.path.join(root, "out")

    base_df = fixtures.base_state_df(spark)
    state.init(base_df)
    init_index = transitive_closure(edges_from_rows(base_df))
    index.overwrite(init_index)

    batches = fixtures.change_batch_rows()
    results = {}
    for seq in sorted(batches):
        batch_df = fixtures.change_batch_df(spark, seq)
        results[seq] = run_batch(spark, state, index, log, batch_df, seq, out_dir)

    expected, final_index = oracle.run_sequence(fixtures.base_state_rows(), batches)
    return {
        "root": root, "state": state, "index": index, "log": log,
        "out_dir": out_dir, "results": results,
        "expected": expected, "expected_index": final_index,
    }


def read_features(out_dir, seq):
    import glob

    path = os.path.join(out_dir, f"seq={seq:09d}")
    lines = []
    for f in glob.glob(os.path.join(path, "part-*")):
        with open(f) as fh:
            lines.extend(l for l in fh.read().splitlines() if l)
    return [json.loads(l) for l in lines]


def test_all_batches_match_oracle(pipeline_run):
    for seq, exp in pipeline_run["expected"].items():
        got = read_features(pipeline_run["out_dir"], seq)
        assert canon(got) == canon(exp), f"batch {seq}: {len(got)} vs {len(exp)} features"


def test_final_index_matches_oracle(spark, pipeline_run):
    got = {
        (r["a"], r["b"])
        for r in pipeline_run["index"].read(spark, schema=INDEX_SCHEMA).distinct().collect()
    }
    assert got == pipeline_run["expected_index"]


def test_scenarios_present(pipeline_run):
    """Spot-check the hard scenarios from FIXTURES.md §2."""
    exp = pipeline_run["expected"]
    out = pipeline_run["out_dir"]

    # seq0: node create (1 feature) + node modify (2) + indirectly-dirtied
    # way 2000 (modify: 2 features)
    f0 = read_features(out, 0)
    by = lambda fs, t, i: [f for f in fs if f["properties"]["id"] == i and f["properties"]["type"] == t]
    assert len(by(f0, "node", 1100)) == 1  # create → 1 visible
    assert len(by(f0, "node", 1001)) == 2  # modify → after + invisible before
    assert len(by(f0, "way", 2000)) == 2   # indirect dirtiness (node moved)
    w_after = [f for f in by(f0, "way", 2000) if f["properties"]["visible"]][0]
    assert w_after["geometry"]["type"] == "Polygon"  # building => area

    # seq2: node delete → single invisible feature
    f2 = read_features(out, 2)
    d = by(f2, "node", 1050)
    assert len(d) == 1 and d[0]["properties"]["visible"] is False

    # seq3: inner-ring node move dirties multipolygon r3000
    f3 = read_features(out, 3)
    r = by(f3, "relation", 3000)
    assert len(r) == 2
    after = [f for f in r if f["properties"]["visible"]][0]
    assert after["geometry"]["type"] == "Polygon"
    assert len(after["geometry"]["coordinates"]) == 2  # outer + hole

    # seq4/seq7: way/relation deletes emit NO feature — reference parity:
    # a tombstone has empty nds/members (ChangeAugmenter.scala:28-51), so
    # it contributes no edges (ComputeIndexLocal.scala:20-47), nothing of
    # its component is fetched, and the before-row fails the completeness
    # predicate (RowsToJson.scala:127-133/183-196).  Only node deletes
    # (complete ≡ true) render a tombstone feature.
    f4 = read_features(out, 4)
    assert by(f4, "way", 2002) == []
    f7 = read_features(out, 7)
    assert by(f7, "relation", 3005) == []
    # ...but the way modified in the same batch renders normally
    assert len(by(f7, "way", 2012)) == 2

    # seq8: overlapping outer rings dissolve into a UNION polygon (the
    # reference's JTS unaryUnion step, osm/package.scala:461-468) — not a
    # GeometryCollection fallback
    f8 = read_features(out, 8)
    r4 = by(f8, "relation", 3004)
    assert len(r4) == 2  # modify: after + invisible before
    for feat in r4:
        assert feat["geometry"]["type"] == "Polygon", feat["geometry"]["type"]
        assert len(feat["geometry"]["coordinates"]) == 1  # single dissolved ring
        # union boundary: 8 corners minus 2 swallowed, plus 2 crossing
        # points = 8 distinct vertices, 9 rows with ring closure
        assert len(feat["geometry"]["coordinates"][0]) == 9


def test_resume_after_partial_commit(spark, pipeline_run, tmp_path):
    """Crash between state append and lineage commit → resume reruns the
    batch idempotently after rollback."""
    root = str(tmp_path)
    state = StateTable(os.path.join(root, "state"))
    index = SnapshotTable(os.path.join(root, "index"))
    log = LineageLog(os.path.join(root, "log"))
    out_dir = os.path.join(root, "out")

    base_df = fixtures.base_state_df(spark)
    state.init(base_df)
    index.overwrite(transitive_closure(edges_from_rows(base_df)))

    batches = fixtures.change_batch_rows()
    run_batch(spark, state, index, log, fixtures.change_batch_df(spark, 0), 0, out_dir)

    # simulate crash mid-batch-1: state appended but no lineage commit
    state.append_batch(fixtures.change_batch_df(spark, 1).toArrow(), 1, spark)
    from augdiff_pipeline_spark.plans.runner import resume_and_run

    results = resume_and_run(
        spark, state, index, log, out_dir,
        batches={s: (lambda s=s: fixtures.change_batch_df(spark, s)) for s in sorted(batches)},
    )
    # every batch committed exactly once
    assert log.committed_seqs(spark) == sorted(batches)
    # outputs identical to the uninterrupted run
    for seq, exp in pipeline_run["expected"].items():
        got = read_features(out_dir, seq)
        assert canon(got) == canon(exp), f"resume batch {seq}"
    # state contains each row exactly once (the partial pre-crash append
    # was rolled back, not double-applied; rollback keeps history, so we
    # assert on current-snapshot content, not on the snapshot log)
    sdf = state.read(spark)
    total = sdf.count()
    expected_total = len(fixtures.base_state_rows()) + sum(len(v) for v in batches.values())
    assert total == expected_total
    assert sdf.select("id", "type", "version").distinct().count() == total


def test_resume_after_crash_between_state_and_index_append(spark, pipeline_run, tmp_path, monkeypatch):
    """Crash after the driver-written state delta's manifest commit and
    before the index append: resume rolls the delta back and reruns the
    batch, leaving byte-identical feature files and the same state and
    index as the uninterrupted run."""
    import glob
    from pathlib import Path

    from augdiff_pipeline_spark.plans.runner import resume_and_run

    root = str(tmp_path)
    state = StateTable(os.path.join(root, "state"))
    index = SnapshotTable(os.path.join(root, "index"))
    log = LineageLog(os.path.join(root, "log"))
    out_dir = os.path.join(root, "out")
    base_df = fixtures.base_state_df(spark)
    state.init(base_df)
    index.overwrite(transitive_closure(edges_from_rows(base_df)))
    run_batch(spark, state, index, log, fixtures.change_batch_df(spark, 0), 0, out_dir)

    def crash(*args, **kwargs):
        raise RuntimeError("crash before the index append")

    monkeypatch.setattr(index, "append_local", crash)
    with pytest.raises(RuntimeError, match="crash before the index append"):
        run_batch(spark, state, index, log, fixtures.change_batch_df(spark, 1), 1, out_dir)
    monkeypatch.undo()
    delta = state.table.current()
    assert delta.operation == "append" and delta.summary["seq"] == 1
    assert os.listdir(state.table.data_path(delta.data_dirs[-1])) == ["part-00000.parquet"]  # the pyarrow write

    state = StateTable(os.path.join(root, "state"))
    index = SnapshotTable(os.path.join(root, "index"))
    log = LineageLog(os.path.join(root, "log"))
    batches = fixtures.change_batch_rows()
    resume_and_run(
        spark, state, index, log, out_dir,
        batches={s: (lambda s=s: fixtures.change_batch_df(spark, s)) for s in sorted(batches)},
    )
    assert log.committed_seqs(spark) == sorted(batches)

    def files(d, seq):
        parts = sorted(glob.glob(os.path.join(d, f"seq={seq:09d}", "part-*")))
        return b"".join(Path(p).read_bytes() for p in parts)

    for seq in sorted(batches):
        assert files(out_dir, seq) == files(pipeline_run["out_dir"], seq), f"seq {seq}"
    assert sorted(str(r) for r in state.read(spark).collect()) == sorted(
        str(r) for r in pipeline_run["state"].read(spark).collect()
    )
    assert sorted(tuple(r) for r in index.read(spark, schema=INDEX_SCHEMA).collect()) == sorted(
        tuple(r) for r in pipeline_run["index"].read(spark, schema=INDEX_SCHEMA).collect()
    )


CRASH_SEQS = (0, 1, 2)


def _open_world(root):
    """State, index and lineage of a world, on a cadence at which batch 1
    compacts state and index, batch 1 flushes metrics and batch 2
    compacts lineage."""
    return (StateTable(os.path.join(root, "state"), save_interval=2, keep_snapshots=3),
            SnapshotTable(os.path.join(root, "index")),
            LineageLog(os.path.join(root, "log"), save_interval=2, keep_snapshots=3))


def _world_outputs(spark, root):
    state, index, _ = _open_world(root)
    files = {}
    for seq in CRASH_SEQS:
        parts = sorted(glob.glob(os.path.join(root, "out", f"seq={seq:09d}", "part-*")))
        files[seq] = b"".join(Path(p).read_bytes() for p in parts)
    return {
        "files": files,
        "state": sorted(str(r) for r in state.read(spark).collect()),
        "index": sorted(tuple(r) for r in index.read(spark, schema=INDEX_SCHEMA).collect()),
    }


@pytest.fixture(scope="module")
def crash_world(spark, tmp_path_factory):
    """One initialized world, and the outputs of its uninterrupted run
    over batches 0-2."""
    root = str(tmp_path_factory.mktemp("crash") / "world")
    state, index, _ = _open_world(root)
    base_df = fixtures.base_state_df(spark)
    state.init(base_df)
    index.overwrite(transitive_closure(edges_from_rows(base_df)))
    ref = root + "-uninterrupted"
    shutil.copytree(root, ref)
    state, index, log = _open_world(ref)
    for seq in CRASH_SEQS:
        run_batch(spark, state, index, log, fixtures.change_batch_df(spark, seq), seq, ref + "/out")
    return root, _world_outputs(spark, ref)


class _Crash(Exception):
    pass


# every write of run_batch, in order: (crash seq, the object that
# writes, its method); the crash comes right after the write lands.
CRASH_POINTS = {
    "features": (1, lambda s, i, l: augdiff, "_write_lines"),
    "state_delta": (1, lambda s, i, l: s.table, "append_local"),
    "state_compaction": (1, lambda s, i, l: s.table, "compact"),
    "index_delta": (1, lambda s, i, l: i, "append_local"),
    "index_compaction": (1, lambda s, i, l: i, "compact"),
    "metrics_flush": (1, lambda s, i, l: l.metrics, "append_local"),
    "lineage_commit": (1, lambda s, i, l: l.lineage, "append_local"),
    "lineage_compaction": (2, lambda s, i, l: l.lineage, "compact"),
}


@pytest.mark.parametrize("point", sorted(CRASH_POINTS))
def test_crash_at_every_write_resumes_identically(spark, crash_world, tmp_path, monkeypatch, point):
    """A crash right after any write of run_batch lands (feature file,
    state delta and compaction, index delta and pre-commit compaction,
    metrics flush, lineage commit and post-commit compaction), then a
    resume with fresh tables and a fresh LineageLog, leaves feature
    files, state and index equal to the uninterrupted run."""
    from augdiff_pipeline_spark.plans.runner import resume_and_run

    world, expected = crash_world
    root = str(tmp_path / "world")
    shutil.copytree(world, root)
    crash_seq, owner, method = CRASH_POINTS[point]
    state, index, log = _open_world(root)
    for seq in CRASH_SEQS[:crash_seq]:
        run_batch(spark, state, index, log, fixtures.change_batch_df(spark, seq), seq, root + "/out")

    target = owner(state, index, log)
    write = getattr(target, method)

    def landed_then_crash(*args, **kwargs):
        write(*args, **kwargs)
        raise _Crash(point)

    with monkeypatch.context() as mp:
        mp.setattr(target, method, landed_then_crash)
        with pytest.raises(_Crash):
            run_batch(spark, state, index, log, fixtures.change_batch_df(spark, crash_seq),
                      crash_seq, root + "/out")

    state, index, log = _open_world(root)
    resume_and_run(
        spark, state, index, log, root + "/out",
        batches={s: (lambda s=s: fixtures.change_batch_df(spark, s)) for s in CRASH_SEQS},
    )
    assert log.committed_seqs(spark) == list(CRASH_SEQS)
    assert _world_outputs(spark, root) == expected
