"""Polygon layer locked against a golden, plus a Spark job-count guard.

The golden (tests/data/polygon_layer_golden.json) holds, per feature of
the layer, (feature_id, kind, sha256 of geom_wkb, cover-row count).  The
world mixes the fixture world and a small building grid with the
membership shapes the layer's relation rounds must agree on: nested,
cyclic and shared-member multipolygons, a way with a deleted node, a
deleted relation, missing members, a relation chain deeper than
MAX_REL_DEPTH, a relation waiting on a memberless relation member, and
entities whose latest version replaced an older one.

Regenerate the golden with ``python tests/test_polygon_layer.py``.
"""

import hashlib
import itertools
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from augdiff_pipeline_spark import fixtures  # noqa: E402
from augdiff_pipeline_spark.fixtures import _node_row, _rel_row, _tombstone, _way_row, _ts  # noqa: E402
from augdiff_pipeline_spark.operators.history import MAX_REL_DEPTH  # noqa: E402
from augdiff_pipeline_spark.plans.polygon_layer import build_polygon_layer  # noqa: E402
from augdiff_pipeline_spark.schemas import OSM_SCHEMA  # noqa: E402

GOLDEN = os.path.join(os.path.dirname(__file__), "data", "polygon_layer_golden.json")
CHAIN_DEPTH = 12
# fixture-world layer jobs, measured at 39; the bound allows a quarter more
MAX_LAYER_JOBS = 48


def _mp(rid, members, version=1, hours=0, **tags):
    return _rel_row(rid, version, _ts(hours), members=members,
                    tags={"type": "multipolygon", **tags})


def case_rows() -> list[tuple]:
    """Entity rows of the membership cases, ids 80000+ (disjoint from
    the fixture world and the grid), in [11, 12] x [51, 52]."""
    rows = []
    node_ids = itertools.count(80_000)

    def square(wid, x0, y0, size, tags=None):
        """Add a fresh square's node rows and closed way row; its node ids."""
        ids = []
        for lon, lat in [(x0, y0), (x0 + size, y0), (x0 + size, y0 + size), (x0, y0 + size)]:
            ids.append(next(node_ids))
            rows.append(_node_row(ids[-1], 1, _ts(0), lon=lon, lat=lat))
        rows.append(_way_row(wid, 1, _ts(0), nds=ids + [ids[0]], tags=tags or {}))
        return ids

    # nested: 90001 has an outer and an inner way, 90002 holds 90001 as
    # a member next to its own outer way
    square(85001, 11.00, 51.00, 0.10)
    square(85002, 11.03, 51.03, 0.02)
    square(85003, 11.20, 51.00, 0.05)
    rows.append(_mp(90001, [("way", 85001, "outer"), ("way", 85002, "inner")], landuse="forest"))
    rows.append(_mp(90002, [("relation", 90001, "outer"), ("way", 85003, "outer")]))
    # cyclic: 90003 and 90004 hold each other
    square(85004, 11.00, 51.20, 0.05)
    square(85005, 11.10, 51.20, 0.05)
    rows.append(_mp(90003, [("way", 85004, "outer"), ("relation", 90004, "outer")]))
    rows.append(_mp(90004, [("way", 85005, "outer"), ("relation", 90003, "outer")]))
    # shared member: 85006 is the outer way of both 90005 and 90006
    square(85006, 11.30, 51.00, 0.10)
    square(85007, 11.33, 51.03, 0.02)
    rows.append(_mp(90005, [("way", 85006, "outer")], natural="water"))
    rows.append(_mp(90006, [("way", 85006, "outer"), ("way", 85007, "inner")], landuse="meadow"))
    # a building way whose node was deleted, and a multipolygon using it
    ids = square(85008, 11.50, 51.00, 0.05, tags={"building": "yes"})
    rows.append(_tombstone(ids[1], "node", 2, _ts(1)))
    rows.append(_mp(90007, [("way", 85008, "outer")]))
    # a deleted relation
    square(85009, 11.60, 51.00, 0.05)
    rows.append(_mp(90008, [("way", 85009, "outer")]))
    rows.append(_tombstone(90008, "relation", 2, _ts(1)))
    # missing members: a way and a node that are not in the state
    square(85010, 11.70, 51.00, 0.05)
    rows.append(_mp(90009, [("way", 85010, "outer"), ("way", 85999, "outer"),
                            ("node", 89999, "")]))
    # a chain deeper than MAX_REL_DEPTH: 90100 holds a way, each next
    # relation holds the previous one
    square(85011, 11.00, 51.50, 0.10)
    rows.append(_mp(90100, [("way", 85011, "outer")]))
    for i in range(1, CHAIN_DEPTH):
        rows.append(_mp(90100 + i, [("relation", 90100 + i - 1, "outer")]))
    # a multipolygon waiting on a memberless relation member
    square(85012, 11.50, 51.50, 0.05)
    rows.append(_rel_row(90200, 1, _ts(0), members=[], tags={"type": "site"}))
    rows.append(_mp(90201, [("way", 85012, "outer"), ("relation", 90200, "")]))
    # latest versions replace older ones: a way retagged to an area, a
    # relation whose v2 dropped its inner way
    ids = square(85013, 11.80, 51.50, 0.05, tags={"highway": "path"})
    rows.append(_way_row(85013, 2, _ts(2), nds=ids + [ids[0]], tags={"building": "yes"}))
    square(85014, 11.80, 51.80, 0.10)
    square(85015, 11.83, 51.83, 0.02)
    rows.append(_mp(90300, [("way", 85014, "outer"), ("way", 85015, "inner")]))
    rows.append(_mp(90300, [("way", 85014, "outer")], version=2, hours=2))
    return rows


def world_rows() -> list[tuple]:
    return (fixtures.base_state_rows() + fixtures.dense_grid_state_rows(4)
            + case_rows())


def layer_digest(layer) -> dict:
    """{feature_id: [kind, sha256(geom_wkb), cover rows]}."""
    out: dict = {}
    for r in layer.select("feature_id", "kind", "geom_wkb").collect():
        fid = str(r["feature_id"])
        sha = hashlib.sha256(bytes(r["geom_wkb"])).hexdigest()
        kind, prev_sha, n = out.get(fid, (r["kind"], sha, 0))
        assert (kind, prev_sha) == (r["kind"], sha), fid  # one geometry per feature
        out[fid] = [kind, sha, n + 1]
    return out


def _build(spark):
    world = spark.createDataFrame(world_rows(), OSM_SCHEMA)
    return build_polygon_layer(spark, world, max_res=14, min_res=4)


def test_polygon_layer_matches_golden(spark):
    with open(GOLDEN) as fh:
        golden = json.load(fh)
    got = layer_digest(_build(spark))
    assert set(got) == set(golden)
    assert {fid: got[fid] for fid in sorted(got, key=int)} == golden
    ids = {int(f) >> 2 for f in got}
    assert {90001, 90002, 90005, 90006, 90009, 90300}.issubset(ids)
    assert 90008 not in ids  # deleted
    assert 85008 not in ids  # lost a node
    assert CHAIN_DEPTH > MAX_REL_DEPTH


def test_polygon_layer_job_count(spark):
    sc = spark.sparkContext
    group = "polygon-layer-jobs"
    sc.setJobGroup(group, "build_polygon_layer")
    try:
        build_polygon_layer(spark, fixtures.base_state_df(spark)).localCheckpoint(eager=True)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < jobs <= MAX_LAYER_JOBS


if __name__ == "__main__":
    from augdiff_pipeline_spark.session import get_spark

    s = get_spark("polygon-layer-golden", cores=4, shuffle_partitions=8)
    digest = layer_digest(_build(s))
    with open(GOLDEN, "w") as fh:
        json.dump({fid: digest[fid] for fid in sorted(digest, key=int)}, fh, indent=1)
        fh.write("\n")
    s.stop()
