"""Unit tests: packing parity, tag predicates, cells, mercator."""

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from augdiff_pipeline_spark.functions import cells, mercator, osm_tags, packing


@pytest.fixture(scope="module")
def rng():
    return np.random.default_rng(42)


def test_packing_parity(spark, rng):
    """The Column packing and partition expressions equal their scalar
    twins on every row, boundary ids included: a driver-written state
    delta takes ``p`` from partition_number_py, and a mismatch would
    make the ``p IN`` lookup filter drop the row."""
    ids = rng.integers(1, 10**13, 5000)
    types = np.array(["node", "way", "relation"])[rng.integers(0, 3, 5000)]
    df = spark.createDataFrame(pd.DataFrame({"id": ids, "type": types}))
    edge_ids = [2047, 2048, 2049, 20480, 20481, 2**53 - 1, 2**53, 2**53 + 1, 2**62]
    edges = spark.createDataFrame(
        [(i, t) for i in edge_ids for t in ("node", "way", "relation")], "id long, type string"
    )
    out = df.unionByName(edges).select(
        "id", "type",
        packing.pair_to_long(F.col("id"), F.col("type")).alias("packed"),
        packing.partition_number(F.col("id"), F.col("type")).alias("p"),
    ).collect()
    assert len(out) == 5000 + 3 * len(edge_ids)
    for r in out:
        assert r["packed"] == packing.pair_to_long_py(r["id"], r["type"]), r
        assert r["p"] == packing.partition_number_py(r["id"], r["type"]), r
    rt = df.select(
        packing.long_to_id(packing.pair_to_long(F.col("id"), F.col("type"))).alias("id2"),
        packing.long_to_type(packing.pair_to_long(F.col("id"), F.col("type"))).alias("t2"),
        "id", "type",
    ).filter((F.col("id2") != F.col("id")) | (F.col("t2") != F.col("type")))
    assert rt.count() == 0


def test_edges_from_rows_py_matches_dataframe(spark):
    """The driver-side edge twin the small closure probes with equals
    the DataFrame edges on the fixture, cycle and incidental worlds."""
    from augdiff_pipeline_spark.operators.closure import edges_from_rows, edges_from_rows_py
    from augdiff_pipeline_spark.schemas import OSM_SCHEMA

    import test_route_parity as parity

    worlds = parity._worlds()
    for name in ("fixtures", "cycle", "incidental"):
        base, batches = worlds[name]
        df = spark.createDataFrame(base + [r for b in batches.values() for r in b], OSM_SCHEMA)
        rows = df.toArrow().to_pylist()
        want = sorted((r["a"], r["b"]) for r in edges_from_rows(df).collect())
        assert want, name
        assert sorted(edges_from_rows_py(rows, False)) == want, name


def test_is_area(spark):
    cases = [
        ({"building": "yes"}, True),
        ({"highway": "residential"}, False),
        ({"area": "no", "building": "yes"}, False),
        ({"area": "YES", "highway": "x"}, True),
        ({"waterway": "dam"}, False),
        ({"waterway": "riverbank"}, True),
        ({"leisure": "park"}, True),
        ({"leisure": "track"}, False),
        ({}, False),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, (t, _) in enumerate(cases)], "i int, tags map<string,string>"
    )
    got = {r["i"]: r["a"] for r in df.select("i", osm_tags.is_area(F.col("tags")).alias("a")).collect()}
    for i, (tags, want) in enumerate(cases):
        assert got[i] == want, (tags, got[i])
        assert osm_tags.is_area_py(tags) == want, tags


def test_morton_roundtrip(rng):
    lon = rng.uniform(-180, 180, 3000)
    lat = rng.uniform(-90, 90, 3000)
    m = cells.morton(lon, lat)
    ix, iy = cells.lonlat_to_ixy(lon, lat, cells.MAX_RES)
    dx, dy = cells.deinterleave(m)
    assert (dx == ix).all() and (dy == iy).all()
    for r in (4, 11, 22):
        mr = cells.morton(lon, lat, r)
        lo, hi = cells.cell_interval(mr, r)
        assert ((m >= lo) & (m <= hi)).all()


def test_tile_parity_spark_numpy_duckdb(spark, rng):
    lon = rng.uniform(-180, 180, 4000)
    lat = rng.uniform(-89, 89, 4000)
    pdf = pd.DataFrame({"lon": lon, "lat": lat})
    df = spark.createDataFrame(pdf)
    tx, ty = mercator.tile_cols(F.col("lon"), F.col("lat"), 13)
    got = df.select(tx.alias("tx"), ty.alias("ty"), "lon", "lat").toPandas()
    nx, ny = mercator.tile_xy(got["lon"].to_numpy(), got["lat"].to_numpy(), 13)
    assert (got["tx"].to_numpy() == nx).all() and (got["ty"].to_numpy() == ny).all()
    con = duckdb.connect()
    con.register("pts", got[["lon", "lat"]])
    sx, sy = mercator.tile_sql("lon", "lat", 13)
    dd = con.sql(f"select {sx} tx, {sy} ty from pts").df()
    assert (dd["tx"].to_numpy() == got["tx"].to_numpy()).all()
    assert (dd["ty"].to_numpy() == got["ty"].to_numpy()).all()


# ------------------------------------------------------- WKT / validity (F8/F9)
def test_wkt_writer_roundtrip_shapes():
    from augdiff_pipeline_spark.geometry import core, wkt

    sq = np.array([[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0], [0.0, 0.0]])
    hole = np.array([[1.0, 1.0], [2.0, 1.0], [2.0, 2.0], [1.0, 2.0], [1.0, 1.0]])
    assert wkt.to_wkt(core.Point(1.5, -2.0)) == "POINT (1.5 -2)"
    assert wkt.to_wkt(core.LineString(sq[:3])) == "LINESTRING (0 0, 4 0, 4 4)"
    assert (
        wkt.to_wkt(core.Polygon((sq, hole)))
        == "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1))"
    )
    mp = core.MultiPolygon((core.Polygon((sq,)), core.Polygon((hole,))))
    assert wkt.to_wkt(mp).startswith("MULTIPOLYGON (((0 0, 4 0,")
    gc = core.GeometryCollection((core.Point(0.0, 0.0), core.LineString(sq[:2])))
    assert wkt.to_wkt(gc) == "GEOMETRYCOLLECTION (POINT (0 0), LINESTRING (0 0, 4 0))"
    assert wkt.to_wkt(core.GeometryCollection(())) == "GEOMETRYCOLLECTION EMPTY"


def test_is_valid_and_empty():
    from augdiff_pipeline_spark.geometry import core, wkt

    sq = np.array([[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0], [0.0, 0.0]])
    bow = np.array([[0.0, 0.0], [2.0, 2.0], [2.0, 0.0], [0.0, 2.0], [0.0, 0.0]])
    open_ring = sq[:-1]
    hole_in = np.array([[1.0, 1.0], [2.0, 1.0], [2.0, 2.0], [1.0, 2.0], [1.0, 1.0]])
    hole_out = hole_in + 10.0
    assert wkt.is_valid(core.Polygon((sq,)))
    assert not wkt.is_valid(core.Polygon((bow,)))  # self-intersecting bowtie
    assert not wkt.is_valid(core.Polygon((open_ring,)))  # unclosed
    assert wkt.is_valid(core.Polygon((sq, hole_in)))
    assert not wkt.is_valid(core.Polygon((sq, hole_out)))  # hole outside
    assert not wkt.is_valid(core.Polygon(()))
    assert wkt.is_empty(core.Polygon(()))
    assert not wkt.is_empty(core.Polygon((sq,)))
    assert wkt.is_empty(core.GeometryCollection(()))
    assert wkt.is_valid(core.LineString(sq[:2]))
    assert not wkt.is_valid(core.LineString(sq[:1]))


def test_st_functions_on_columns(spark):
    from augdiff_pipeline_spark.functions.geofuncs import st_astext, st_is_empty, st_is_valid
    from augdiff_pipeline_spark.geometry import core, wkb

    sq = np.array([[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0], [0.0, 0.0]])
    bow = np.array([[0.0, 0.0], [2.0, 2.0], [2.0, 0.0], [0.0, 2.0], [0.0, 0.0]])
    rows = [
        (1, bytearray(wkb.dumps(core.Polygon((sq,))))),
        (2, bytearray(wkb.dumps(core.Polygon((bow,))))),
        (3, bytearray(wkb.dumps(core.Point(1.0, 2.0)))),
    ]
    df = spark.createDataFrame(rows, "id long, g binary")
    got = {
        r["id"]: (r["t"], r["v"], r["e"])
        for r in df.select(
            "id",
            st_astext(F.col("g")).alias("t"),
            st_is_valid(F.col("g")).alias("v"),
            st_is_empty(F.col("g")).alias("e"),
        ).collect()
    }
    assert got[1] == ("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))", True, False)
    assert got[2][1] is False
    assert got[3] == ("POINT (1 2)", True, False)


# ----------------------------------------------------------- JDBC sink (S5/S6)
def test_jdbc_bulk_and_row_sinks_roundtrip(spark, tmp_path):
    """Exercise df.write.jdbc for real against embedded Derby (the JDBC
    driver available in this env); reference: PostgresBackend.scala:20-58."""
    from augdiff_pipeline_spark.sources.jdbc import read_jdbc, write_jdbc_bulk, write_jdbc_rows

    url = f"jdbc:derby:{tmp_path}/edges_db;create=true"
    df = spark.createDataFrame(
        [(i, i * 7 % 13) for i in range(50)], "a bigint, b bigint"
    )
    write_jdbc_bulk(df, url, "edges")
    write_jdbc_rows(spark.createDataFrame([(100, 1)], "a bigint, b bigint"), url, "edges")
    back = read_jdbc(spark, url, "edges")
    assert back.count() == 51
    want = {(i, i * 7 % 13) for i in range(50)} | {(100, 1)}
    assert {(r["a"], r["b"]) for r in back.collect()} == want


# ----------------------------------------------- F15/F16 direct unit tests
def test_compress_member_types(spark):
    df = spark.createDataFrame(
        [
            (
                1,
                [
                    {"type": "node", "ref": 10, "role": "stop"},
                    {"type": "way", "ref": 20, "role": "outer"},
                    {"type": "relation", "ref": 30, "role": ""},
                ],
            )
        ],
        "id long, members array<struct<type string, ref long, role string>>",
    )
    out = df.select(
        osm_tags.compress_member_types(F.col("members")).alias("m")
    ).first()["m"]
    assert [(m["type"], m["ref"], m["role"]) for m in out] == [
        (1, 10, "stop"),
        (2, 20, "outer"),
        (3, 30, ""),
    ]


def test_merge_tags_right_biased(spark):
    df = spark.createDataFrame(
        [(1, {"a": "1", "b": "2"}, {"b": "9", "c": "3"})],
        "id long, l map<string,string>, r map<string,string>",
    )
    out = df.select(osm_tags.merge_tags(F.col("l"), F.col("r")).alias("m")).first()["m"]
    # scala `left ++ right` semantics: right wins on collision
    assert dict(out) == {"a": "1", "b": "9", "c": "3"}
    # empty sides
    df2 = spark.createDataFrame(
        [(1, {}, {"x": "1"})], "id long, l map<string,string>, r map<string,string>"
    )
    assert dict(df2.select(osm_tags.merge_tags(F.col("l"), F.col("r")).alias("m")).first()["m"]) == {"x": "1"}
