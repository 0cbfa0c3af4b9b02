"""Geometry rendering: entity histories → before/after geometry →
GeoJSON feature lines.

Implements the reference's getGeometry / emission state machine
(reference ad/src/main/scala/RowsToJson.scala:272-383) over the
{id: (in_row, before_row)} dicts of ``history.all_histories``:

- two render modes per entity id: "after" (in-window row, member lookups
  fall back in→before — RowsToJson:277-283) and "before" (before-window
  row, before-only lookups);
- ways: a Line, or a Polygon when the way isArea and closed
  (RowsToJson:294);
- relations: bounded rounds over the membership DAG — round k assembles
  every relation whose relation-members were assembled in rounds < k;
  buildMultiPolygon for type=multipolygon tags, MultiLine when every
  member geometry is a line, else GeometryCollection
  (RowsToJson:329-345); unresolved members are dropped from roles/types
  *and* geoms in lockstep (the reference zips full-length role arrays
  with resolved-only wkb arrays, silently misaligning when a member is
  unresolvable — on such inputs its assembly generally fails to
  GeometryCollection; we keep the arrays aligned);
- emission (RowsToJson:353-383): create → 1 visible feature; modify →
  after-feature + invisible before-feature; delete → invisible
  before-feature only.

``feature_lines_py`` serves both batch routes of plans/augdiff.py.  The
DataFrame kernels ``node_points``/``way_wkbs``/``relation_wkbs`` render
current entity rows for the polygon layer (plans/polygon_layer.py); they
share the per-entity ``way_wkb``/``relation_wkb`` with the batch render.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.osm_tags import is_area_py, is_multipolygon_py
from ..geometry import assembly, core, wkb
from .history import MAX_REL_DEPTH


# ------------------------------------------------------- per-entity kernels
# Plain functions over one entity: the batch render (feature_lines_py)
# and the polygon layer's mapInPandas kernels both call them.
def way_wkb(tags, xs, ys) -> bytes | None:
    """One way's WKB from its node coordinates in nd order: a Polygon
    when the way is an area and closed, else a LineString; None when it
    has no nodes or any node coordinate is missing."""
    x = np.array(xs, dtype=np.float64)
    y = np.array(ys, dtype=np.float64)
    if len(x) == 0 or np.isnan(x).any() or np.isnan(y).any():
        return None
    coords = np.stack([x, y], axis=1)
    closed = len(coords) >= 2 and (coords[0] == coords[-1]).all()
    tags_d = dict(tags) if tags is not None else {}
    if is_area_py(tags_d) and closed and len(coords) >= 4:
        geom: core.Geometry = core.Polygon((coords,))
    else:
        geom = core.LineString(coords)
    return wkb.dumps(geom)


def _way_pts_wkb(tags, pts) -> bytes | None:
    return way_wkb(tags, [p["x"] for p in pts], [p["y"] for p in pts])


def relation_wkb(tags, ms) -> bytes:
    """One relation's WKB from its members in member order.  Each item
    of ``ms`` carries mtype, role and the member's geometry source: x/y
    for a node, way_wkb for a way, rel_wkb for a relation (None when
    unresolved — the member is then dropped from roles, types and geoms
    in lockstep)."""
    roles, types, geoms = [], [], []
    for m in ms:
        g: core.Geometry | None = None
        if m["mtype"] == "node" and m["x"] is not None and not pd.isna(m["x"]):
            g = core.Point(float(m["x"]), float(m["y"]))
        elif m["mtype"] == "way" and m["way_wkb"] is not None:
            g = wkb.loads(bytes(m["way_wkb"]))
        elif m["mtype"] == "relation" and m["rel_wkb"] is not None:
            g = wkb.loads(bytes(m["rel_wkb"]))
        if g is None:
            continue
        roles.append(m["role"])
        types.append(m["mtype"])
        geoms.append(g)
    tags_d = dict(tags) if tags is not None else {}
    geom: core.Geometry | None
    if is_multipolygon_py(tags_d):
        geom = assembly.build_multipolygon(roles, geoms, types)
        if geom is None:
            geom = core.GeometryCollection(tuple(geoms))
    elif geoms and all(isinstance(g, (core.LineString, core.MultiLineString)) for g in geoms):
        geom = assembly.build_multiline(geoms) or core.GeometryCollection(tuple(geoms))
    else:
        geom = core.GeometryCollection(tuple(geoms))
    return wkb.dumps(geom)


def feature_line(gwkb, row, visible_override) -> str:
    """One GeoJSON feature line: ``row``'s metadata, ``gwkb``'s geometry,
    ``visible`` forced when ``visible_override`` is not None."""
    return json.dumps(
        {
            "type": "Feature",
            "geometry": core.to_geojson_dict(wkb.loads(bytes(gwkb))),
            "properties": _props(row, visible_override),
        },
        ensure_ascii=False,
        separators=(",", ":"),
    )


def _props(row, visible_override) -> dict:
    ts = row["timestamp"]
    iso = pd.Timestamp(ts).strftime("%Y-%m-%dT%H:%M:%SZ")
    return {
        "id": int(row["id"]),
        "type": row["type"],
        "tags": dict(row["tags"]) if row["tags"] is not None else {},
        "changeset": int(row["changeset"]) if row["changeset"] is not None else None,
        "timestamp": iso,
        "uid": int(row["uid"]) if row["uid"] is not None else None,
        "user": row["user"],
        "version": int(row["version"]),
        "visible": bool(row["visible"]) if visible_override is None else bool(visible_override),
    }


def node_points(nodes: DataFrame) -> DataFrame:
    """(id, x, y) of node rows."""
    return nodes.select(
        "id", F.col("lon").cast("double").alias("x"), F.col("lat").cast("double").alias("y")
    )


def way_wkbs(ways: DataFrame, node_pts: DataFrame) -> DataFrame:
    """(id, wkb) of way rows, node coordinates from ``node_pts``."""
    exploded = ways.select(
        "id", "tags", F.posexplode("nds").alias("pos", "nd")
    ).join(
        F.broadcast(node_pts.withColumnRenamed("id", "nid")),
        F.col("nd.ref") == F.col("nid"),
        "left",
    )
    agg = exploded.groupBy("id").agg(
        F.sort_array(F.collect_list(F.struct("pos", "x", "y"))).alias("pts"),
        F.first("tags").alias("tags"),
    )

    def kernel(it):
        for pdf in it:
            yield pd.DataFrame({
                "id": pdf["id"],
                "wkb": [_way_pts_wkb(tags, pts) for pts, tags in zip(pdf["pts"], pdf["tags"])],
            })

    return agg.mapInPandas(kernel, "id long, wkb binary")


def relation_wkbs(rels: DataFrame, node_pts: DataFrame, way_wkb: DataFrame) -> DataFrame:
    """(id, wkb) of relation rows — at most MAX_REL_DEPTH rounds over
    the relation-membership DAG."""
    members = rels.select(
        "id", "tags", F.posexplode("members").alias("pos", "m")
    ).select(
        "id", "tags", "pos",
        F.col("m.type").alias("mtype"),
        F.col("m.ref").alias("mid"),
        F.col("m.role").alias("role"),
    )
    # node/way member geometries are immediately available
    node_wkb_df = node_pts.withColumnRenamed("id", "mid")
    renderable_rel = rels.select(F.col("id").alias("mid")).withColumn("r_ok", F.lit(True))

    base = (
        members.join(
            F.broadcast(node_wkb_df), (F.col("mtype") == "node") & (members["mid"] == node_wkb_df["mid"]), "left"
        )
        .drop(node_wkb_df["mid"])
        .join(
            F.broadcast(way_wkb.select(F.col("id").alias("wmid"), F.col("wkb").alias("way_wkb"))),
            (F.col("mtype") == "way") & (F.col("mid") == F.col("wmid")),
            "left",
        )
        .drop("wmid")
        .join(
            F.broadcast(renderable_rel),
            (F.col("mtype") == "relation") & (members["mid"] == renderable_rel["mid"]),
            "left",
        )
        .drop(renderable_rel["mid"])
        .withColumn("rel_pending", F.coalesce(F.col("r_ok"), F.lit(False)))
        .localCheckpoint(eager=True)
    )

    done: DataFrame | None = None
    pending = base
    for _ in range(MAX_REL_DEPTH):
        if pending.isEmpty():
            break
        if done is not None:
            pending = (
                pending.drop("rel_wkb") if "rel_wkb" in pending.columns else pending
            ).join(
                F.broadcast(done.select(F.col("id").alias("dmid"), F.col("wkb").alias("rel_wkb"))),
                (F.col("mtype") == "relation") & (F.col("mid") == F.col("dmid")),
                "left",
            ).drop("dmid")
        else:
            pending = pending.withColumn("rel_wkb", F.lit(None).cast("binary"))
        undecided = F.col("rel_pending") & F.col("rel_wkb").isNull()
        blocked_ids = pending.filter(undecided).select("id").distinct()
        ready = pending.join(F.broadcast(blocked_ids), "id", "left_anti")
        still = pending.join(F.broadcast(blocked_ids), "id", "left_semi").localCheckpoint(eager=True)

        assembled = _assemble_relations(ready)
        done = assembled if done is None else done.unionByName(assembled)
        done = done.localCheckpoint(eager=True)
        pending = still
    if done is not None and not pending.isEmpty():
        # cycles / depth overflow: assemble with unresolved members dropped
        leftover = _assemble_relations(pending)
        done = done.unionByName(leftover).localCheckpoint(eager=True)
    elif done is None:
        done = _assemble_relations(pending)
    return done


def _assemble_relations(members: DataFrame) -> DataFrame:
    if "rel_wkb" not in members.columns:
        members = members.withColumn("rel_wkb", F.lit(None).cast("binary"))
    agg = members.groupBy("id").agg(
        F.first("tags").alias("tags"),
        F.sort_array(
            F.collect_list(F.struct("pos", "mtype", "role", "x", "y", "way_wkb", "rel_wkb"))
        ).alias("ms"),
    )

    def kernel(it):
        for pdf in it:
            yield pd.DataFrame({
                "id": pdf["id"],
                "wkb": [relation_wkb(tags, ms) for tags, ms in zip(pdf["tags"], pdf["ms"])],
            })

    return agg.mapInPandas(kernel, "id long, wkb binary")


# -------------------------------------------------------------- batch render
# Per-mode geometry and feature lines over the {id: (in_row, before_row)}
# dicts that history.all_histories returns.
def _mode_row(hist_entry, mode: str):
    in_row, before_row = hist_entry
    if mode == "after":
        return in_row if in_row is not None else before_row
    return before_row


def _xy(row) -> tuple:
    """(lon, lat) as doubles, None where the row or the value is null."""
    if row is None:
        return None, None
    return tuple(None if row[c] is None else float(row[c]) for c in ("lon", "lat"))


def _relation_wkbs_py(rel_hist: dict, mode: str, node_xy: dict, way_w: dict) -> dict:
    """{id: wkb} of the relations renderable in ``mode``, in at most
    MAX_REL_DEPTH rounds: a relation waits while a renderable member
    relation is unassembled, and the leftovers (cycles, depth overflow)
    are assembled with the member geometries known at the start of the
    last round."""
    rows = {rid: r for rid, h in rel_hist.items() if (r := _mode_row(h, mode)) is not None}

    def members(r, rel_w):
        ms = []
        for m in r["members"]:
            mtype, ref = (m["type"], m["ref"]) if m is not None else (None, None)
            x, y = node_xy.get(ref, (None, None)) if mtype == "node" else (None, None)
            ms.append({
                "mtype": mtype, "role": None if m is None else m["role"], "x": x, "y": y,
                "way_wkb": way_w.get(ref) if mtype == "way" else None,
                "rel_wkb": rel_w.get(ref) if mtype == "relation" else None,
            })
        return ms

    def blocked(r, rel_w):
        return any(
            m is not None and m["type"] == "relation" and m["ref"] in rows
            and m["ref"] not in rel_w
            for m in r["members"]
        )

    # a relation without members has no member rows to assemble from
    pending = {rid: r for rid, r in rows.items() if r["members"]}
    done: dict = {}
    seen: dict = {}
    for _ in range(MAX_REL_DEPTH):
        if not pending:
            break
        seen = dict(done)
        waiting = {}
        for rid, r in pending.items():
            if blocked(r, seen):
                waiting[rid] = r
            else:
                done[rid] = relation_wkb(r["tags"], members(r, seen))
        pending = waiting
    for rid, r in pending.items():
        done[rid] = relation_wkb(r["tags"], members(r, seen))
    return done


def feature_lines_py(node_hist: dict, way_hist: dict, rel_hist: dict) -> list[tuple]:
    """(etype, id, sub, line) for the scope's features in sink order
    (node/way/relation, then id, then sub: 0 for the after-line, 1 for
    the before-line)."""
    mode_wkbs = {}
    for mode in ("after", "before"):
        node_xy = {nid: _xy(_mode_row(h, mode)) for nid, h in node_hist.items()}
        node_w = {
            nid: wkb.dumps(core.Point(float(x), float(y)))
            for nid, (x, y) in node_xy.items()
            if x is not None
        }
        way_w = {}
        for wid, h in way_hist.items():
            r = _mode_row(h, mode)
            if r is None or not r["nds"]:
                continue
            pts = [node_xy.get(None if nd is None else nd["ref"], (None, None)) for nd in r["nds"]]
            way_w[wid] = way_wkb(r["tags"], [p[0] for p in pts], [p[1] for p in pts])
        rel_w = _relation_wkbs_py(rel_hist, mode, node_xy, way_w)
        mode_wkbs[mode] = (node_w, way_w, rel_w)

    lines = []
    for i, (etype, hist) in enumerate((("node", node_hist), ("way", way_hist), ("relation", rel_hist))):
        after_w, before_w = mode_wkbs["after"][i], mode_wkbs["before"][i]
        for eid in sorted(hist):
            in_row, before_row = hist[eid]
            if in_row is None:
                continue
            # create/modify → visible after-line; modify/delete → invisible before-line
            if in_row["visible"] and after_w.get(eid) is not None:
                lines.append((etype, eid, 0, feature_line(after_w[eid], in_row, None)))
            if before_row is not None and before_w.get(eid) is not None:
                lines.append((etype, eid, 1, feature_line(before_w[eid], before_row, False)))
    return lines
