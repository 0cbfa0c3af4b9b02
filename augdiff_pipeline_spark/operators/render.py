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

``mode_geoms`` is the one geometry builder: ``feature_lines_py`` calls
it for both modes on both batch routes of plans/augdiff.py, and the
polygon layer (plans/polygon_layer.py) calls it in "after" mode over
the latest visible rows.  Callers pass scopes closed under membership,
so every entity renders as it would over the whole state.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd

from ..functions.osm_tags import is_area_py, is_multipolygon_py
from ..geometry import assembly, core, wkb
from .history import MAX_REL_DEPTH


# ------------------------------------------------------- per-entity kernels
# Plain functions over one entity.
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


def relation_wkb(tags, members) -> bytes:
    """One relation's WKB from (mtype, role, geometry) per member in
    member order; a member whose geometry is None is unresolved and is
    dropped from roles, types and geoms in lockstep."""
    resolved = [(t, role, g) for t, role, g in members if g is not None]
    types = [t for t, _, _ in resolved]
    roles = [role for _, role, _ in resolved]
    geoms = [g for _, _, g in resolved]
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


# ---------------------------------------------------------- per-mode render
# Per-mode geometry and feature lines over {id: (in_row, before_row)}
# dicts: history.all_histories' for a batch, {id: (row, None)} of the
# latest visible rows for the polygon layer.
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


def _relation_geoms(rel_hist: dict, mode: str, node_xy: dict, way_w: dict) -> dict:
    """{id: wkb} of the relations renderable in ``mode``, in at most
    MAX_REL_DEPTH rounds: a relation waits while a renderable member
    relation is unassembled, and the leftovers (cycles, depth overflow)
    are assembled with the member geometries known at the start of the
    last round."""
    rows = {rid: r for rid, h in rel_hist.items() if (r := _mode_row(h, mode)) is not None}

    def geom(m, rel_w):
        if m["type"] == "node":
            x, y = node_xy.get(m["ref"], (None, None))
            return None if x is None else core.Point(x, y)
        w = (way_w if m["type"] == "way" else rel_w if m["type"] == "relation" else {}).get(m["ref"])
        return None if w is None else wkb.loads(w)

    def assemble(r, rel_w):
        return relation_wkb(r["tags"], [
            (m["type"], m["role"], geom(m, rel_w)) for m in r["members"] if m is not None
        ])

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
                done[rid] = assemble(r, seen)
        pending = waiting
    for rid, r in pending.items():
        done[rid] = assemble(r, seen)
    return done


def mode_geoms(node_hist: dict, way_hist: dict, rel_hist: dict, mode: str) -> tuple:
    """(node_xy, way_w, rel_w) in ``mode``: {id: (lon, lat)} of every
    node, {id: wkb or None} of the ways with nds, {id: wkb} of the
    relations with members."""
    node_xy = {nid: _xy(_mode_row(h, mode)) for nid, h in node_hist.items()}
    way_w = {}
    for wid, h in way_hist.items():
        r = _mode_row(h, mode)
        if r is None or not r["nds"]:
            continue
        pts = [node_xy.get(None if nd is None else nd["ref"], (None, None)) for nd in r["nds"]]
        way_w[wid] = way_wkb(r["tags"], [p[0] for p in pts], [p[1] for p in pts])
    return node_xy, way_w, _relation_geoms(rel_hist, mode, node_xy, way_w)


def feature_lines_py(node_hist: dict, way_hist: dict, rel_hist: dict) -> list[tuple]:
    """(etype, id, sub, line) for the scope's features in sink order
    (node/way/relation, then id, then sub: 0 for the after-line, 1 for
    the before-line)."""
    mode_wkbs = {}
    for mode in ("after", "before"):
        node_xy, way_w, rel_w = mode_geoms(node_hist, way_hist, rel_hist, mode)
        node_w = {nid: wkb.dumps(core.Point(x, y)) for nid, (x, y) in node_xy.items() if x is not None}
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
