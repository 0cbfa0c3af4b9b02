"""Test-only oracle: naive driver-side reimplementation of the reference
augmented-diff algorithm (RowsToJson.scala + ComputeIndexLocal.scala),
in plain Python dicts/lists, used to golden-check the distributed engine.

Independent of the engine's history, render and closure code
(operators/history.py, operators/render.py, operators/closure.py);
shares only the geometry assembly kernel, which has its own unit tests.
"""

from __future__ import annotations

import pandas as pd

from augdiff_pipeline_spark.functions.osm_tags import is_area_py, is_multipolygon_py
from augdiff_pipeline_spark.functions.packing import pair_to_long_py
from augdiff_pipeline_spark.geometry import assembly, core

# fixture row tuple indices (schemas.OSM_SCHEMA order)
P, ID, TYPE, TAGS, LAT, LON, NDS, MEMBERS, CHANGESET, TS, UID, USER, VERSION, VISIBLE = range(14)


# ------------------------------------------------------------------- closure
def edges_from_rows(rows):
    edges = set()
    for r in rows:
        b = pair_to_long_py(r[ID], r[TYPE])
        if r[TYPE] == "node":
            edges.add((b, b))
        elif r[TYPE] == "way":
            for (ref,) in r[NDS]:
                edges.add((pair_to_long_py(ref, "node"), b))
        else:
            for (mt, ref, _role) in r[MEMBERS]:
                edges.add((pair_to_long_py(ref, mt), b))
    return edges


def close_edges(edges):
    graph: dict[int, set[int]] = {}
    for a, b in edges:
        graph.setdefault(a, set()).add(b)
    changed = True
    while changed:
        changed = False
        for a, deps in graph.items():
            for b in list(deps):
                if b in graph and not graph[b] <= deps:
                    deps |= graph[b]
                    changed = True
    return {(a, b) for a, deps in graph.items() for b in deps}


def incremental_closure(index: set, batch_rows):
    row_edges = edges_from_rows(batch_rows)
    bs = {b for _a, b in row_edges}
    containers = {b for a, b in index if a in bs}
    existing = {(a, b) for a, b in index if b in containers}
    closed = close_edges(row_edges | existing)
    all_edges = {(a, b) for a, b in closed}
    new_edges = {(a, b) for a, b in all_edges if a != b} - existing
    return new_edges, all_edges


def needed_pairs(batch_rows, all_edges):
    pairs = {(r[ID], r[TYPE]) for r in batch_rows}
    for a, b in all_edges:
        pairs.add((a >> 2, ["node", "way", "relation"][a & 3]))
        pairs.add((b >> 2, ["node", "way", "relation"][b & 3]))
    return pairs


# ----------------------------------------------------------------- histories
def _histories(rows, etype, complete_p, window_p, before_p):
    by_id: dict[int, list] = {}
    for r in rows:
        if r[TYPE] == etype:
            by_id.setdefault(r[ID], []).append(r)
    out = {}
    for eid, rs in by_id.items():
        rs = sorted(rs, key=lambda r: r[TS], reverse=True)
        in_w = next((r for r in rs if complete_p(r) and window_p(r)), None)
        before = next((r for r in rs if complete_p(r) and before_p(r)), None)
        out[eid] = (in_w, before)
    return out


def augment_batch(state_rows, batch_rows, index: set):
    """Returns (features, new_edges, all_rows) for one batch against the
    prior state + closure index."""
    new_edges, all_edges = incremental_closure(index, batch_rows)
    pairs = needed_pairs(batch_rows, all_edges)

    batch_keys = {(r[ID], r[TYPE], r[VERSION]) for r in batch_rows}
    fetched = [
        r
        for r in state_rows
        if (r[ID], r[TYPE]) in pairs and (r[ID], r[TYPE], r[VERSION]) not in batch_keys
    ]
    all_rows = list(batch_rows) + fetched
    in_batch = {(r[ID], r[TYPE], r[VERSION]) for r in batch_rows}

    def row_in_batch(r):
        return (r[ID], r[TYPE], r[VERSION]) in in_batch

    nodes = _histories(all_rows, "node", lambda r: True, row_in_batch, lambda r: not row_in_batch(r))
    node_ids = set(nodes)

    def way_complete(r):
        return all(ref in node_ids for (ref,) in r[NDS])

    def way_window(r):
        if row_in_batch(r):
            return True
        return any(nodes.get(ref, (None, None))[0] is not None for (ref,) in r[NDS])

    def way_before(r):
        if row_in_batch(r):
            return False
        return all(nodes.get(ref, (None, None))[1] is not None for (ref,) in r[NDS])

    ways = _histories(all_rows, "way", way_complete, way_window, way_before)
    way_ids = set(ways)

    rel_rows = [r for r in all_rows if r[TYPE] == "relation"]
    rel_ids = {r[ID] for r in rel_rows}
    latest_rel = {}
    for r in sorted(rel_rows, key=lambda r: r[TS]):
        latest_rel[r[ID]] = r  # ascending: last write = latest

    def rel_complete(r):
        for (mt, ref, _role) in r[MEMBERS]:
            ok = ref in (node_ids if mt == "node" else way_ids if mt == "way" else rel_ids)
            if not ok:
                return False
        return True

    def rel_window(r, seen=None):
        if row_in_batch(r):
            return True
        seen = seen or set()
        for (mt, ref, _role) in r[MEMBERS]:
            if mt == "node" and nodes.get(ref, (None, None))[0] is not None:
                return True
            if mt == "way" and ways.get(ref, (None, None))[0] is not None:
                return True
            if mt == "relation" and ref in latest_rel and ref not in seen:
                if rel_window(latest_rel[ref], seen | {r[ID]}):
                    return True
        return False

    def rel_before(r, seen=None):
        if row_in_batch(r):
            return False
        seen = seen or set()
        for (mt, ref, _role) in r[MEMBERS]:
            if mt == "node" and nodes.get(ref, (None, None))[1] is None:
                return False
            if mt == "way" and ways.get(ref, (None, None))[1] is None:
                return False
            if mt == "relation" and ref in latest_rel and ref not in seen:
                if not rel_before(latest_rel[ref], seen | {r[ID]}):
                    return False
        return True

    rels = _histories(all_rows, "relation", rel_complete, rel_window, rel_before)

    # ------------------------------------------------------------ rendering
    def resolve(hist_entry, after_mode):
        in_w, before = hist_entry
        if after_mode:
            return in_w if in_w is not None else before
        return before

    def get_geometry(r, after_mode):
        if r[TYPE] == "node":
            return core.Point(float(r[LON]), float(r[LAT]))
        if r[TYPE] == "way":
            pts = []
            for (ref,) in r[NDS]:
                nr = resolve(nodes[ref], after_mode)
                pts.append((float(nr[LON]), float(nr[LAT])))
            import numpy as np

            coords = np.array(pts, dtype=float)
            closed = len(coords) >= 2 and (coords[0] == coords[-1]).all()
            if is_area_py(r[TAGS]) and closed and len(coords) >= 4:
                return core.Polygon((coords,))
            return core.LineString(coords)
        # relation
        roles, types, geoms = [], [], []
        for (mt, ref, role) in r[MEMBERS]:
            hist = nodes if mt == "node" else ways if mt == "way" else rels
            if ref not in hist:
                continue
            mr = resolve(hist[ref], after_mode)
            if mr is None:
                continue
            roles.append(role)
            types.append(mt)
            geoms.append(get_geometry(mr, after_mode))
        if is_multipolygon_py(r[TAGS]):
            g = assembly.build_multipolygon(roles, geoms, types)
            return g if g is not None else core.GeometryCollection(tuple(geoms))
        if geoms and all(isinstance(g, (core.LineString, core.MultiLineString)) for g in geoms):
            return assembly.build_multiline(geoms) or core.GeometryCollection(tuple(geoms))
        return core.GeometryCollection(tuple(geoms))

    def props(r, visible_override=None):
        return {
            "id": r[ID],
            "type": r[TYPE],
            "tags": dict(r[TAGS]) if r[TAGS] is not None else {},
            "changeset": r[CHANGESET],
            "timestamp": pd.Timestamp(r[TS]).strftime("%Y-%m-%dT%H:%M:%SZ"),
            "uid": r[UID],
            "user": r[USER],
            "version": r[VERSION],
            "visible": r[VISIBLE] if visible_override is None else visible_override,
        }

    features = []
    for hist in (nodes, ways, rels):
        for eid, (in_w, before) in sorted(hist.items()):
            if in_w is None:
                continue
            visible_now = bool(in_w[VISIBLE])
            if before is None:  # create
                if visible_now:
                    features.append(
                        {
                            "type": "Feature",
                            "geometry": core.to_geojson_dict(get_geometry(in_w, True)),
                            "properties": props(in_w),
                        }
                    )
            elif visible_now:  # modify
                features.append(
                    {
                        "type": "Feature",
                        "geometry": core.to_geojson_dict(get_geometry(in_w, True)),
                        "properties": props(in_w),
                    }
                )
                features.append(
                    {
                        "type": "Feature",
                        "geometry": core.to_geojson_dict(get_geometry(before, False)),
                        "properties": props(before, visible_override=False),
                    }
                )
            else:  # delete
                features.append(
                    {
                        "type": "Feature",
                        "geometry": core.to_geojson_dict(get_geometry(before, False)),
                        "properties": props(before, visible_override=False),
                    }
                )
    return features, new_edges, all_rows


def run_sequence(base_rows, batches: dict[int, list]):
    """Replay all batches; returns per-seq features and the final index."""
    state = list(base_rows)
    index: set = set()
    # initial index = closure over the base state (what the Indexer builds)
    index = {(a, b) for a, b in close_edges(edges_from_rows(base_rows)) if a != b}
    out = {}
    for seq in sorted(batches):
        feats, new_edges, _ = augment_batch(state, batches[seq], index)
        index |= new_edges
        state.extend(batches[seq])
        out[seq] = feats
    return out, index
