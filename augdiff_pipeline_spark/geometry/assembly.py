"""Relation geometry assembly — reference-parity semantics, numpy inside.

Re-implements (from observed behavior, no code copied) the assembly
kernels of /root/reference/ingest/src/main/scala/osmesa/functions/osm/package.scala:

- ``form_rings``     (:402-431): greedy endpoint chaining of open segments
  into closed rings; the head segment extends by a segment whose *start*
  matches its end, else by a *reversed* segment whose end matches; raises
  AssemblyError when no continuation exists.
- ``connect_segments`` (:434-459): same chaining but unmatched chains are
  emitted as open lines instead of failing.
- ``build_multipolygon`` (:471-553): members with roles outer/inner/""
  (others dropped); closed lines with >=4 vertices become rings directly;
  open segments are ring-formed sorted by vertex count desc; rings are
  re-classified by containment-count parity over the area-desc order
  (even = outer, odd = inner); inners are allocated once each to the
  largest containing outer; missing way geometry or failed assembly
  returns None (caller falls back to GeometryCollection, matching
  RowsToJson.scala:333-336).

- ``dissolve_rings`` (:461-468, the JTS unaryUnion analog): overlapping
  outer rings are unioned by planar even-odd re-polygonization — split
  every edge at pairwise intersections, keep the sub-edges whose midpoint
  is outside every OTHER ring, stitch kept directed edges back into
  rings.  Inputs are normalized CCW, so output orientation classifies
  the result: positive shoelace = union exterior, negative = union hole
  (two overlapping C-shapes correctly produce a donut).  Collinear
  shared boundaries between distinct rings remain out of scope: the
  stitch raises AssemblyError → the None/GeometryCollection fallback
  (strictly more conservative than the reference, identical on
  well-formed input).
"""

from __future__ import annotations

import numpy as np

from .core import (
    GeometryCollection,
    LineString,
    MultiLineString,
    MultiPolygon,
    Polygon,
    Geometry,
    bbox,
    is_closed,
    points_in_polygon,
    points_in_ring,
    polygon_contains_ring,
    ring_area,
)


class AssemblyError(Exception):
    pass


def form_rings(segments: list[np.ndarray]) -> list[np.ndarray]:
    """Chain open segments into closed rings (exact-equality endpoints)."""
    segs = [np.asarray(s, dtype=np.float64) for s in segments]
    rings: list[np.ndarray] = []
    while segs:
        head = segs.pop(0)
        if is_closed(head):
            rings.append(head)
            continue
        ex, ey = head[-1, 0], head[-1, 1]
        nxt_i = None
        reverse = False
        for i, s in enumerate(segs):
            if s[0, 0] == ex and s[0, 1] == ey:
                nxt_i, reverse = i, False
                break
        if nxt_i is None:
            for i, s in enumerate(segs):
                if s[-1, 0] == ex and s[-1, 1] == ey:
                    nxt_i, reverse = i, True
                    break
        if nxt_i is None:
            raise AssemblyError("Unable to connect segments.")
        nxt = segs.pop(nxt_i)
        if reverse:
            nxt = nxt[::-1]
        segs.insert(0, np.concatenate([head, nxt[1:]], axis=0))
    return rings


def connect_segments(segments: list[np.ndarray]) -> list[np.ndarray]:
    """Chain segments; unmatched chains become open lines (no failure)."""
    segs = [np.asarray(s, dtype=np.float64) for s in segments]
    lines: list[np.ndarray] = []
    while segs:
        head = segs.pop(0)
        ex, ey = head[-1, 0], head[-1, 1]
        nxt_i = None
        reverse = False
        for i, s in enumerate(segs):
            if s[0, 0] == ex and s[0, 1] == ey:
                nxt_i, reverse = i, False
                break
        if nxt_i is None:
            for i, s in enumerate(segs):
                if s[-1, 0] == ex and s[-1, 1] == ey:
                    nxt_i, reverse = i, True
                    break
        if nxt_i is None:
            lines.append(head)
            continue
        nxt = segs.pop(nxt_i)
        if reverse:
            nxt = nxt[::-1]
        segs.insert(0, np.concatenate([head, nxt[1:]], axis=0))
    return lines


def _rings_overlap(a: np.ndarray, b: np.ndarray) -> bool:
    """Partial-overlap detection: some-but-not-all vertices of one ring
    inside the other (proper containment and disjointness are fine)."""
    pa = Polygon((a,))
    pb = Polygon((b,))
    in_b = points_in_polygon(a[:, 0], a[:, 1], pb)
    in_a = points_in_polygon(b[:, 0], b[:, 1], pa)
    return bool((in_b.any() and not in_b.all()) or (in_a.any() and not in_a.all()))


def _seg_intersections(e1: np.ndarray, e2: np.ndarray):
    """Split points between edge sets (n1,2,2) and (n2,2,2).

    Returns (splits1, splits2): edge index → [(param, point)].  Crossing
    pairs contribute ONE shared point to both sides, so both rings split
    at the IDENTICAL float coordinate (exact endpoint matching
    downstream).  Collinear-overlapping pairs split each edge at the
    other edge's endpoints (again exact vertex coordinates)."""
    p = e1[:, 0][:, None]                     # (n1,1,2)
    r = (e1[:, 1] - e1[:, 0])[:, None]
    q = e2[:, 0][None]                        # (1,n2,2)
    s = (e2[:, 1] - e2[:, 0])[None]
    denom = r[..., 0] * s[..., 1] - r[..., 1] * s[..., 0]
    qp = q - p
    with np.errstate(divide="ignore", invalid="ignore"):
        t = (qp[..., 0] * s[..., 1] - qp[..., 1] * s[..., 0]) / denom
        u = (qp[..., 0] * r[..., 1] - qp[..., 1] * r[..., 0]) / denom
    splits1: dict[int, list[tuple[float, np.ndarray]]] = {}
    splits2: dict[int, list[tuple[float, np.ndarray]]] = {}
    hit = (denom != 0) & (t >= 0) & (t <= 1) & (u >= 0) & (u <= 1)
    for i, j in zip(*np.nonzero(hit)):
        pt = e1[i, 0] + t[i, j] * (e1[i, 1] - e1[i, 0])
        splits1.setdefault(int(i), []).append((float(t[i, j]), pt))
        splits2.setdefault(int(j), []).append((float(u[i, j]), pt))
    # collinear overlaps: parallel AND the offset vector is parallel too
    cross_qp_r = qp[..., 0] * r[..., 1] - qp[..., 1] * r[..., 0]
    coll = (denom == 0) & (cross_qp_r == 0)
    for i, j in zip(*np.nonzero(coll)):
        a0, a1 = e1[i, 0], e1[i, 1]
        b0, b1 = e2[j, 0], e2[j, 1]
        da = a1 - a0
        la = float(da @ da)
        if la == 0.0:
            continue
        # do the spans overlap at all?
        ta0 = float((b0 - a0) @ da) / la
        ta1 = float((b1 - a0) @ da) / la
        if max(ta0, ta1) <= 0.0 or min(ta0, ta1) >= 1.0:
            continue
        for tv, pt in ((ta0, b0), (ta1, b1)):
            if 0.0 < tv < 1.0:
                splits1.setdefault(int(i), []).append((tv, pt))
        db = b1 - b0
        lb = float(db @ db)
        if lb == 0.0:
            continue
        for pt in (a0, a1):
            uv = float((pt - b0) @ db) / lb
            if 0.0 < uv < 1.0:
                splits2.setdefault(int(j), []).append((uv, pt))
    return splits1, splits2


def _point_on_ring(mx: float, my: float, ring: np.ndarray) -> bool:
    """True if (mx,my) lies on a ring edge (collinear + within span)."""
    x0, y0 = ring[:-1, 0], ring[:-1, 1]
    x1, y1 = ring[1:, 0], ring[1:, 1]
    cross = (x1 - x0) * (my - y0) - (y1 - y0) * (mx - x0)
    dot = (mx - x0) * (x1 - x0) + (my - y0) * (y1 - y0)
    ll = (x1 - x0) ** 2 + (y1 - y0) ** 2
    return bool(((cross == 0) & (dot >= 0) & (dot <= ll) & (ll > 0)).any())


def dissolve_rings(rings: list[np.ndarray]) -> list[np.ndarray]:
    """Even-odd union of overlapping simple rings (JTS unaryUnion analog,
    reference osm/package.scala:461-468).  Returns the union boundary as
    rings: CCW = exterior, CW = hole."""
    rings = [r if ring_area(r) > 0 else r[::-1].copy() for r in rings]
    nr = len(rings)
    edges = [np.stack([r[:-1], r[1:]], axis=1) for r in rings]

    # 1. split every edge at its intersections with edges of other rings
    splits: dict[tuple[int, int], list[tuple[float, np.ndarray]]] = {}
    for i in range(nr):
        for j in range(i + 1, nr):
            s1, s2 = _seg_intersections(edges[i], edges[j])
            for ei, lst in s1.items():
                splits.setdefault((i, ei), []).extend(lst)
            for ej, lst in s2.items():
                splits.setdefault((j, ej), []).extend(lst)

    sub: list[tuple[int, np.ndarray, np.ndarray]] = []
    for ri, e in enumerate(edges):
        for ei in range(len(e)):
            pts = [(0.0, e[ei, 0]), (1.0, e[ei, 1])] + splits.get((ri, ei), [])
            pts.sort(key=lambda z: z[0])
            for (_, a), (_, b) in zip(pts, pts[1:]):
                if a[0] == b[0] and a[1] == b[1]:
                    continue  # zero-length (split at an endpoint)
                sub.append((ri, a, b))

    # 2. keep sub-edges whose midpoint is strictly outside every OTHER
    # ring.  Midpoints ON another ring's boundary (collinear shared
    # segments) survive to step 2b, where direction decides.
    survivors: list[tuple[np.ndarray, np.ndarray, bool]] = []
    for ri, a, b in sub:
        mx, my = (a[0] + b[0]) / 2.0, (a[1] + b[1]) / 2.0
        on_boundary = False
        inside = False
        for rj in range(nr):
            if rj == ri:
                continue
            if _point_on_ring(mx, my, rings[rj]):
                on_boundary = True  # even-odd is unreliable here
                continue
            if points_in_ring(np.array([mx]), np.array([my]), rings[rj])[0]:
                inside = True
                break
        if not inside:
            survivors.append((a, b, on_boundary))

    # 2b. shared-boundary resolution by direction: identical undirected
    # sub-edges traversed the SAME way by two CCW rings lie on the union
    # boundary (keep one); traversed OPPOSITE ways the union interior is
    # on both sides (drop all).
    groups: dict[tuple, list[tuple[np.ndarray, np.ndarray]]] = {}
    order: list[tuple] = []
    for a, b, _on in survivors:
        ka = (float(a[0]), float(a[1]))
        kb = (float(b[0]), float(b[1]))
        key = (min(ka, kb), max(ka, kb))
        if key not in groups:
            order.append(key)
        groups.setdefault(key, []).append((a, b))
    kept: list[tuple[np.ndarray, np.ndarray]] = []
    for key in order:
        g = groups[key]
        dirs = {(float(a[0]), float(a[1])) < (float(b[0]), float(b[1])) for a, b in g}
        if len(dirs) > 1:
            continue  # opposite directions → interior seam
        kept.append(g[0])
    if not kept:
        raise AssemblyError("dissolve produced no boundary edges")

    # 3. stitch directed edges into closed rings (exact endpoint match —
    # both rings split at the same float, so the match is exact)
    adj: dict[tuple[float, float], list[int]] = {}
    for k, (a, _b) in enumerate(kept):
        adj.setdefault((float(a[0]), float(a[1])), []).append(k)
    visited = [False] * len(kept)
    out: list[np.ndarray] = []
    for k0 in range(len(kept)):
        if visited[k0]:
            continue
        visited[k0] = True
        a0, b0 = kept[k0]
        start = (float(a0[0]), float(a0[1]))
        path = [a0, b0]
        cur = (float(b0[0]), float(b0[1]))
        steps = 0
        while cur != start:
            cands = [k for k in adj.get(cur, []) if not visited[k]]
            if not cands or steps > len(kept):
                raise AssemblyError("unable to stitch union boundary")
            if len(cands) > 1:
                # >=3 boundary edges meet here (rings crossing at one
                # point / pinch vertex): an arbitrary pick could stitch
                # a self-intersecting ring.  Take the LEFTMOST turn
                # relative to the incoming direction — consistently
                # applied, the traversal cannot cross itself at the
                # vertex (planar face-walk rule).
                inx = cur[0] - float(path[-2][0])
                iny = cur[1] - float(path[-2][1])

                def turn_angle(kk):
                    ox = float(kept[kk][1][0]) - cur[0]
                    oy = float(kept[kk][1][1]) - cur[1]
                    import math

                    # CCW angle from the REVERSED incoming vector to the
                    # outgoing vector, in (0, 2*pi): max = leftmost turn
                    ang = math.atan2(iny * ox - inx * oy, -(inx * ox + iny * oy))
                    return ang % (2 * math.pi)

                k = max(cands, key=turn_angle)
            else:
                k = cands[0]
            visited[k] = True
            path.append(kept[k][1])
            cur = (float(kept[k][1][0]), float(kept[k][1][1]))
            steps += 1
        ring = np.asarray(path, dtype=np.float64)
        if len(ring) >= 4 and ring_area(ring) != 0.0:
            out.append(ring)
    return out


def _overlap_clusters(rings: list[np.ndarray]) -> list[list[np.ndarray]]:
    """Connected components under partial overlap."""
    n = len(rings)
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i in range(n):
        for j in range(i + 1, n):
            if _rings_overlap(rings[i], rings[j]):
                parent[find(i)] = find(j)
    groups: dict[int, list[np.ndarray]] = {}
    for i in range(n):
        groups.setdefault(find(i), []).append(rings[i])
    return list(groups.values())


def _ring_in_polygon_mid(opoly: Polygon, ring: np.ndarray) -> bool:
    """Containment via edge midpoints — robust when the ring shares
    vertices with the polygon boundary (union-created holes do)."""
    mids = (ring[:-1] + ring[1:]) / 2.0
    return bool(points_in_polygon(mids[:, 0], mids[:, 1], opoly).all())


ROLE_ACCEPTED = ("outer", "inner", "")


def build_multipolygon(
    roles: list[str],
    member_geoms: list[Geometry | None],
    member_types: list[str],
) -> Geometry | None:
    """roles/types/geoms are parallel arrays over relation members.

    Returns Polygon or MultiPolygon WKB-able geometry; None = assembly
    failed / incomplete (caller falls back to GeometryCollection).
    """
    # bail early if a way member has no geometry (reference :472-476)
    for t, g in zip(member_types, member_geoms):
        if t == "way" and g is None:
            return None

    # Polygon members contribute their exterior; everything else as line
    lines: list[tuple[str, np.ndarray]] = []
    for role, g in zip(roles, member_geoms):
        if g is None:
            continue
        if isinstance(g, Polygon):
            coords = g.exterior
        elif isinstance(g, LineString):
            coords = g.coords
        else:
            continue  # non-line geometries are dropped (reference: as[Line] → None)
        if role not in ROLE_ACCEPTED:
            continue
        lines.append((role, coords))

    complete: list[np.ndarray] = []
    partial: list[np.ndarray] = []
    for _role, coords in lines:
        if is_closed(coords) and len(coords) >= 4:
            complete.append(coords)
        else:
            partial.append(coords)

    try:
        partial_sorted = sorted(partial, key=lambda c: -len(c))
        rings = complete + form_rings(partial_sorted)
        if not rings:
            return None

        # classify by containment parity over area-desc order
        ring_polys = [Polygon((r,)) for r in rings]
        order = sorted(range(len(rings)), key=lambda i: -abs(ring_area(rings[i])))
        outers: list[int] = [order[0]]
        inners: list[int] = []
        for idx in order[1:]:
            count = 0
            for j in range(len(rings)):
                if j != idx and polygon_contains_ring(ring_polys[j], rings[idx]):
                    count += 1
            (outers if count % 2 == 0 else inners).append(idx)

        # dissolve step (reference :461-468 runs a JTS unaryUnion, a
        # no-op for disjoint rings): union each cluster of overlapping
        # outers by even-odd re-polygonization; orientation of the
        # dissolved rings classifies them (CCW exterior / CW hole)
        outer_rings = [rings[i] for i in outers]
        inner_rings = [rings[i] for i in inners]
        if any(
            _rings_overlap(outer_rings[i], outer_rings[j])
            for i in range(len(outer_rings))
            for j in range(i + 1, len(outer_rings))
        ):
            new_outers: list[np.ndarray] = []
            for cluster in _overlap_clusters(outer_rings):
                if len(cluster) == 1:
                    new_outers.append(cluster[0])
                    continue
                for dr in dissolve_rings(cluster):
                    (new_outers if ring_area(dr) > 0 else inner_rings).append(dr)
            outer_rings = new_outers

        # allocate each inner once to the largest containing outer
        outer_order = sorted(range(len(outer_rings)), key=lambda i: -abs(ring_area(outer_rings[i])))
        remaining = list(range(len(inner_rings)))
        polys: list[Polygon] = []
        for oi in outer_order:
            opoly = Polygon((outer_rings[oi],))
            mine = [
                ri
                for ri in remaining
                if polygon_contains_ring(opoly, inner_rings[ri])
                or _ring_in_polygon_mid(opoly, inner_rings[ri])
            ]
            remaining = [ri for ri in remaining if ri not in mine]
            polys.append(Polygon((outer_rings[oi], *[inner_rings[ri] for ri in mine])))

        if len(polys) == 1:
            return polys[0]
        return MultiPolygon(tuple(polys))
    except AssemblyError:
        return None
    except (ValueError, IndexError):
        return None


def build_multiline(member_geoms: list[Geometry]) -> Geometry | None:
    """Reference getMultiLine (RowsToJson.scala:86-100): concatenates all
    member lines into one MultiLine (no merging)."""
    parts: list[np.ndarray] = []
    for g in member_geoms:
        if isinstance(g, LineString):
            parts.append(g.coords)
        elif isinstance(g, MultiLineString):
            parts.extend(g.lines)
        else:
            return None
    if not parts:
        return None
    return MultiLineString(tuple(parts))


def build_route(roles: list[str], member_geoms: list[Geometry | None]) -> dict[str, Geometry]:
    """Reference buildRoute (osm/package.scala:561-599): per-role connect
    of line segments → Line or MultiLine per role."""
    by_role: dict[str, list[np.ndarray]] = {}
    for role, g in zip(roles, member_geoms):
        if isinstance(g, LineString):
            by_role.setdefault(role, []).append(g.coords)
    out: dict[str, Geometry] = {}
    for role, segs in by_role.items():
        joined = connect_segments(segs)
        if len(joined) == 1:
            out[role] = LineString(joined[0])
        else:
            out[role] = MultiLineString(tuple(joined))
    return out
