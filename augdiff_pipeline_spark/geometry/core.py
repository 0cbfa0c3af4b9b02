"""Geometry value model + planar predicates, all numpy.

The reference leans on JTS/GeoTrellis (unavailable here); this module
implements the minimal surface the engine needs: coordinate containers,
shoelace area, closedness, bboxes, even-odd point-in-polygon (vectorized
over many points at once — the right axis for the image side, where one
polygon is tested against thousands of candidate points per Arrow batch),
and GeoJSON rendering.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Union

import numpy as np

Coords = np.ndarray  # (n, 2) float64, columns (x=lon, y=lat)


def _as_coords(a: Any) -> Coords:
    arr = np.asarray(a, dtype=np.float64)
    if arr.ndim != 2 or arr.shape[1] != 2:
        raise ValueError(f"expected (n,2) coords, got {arr.shape}")
    return arr


@dataclass(frozen=True)
class Point:
    x: float
    y: float

    @property
    def kind(self) -> str:
        return "Point"


@dataclass(frozen=True)
class LineString:
    coords: Coords

    def __post_init__(self):
        object.__setattr__(self, "coords", _as_coords(self.coords))

    @property
    def kind(self) -> str:
        return "LineString"

    @property
    def is_closed(self) -> bool:
        return bool(len(self.coords) >= 2 and (self.coords[0] == self.coords[-1]).all())


@dataclass(frozen=True)
class Polygon:
    rings: tuple[Coords, ...]  # first = exterior, rest = holes

    def __post_init__(self):
        object.__setattr__(self, "rings", tuple(_as_coords(r) for r in self.rings))

    @property
    def kind(self) -> str:
        return "Polygon"

    @property
    def exterior(self) -> Coords:
        return self.rings[0]

    @property
    def area(self) -> float:
        """Absolute shoelace area of exterior minus holes (planar)."""
        a = abs(ring_area(self.rings[0]))
        for hole in self.rings[1:]:
            a -= abs(ring_area(hole))
        return a


@dataclass(frozen=True)
class MultiLineString:
    lines: tuple[Coords, ...]

    def __post_init__(self):
        object.__setattr__(self, "lines", tuple(_as_coords(l) for l in self.lines))

    @property
    def kind(self) -> str:
        return "MultiLineString"


@dataclass(frozen=True)
class MultiPolygon:
    polygons: tuple[Polygon, ...]

    @property
    def kind(self) -> str:
        return "MultiPolygon"


@dataclass(frozen=True)
class GeometryCollection:
    geoms: tuple["Geometry", ...] = field(default_factory=tuple)

    @property
    def kind(self) -> str:
        return "GeometryCollection"


Geometry = Union[Point, LineString, Polygon, MultiLineString, MultiPolygon, GeometryCollection]


def ring_area(ring: Coords) -> float:
    """Signed shoelace area (positive = counter-clockwise)."""
    x, y = ring[:, 0], ring[:, 1]
    return 0.5 * float(np.dot(x, np.roll(y, -1)) - np.dot(np.roll(x, -1), y))


def is_closed(coords: Coords) -> bool:
    return bool(len(coords) >= 2 and (coords[0] == coords[-1]).all())


def bbox(coords: Coords) -> tuple[float, float, float, float]:
    return (
        float(coords[:, 0].min()),
        float(coords[:, 1].min()),
        float(coords[:, 0].max()),
        float(coords[:, 1].max()),
    )


def points_in_ring(px: np.ndarray, py: np.ndarray, ring: Coords) -> np.ndarray:
    """Vectorized even-odd (crossing-number) test: many points vs one ring.

    O(#points * #edges) in pure numpy — the cost model that matters here
    is thousands of candidate points against small polygon rings inside
    one Arrow batch, which this vectorizes fully.  Boundary points follow
    the standard half-open edge rule (consistent, deterministic).
    """
    px = np.asarray(px, dtype=np.float64)[:, None]  # (P,1)
    py = np.asarray(py, dtype=np.float64)[:, None]
    x0, y0 = ring[:-1, 0][None, :], ring[:-1, 1][None, :]  # (1,E)
    x1, y1 = ring[1:, 0][None, :], ring[1:, 1][None, :]
    straddles = (y0 > py) != (y1 > py)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x0 + (py - y0) * (x1 - x0) / (y1 - y0)
    crossings = (straddles & (px < xint)).sum(axis=1)
    return (crossings % 2).astype(bool)


def points_in_polygon(px: np.ndarray, py: np.ndarray, poly: Polygon) -> np.ndarray:
    """Even-odd over all rings (holes toggle membership)."""
    inside = np.zeros(len(np.atleast_1d(px)), dtype=bool)
    for ring in poly.rings:
        inside ^= points_in_ring(px, py, ring)
    return inside


def points_in_multipolygon(px: np.ndarray, py: np.ndarray, mp: MultiPolygon) -> np.ndarray:
    inside = np.zeros(len(np.atleast_1d(px)), dtype=bool)
    for poly in mp.polygons:
        inside |= points_in_polygon(px, py, poly)
    return inside


def polygon_contains_ring(outer: Polygon, ring: Coords) -> bool:
    """'Contains' test adequate for well-formed OSM rings (no crossing
    edges): every vertex of ``ring`` lies inside the outer polygon.
    The reference uses JTS prepared-geometry contains; for the
    non-degenerate ring sets the assembly handles, vertex containment is
    equivalent (rings never partially overlap)."""
    res = points_in_polygon(ring[:, 0], ring[:, 1], outer)
    return bool(res.all())


def geo_coords(geom: Geometry):
    """GeoJSON 'coordinates' value for a geometry."""
    if isinstance(geom, Point):
        return [geom.x, geom.y]
    if isinstance(geom, LineString):
        return geom.coords.tolist()
    if isinstance(geom, Polygon):
        return [r.tolist() for r in geom.rings]
    if isinstance(geom, MultiLineString):
        return [l.tolist() for l in geom.lines]
    if isinstance(geom, MultiPolygon):
        return [[r.tolist() for r in p.rings] for p in geom.polygons]
    raise TypeError(geom)


def to_geojson_dict(geom: Geometry) -> dict:
    if isinstance(geom, GeometryCollection):
        return {
            "type": "GeometryCollection",
            "geometries": [to_geojson_dict(g) for g in geom.geoms],
        }
    return {"type": geom.kind, "coordinates": geo_coords(geom)}
