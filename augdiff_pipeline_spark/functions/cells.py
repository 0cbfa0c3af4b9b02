"""Hierarchical spatial cell index (Z-order / Morton quadtree).

Public-knowledge design (Morton 1966 Z-order curves; same role H3/S2 play
in the north rule): the unit square [0,1)^2 over (lon, lat) is divided
into a quadtree; a cell at resolution ``r`` is the 2r-bit Morton prefix
of the 60-bit max-resolution code.  Every cell therefore owns a
contiguous interval [lo, hi] of max-resolution codes — this is what makes
the broadcast *sorted-interval* cover index work: a point is inside a
cover cell iff its max-res Morton code falls inside the cell's interval,
so candidate lookup is one ``searchsorted`` per point.

Two encoders are provided:
- Column expressions (``morton_col``) — pure bit-twiddling, stays inside
  whole-stage codegen; used on the 10^12-row image side so cell encoding
  never leaves the JVM.
- numpy (``morton``) — used inside Arrow UDF kernels (cover building,
  kNN ring expansion) and for tests.

A flat (non-interleaved) grid cell id (``grid_cell_col``) is also
provided: it is expressible in ANSI SQL arithmetic, which lets the
DuckDB oracle check the cell-join path end-to-end.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

MAX_RES = 30  # 30 bits per axis -> 60-bit Morton codes (fits signed int64)

_MAGIC = [
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
]


# ---------------------------------------------------------------- numpy side
def _spread_bits(x: np.ndarray) -> np.ndarray:
    x = x.astype(np.int64)
    for shift, mask in _MAGIC:
        x = (x | (x << shift)) & mask
    return x


def _compact_bits(x: np.ndarray) -> np.ndarray:
    x = x.astype(np.int64) & 0x5555555555555555
    x = (x | (x >> 1)) & 0x3333333333333333
    x = (x | (x >> 2)) & 0x0F0F0F0F0F0F0F0F
    x = (x | (x >> 4)) & 0x00FF00FF00FF00FF
    x = (x | (x >> 8)) & 0x0000FFFF0000FFFF
    x = (x | (x >> 16)) & 0x00000000FFFFFFFF
    return x


def lonlat_to_ixy(lon: np.ndarray, lat: np.ndarray, res: int) -> tuple[np.ndarray, np.ndarray]:
    """Unit-square grid indices at resolution ``res`` (equirectangular)."""
    n = 1 << res
    u = (np.asarray(lon, dtype=np.float64) + 180.0) / 360.0
    v = (np.asarray(lat, dtype=np.float64) + 90.0) / 180.0
    ix = np.clip(np.floor(u * n).astype(np.int64), 0, n - 1)
    iy = np.clip(np.floor(v * n).astype(np.int64), 0, n - 1)
    return ix, iy


def interleave(ix: np.ndarray, iy: np.ndarray) -> np.ndarray:
    return _spread_bits(ix) | (_spread_bits(iy) << 1)


def deinterleave(m: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    return _compact_bits(m), _compact_bits(np.asarray(m) >> 1)


def morton(lon: np.ndarray, lat: np.ndarray, res: int = MAX_RES) -> np.ndarray:
    """Morton code at ``res`` (NOT shifted to max-res scale)."""
    ix, iy = lonlat_to_ixy(lon, lat, res)
    return interleave(ix, iy)


def cell_interval(cell: np.ndarray | int, res: int) -> tuple[np.ndarray, np.ndarray]:
    """[lo, hi] interval of max-res Morton codes owned by ``cell``@res."""
    shift = 2 * (MAX_RES - res)
    lo = np.asarray(cell, dtype=np.int64) << shift
    hi = lo + ((np.int64(1) << shift) - 1)
    return lo, hi


def parent(cell: np.ndarray | int, levels: int = 1) -> np.ndarray:
    return np.asarray(cell, dtype=np.int64) >> (2 * levels)


def disk_cells(ix: int, iy: int, res: int, k: int) -> np.ndarray:
    """All grid cells within Chebyshev distance k (the (2k+1)^2 disk),
    clipped to the grid; returned as Morton codes at ``res``."""
    n = 1 << res
    xs = np.arange(max(0, ix - k), min(n, ix + k + 1))
    ys = np.arange(max(0, iy - k), min(n, iy + k + 1))
    gx, gy = np.meshgrid(xs, ys)
    return interleave(gx.ravel(), gy.ravel())


def ring_cells(ix: int, iy: int, res: int, k: int) -> np.ndarray:
    """Cells at exactly Chebyshev distance k (the ring of the disk)."""
    if k == 0:
        return disk_cells(ix, iy, res, 0)
    full = set(map(int, disk_cells(ix, iy, res, k)))
    inner = set(map(int, disk_cells(ix, iy, res, k - 1)))
    return np.array(sorted(full - inner), dtype=np.int64)


# --------------------------------------------------------------- Column side
def _spread_bits_col(x: Column) -> Column:
    for shift, mask in _MAGIC:
        x = x.bitwiseOR(F.shiftleft(x, shift)).bitwiseAND(F.lit(mask))
    return x


def ixy_col(lon: Column, lat: Column, res: int) -> tuple[Column, Column]:
    n = 1 << res
    u = (lon + F.lit(180.0)) / F.lit(360.0)
    v = (lat + F.lit(90.0)) / F.lit(180.0)
    ix = F.least(F.greatest(F.floor(u * n).cast("long"), F.lit(0)), F.lit(n - 1))
    iy = F.least(F.greatest(F.floor(v * n).cast("long"), F.lit(0)), F.lit(n - 1))
    return ix, iy


def interleave_col(ix: Column, iy: Column) -> Column:
    """Morton-interleave two nonnegative grid indices (codegen'd)."""
    return _spread_bits_col(ix).bitwiseOR(F.shiftleft(_spread_bits_col(iy), 1))


def morton_col(lon: Column, lat: Column, res: int = MAX_RES) -> Column:
    """Morton code at ``res`` as a pure Column expression (codegen'd)."""
    ix, iy = ixy_col(lon, lat, res)
    return interleave_col(ix, iy)


def grid_cell_col(lon: Column, lat: Column, res: int) -> Column:
    """Flat grid id ix * 2^res + iy — ANSI-SQL-expressible (oracle parity).

    DuckDB twin:  CAST(floor((lon+180)/360*{n}) AS BIGINT)*{n}
                + CAST(floor((lat+90)/180*{n}) AS BIGINT)   (with clipping)
    """
    ix, iy = ixy_col(lon, lat, res)
    return ix * F.lit(1 << res) + iy
