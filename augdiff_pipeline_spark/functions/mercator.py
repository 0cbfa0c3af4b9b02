"""Slippy-map ZXY tile math on the Web Mercator (EPSG:3857) grid.

Closed-form public formulas (OSM slippy-map tilenames):
    xtile = floor((lon + 180) / 360 * 2^z)
    ytile = floor((1 - asinh(tan(lat_rad)) / pi) / 2 * 2^z)

The reference reprojects with a GeoTrellis UDF
(/root/reference/ingest/src/main/scala/osmesa/functions/package.scala:12-13,48-50);
the engine needs only the ZXY tile index, here as native Column
expressions — no UDF, no external proj library.
Tile assignment is deterministic: clip to the Mercator lat bound then
floor; ties at tile edges resolve to the higher tile index consistently
in Spark, numpy, and the DuckDB oracle because all three evaluate the
same IEEE-double formula.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

MAX_MERC_LAT = 85.05112877980659  # atan(sinh(pi)) — square world bound


# ---------------------------------------------------------------- numpy side
def tile_xy(lon: np.ndarray, lat: np.ndarray, z: int) -> tuple[np.ndarray, np.ndarray]:
    n = 1 << z
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.clip(np.asarray(lat, dtype=np.float64), -MAX_MERC_LAT, MAX_MERC_LAT)
    xt = np.clip(np.floor((lon + 180.0) / 360.0 * n).astype(np.int64), 0, n - 1)
    # asinh written out as ln(t + sqrt(t^2+1)) — the SAME expression tree
    # is used in the Column and SQL variants so all three engines evaluate
    # identical IEEE-double operations (tile parity across oracles).
    t = np.tan(np.radians(lat))
    yt = np.floor((1.0 - np.log(t + np.sqrt(t * t + 1.0)) / np.pi) / 2.0 * n).astype(np.int64)
    return xt, np.clip(yt, 0, n - 1)


# --------------------------------------------------------------- Column side
def tile_cols(lon: Column, lat: Column, z: int) -> tuple[Column, Column]:
    n = 1 << z
    lat_c = F.least(F.greatest(lat, F.lit(-MAX_MERC_LAT)), F.lit(MAX_MERC_LAT))
    xt = F.least(
        F.greatest(F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(n))).cast("long"), F.lit(0)),
        F.lit(n - 1),
    )
    t = F.tan(F.radians(lat_c))
    asinh_t = F.log(t + F.sqrt(t * t + F.lit(1.0)))
    yt_raw = F.floor(
        (F.lit(1.0) - asinh_t / F.lit(math.pi)) / F.lit(2.0) * F.lit(float(n))
    ).cast("long")
    yt = F.least(F.greatest(yt_raw, F.lit(0)), F.lit(n - 1))
    return xt, yt


def tile_key_col(lon: Column, lat: Column, z: int) -> Column:
    """Single long key (z<<58 | x<<29 | y) — join/partition friendly."""
    xt, yt = tile_cols(lon, lat, z)
    return F.shiftleft(F.lit(int(z)).cast("long"), 58).bitwiseOR(F.shiftleft(xt, 29)).bitwiseOR(yt)


def tile_sql(lon_expr: str, lat_expr: str, z: int) -> tuple[str, str]:
    """DuckDB/ANSI twins of tile_cols (same IEEE-double formula)."""
    n = 1 << z
    latc = f"least(greatest({lat_expr}, {-MAX_MERC_LAT}), {MAX_MERC_LAT})"
    xt = f"least(greatest(cast(floor(({lon_expr}+180.0)/360.0*{float(n)}) as bigint),0),{n - 1})"
    t = f"tan(radians({latc}))"
    yt = (
        f"least(greatest(cast(floor((1.0 - ln({t} + sqrt({t}*{t}+1.0))/pi())/2.0*{float(n)}) "
        f"as bigint),0),{n - 1})"
    )
    return xt, yt
