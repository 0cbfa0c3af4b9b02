"""Polygon layer: current polygonal geometry of the OSM state.

Latest visible version per entity (A2 top-1 window) → way polygons
(closed + isArea) and multipolygon relations (assembly kernel), through
the render module's DataFrame kernels; output rows carry WKB + the cover
intervals (FIXTURES.md §5 shape, flattened to one row per interval for
the broadcast index).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.packing import pair_to_long
from ..geometry import core, wkb
from ..operators import render
from ..operators.cover import polygon_cover


def _latest_visible(state: DataFrame) -> DataFrame:
    w = Window.partitionBy("id", "type").orderBy(
        F.col("timestamp").desc(), F.col("version").desc()
    )
    return (
        state.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) & F.col("visible"))
        .drop("_rn")
    )


def build_polygon_layer(
    spark, state: DataFrame, max_res: int = 14, min_res: int = 4
) -> DataFrame:
    """DataFrame[feature_id, kind, geom_wkb, cell_lo, cell_hi]."""
    latest = _latest_visible(state).localCheckpoint(eager=True)

    def of_type(t):
        return latest.filter(F.col("type") == t)

    node_pts = render.node_points(of_type("node")).localCheckpoint(eager=True)
    way_w = render.way_wkbs(of_type("way"), node_pts).localCheckpoint(eager=True)
    rel_w = render.relation_wkbs(of_type("relation"), node_pts, way_w)

    ways = way_w.select(
        pair_to_long(F.col("id"), F.lit("way")).alias("feature_id"),
        F.lit("way").alias("kind"),
        F.col("wkb").alias("geom_wkb"),
    )
    rels = rel_w.select(
        pair_to_long(F.col("id"), F.lit("relation")).alias("feature_id"),
        F.lit("relation").alias("kind"),
        F.col("wkb").alias("geom_wkb"),
    )
    feats = ways.unionByName(rels).filter(F.col("geom_wkb").isNotNull())

    def kernel(it):
        for pdf in it:
            out = {
                "feature_id": [], "kind": [], "geom_wkb": [],
                "cell_lo": [], "cell_hi": [], "cell_full": [],
            }
            for fid, kind, blob in zip(pdf["feature_id"], pdf["kind"], pdf["geom_wkb"]):
                geom = wkb.loads(bytes(blob))
                if not isinstance(geom, (core.Polygon, core.MultiPolygon)):
                    continue  # only polygonal features enter the layer
                lo, hi, full = polygon_cover(geom, max_res=max_res, min_res=min_res)
                for l, h, fl in zip(lo, hi, full):
                    out["feature_id"].append(fid)
                    out["kind"].append(kind)
                    out["geom_wkb"].append(bytes(blob))
                    out["cell_lo"].append(int(l))
                    out["cell_hi"].append(int(h))
                    out["cell_full"].append(bool(fl))
            yield pd.DataFrame(out)

    return feats.mapInPandas(
        kernel,
        "feature_id long, kind string, geom_wkb binary, cell_lo long, cell_hi long, cell_full boolean",
    )
