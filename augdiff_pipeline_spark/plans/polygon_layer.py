"""Polygon layer: current polygonal geometry of the OSM state.

Latest visible version per entity (A2 top-1 window), hashed into
partitions of complete root downsets (closure.downset_partitions); per
partition, the batch render's ``render.mode_geoms`` in "after" mode
builds the way and relation geometries, and the cover kernel keeps the
polygonal ones (closed + isArea ways, multipolygon relations).  Output
rows carry WKB + the cover intervals (FIXTURES.md §5 shape, flattened
to one row per interval for the broadcast index).
"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..geometry import core, wkb
from ..operators import render
from ..operators.closure import downset_partitions
from ..operators.cover import polygon_cover
from ..schemas import TYPE_CODES


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
    schema = pa.schema([("feature_id", pa.int64()), ("kind", pa.string()),
                        ("geom_wkb", pa.binary())])

    def geoms(batches):
        batches = list(batches)
        if batches:
            hists: dict = {"node": {}, "way": {}, "relation": {}}
            # a row under two roots of this partition arrives twice
            for r in pa.Table.from_batches(batches).to_pylist():
                hists[r["type"]][r["id"]] = (r, None)
            _, way_w, rel_w = render.mode_geoms(
                hists["node"], hists["way"], hists["relation"], "after")
            yield pa.RecordBatch.from_pylist([
                {"feature_id": eid << 2 | TYPE_CODES[kind], "kind": kind, "geom_wkb": g}
                for kind, ws in (("way", way_w), ("relation", rel_w))
                for eid, g in ws.items() if g is not None
            ], schema=schema)

    # an entity under roots of two partitions renders identically in both
    feats = downset_partitions(_latest_visible(state)).mapInArrow(
        geoms, "feature_id long, kind string, geom_wkb binary"
    ).dropDuplicates(["feature_id"])

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
