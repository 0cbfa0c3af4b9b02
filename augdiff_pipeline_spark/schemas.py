"""Fixed, declared schemas — the engine never infers.

Entity-version schema mirrors the reference's osmSchema
(/root/reference/common/src/main/scala/Common.scala:83-97, column order
:98-112): one row per (id, type, version); decimal lat/lon; way node refs
as array<struct<ref>>; relation members as array<struct<type,ref,role>>;
visible=false is a deletion tombstone.

The image fact table follows BASELINE.json input_hint:
(image_id, bytes, w, h, fmt, caption, phash) plus geotag columns the
spatial layer derives deterministically.
"""

from __future__ import annotations

from pyspark.sql import types as T

NODE, WAY, RELATION = "node", "way", "relation"
# type codes used by the bit-packing (reference Common.scala:35-44 packs
# node=0, way=1, relation=2 into the low 2 bits).
TYPE_CODES = {NODE: 0, WAY: 1, RELATION: 2}
CODE_TYPES = {v: k for k, v in TYPE_CODES.items()}

OSM_SCHEMA = T.StructType(
    [
        T.StructField("p", T.LongType(), True),
        T.StructField("id", T.LongType(), False),
        T.StructField("type", T.StringType(), False),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("lat", T.DecimalType(9, 7), True),
        T.StructField("lon", T.DecimalType(10, 7), True),
        T.StructField("nds", T.ArrayType(T.StructType([T.StructField("ref", T.LongType(), True)])), True),
        T.StructField(
            "members",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("type", T.StringType(), True),
                        T.StructField("ref", T.LongType(), True),
                        T.StructField("role", T.StringType(), True),
                    ]
                )
            ),
            True,
        ),
        T.StructField("changeset", T.LongType(), True),
        T.StructField("timestamp", T.TimestampType(), True),
        T.StructField("uid", T.LongType(), True),
        T.StructField("user", T.StringType(), True),
        T.StructField("version", T.LongType(), True),
        T.StructField("visible", T.BooleanType(), True),
    ]
)

OSM_COLUMNS = [f.name for f in OSM_SCHEMA.fields]

# Dependency-closure edge table (reference Common.scala:119-121):
# a = packed referenced entity, b = packed referencing entity; the closure
# contains one row per (entity, transitive dependency) pair.
INDEX_SCHEMA = T.StructType(
    [
        T.StructField("a", T.LongType(), False),
        T.StructField("b", T.LongType(), False),
    ]
)

# Image + caption fact table (BASELINE.json input_hint).
IMAGE_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("fmt", T.StringType(), True),
        T.StructField("caption", T.StringType(), True),
        T.StructField("phash", T.LongType(), True),
        # geotag — derived deterministically from image_id at synth time
        T.StructField("lat", T.DoubleType(), True),
        T.StructField("lon", T.DoubleType(), True),
    ]
)

# Polygon layer derived from assembled OSM geometries.
POLYGON_LAYER_SCHEMA = T.StructType(
    [
        T.StructField("feature_id", T.LongType(), False),  # packed (id<<2)|type
        T.StructField("kind", T.StringType(), False),  # way | relation
        T.StructField("geom_wkb", T.BinaryType(), False),
        T.StructField("cell_lo", T.LongType(), False),  # cover interval, max-res morton
        T.StructField("cell_hi", T.LongType(), False),
        T.StructField("cell_full", T.BooleanType(), False),  # True = interior (no refine)
    ]
)

# Lineage + metrics tables (north rule: per-partition lineage & metrics,
# resume any minutely batch mid-stream).
LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType(), False),
        T.StructField("stage", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("input_snapshot", T.LongType(), True),
        T.StructField("output_snapshot", T.LongType(), True),
        T.StructField("row_count", T.LongType(), True),
    ]
)

METRICS_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType(), False),
        T.StructField("stage", T.StringType(), False),
        T.StructField("metric", T.StringType(), False),
        T.StructField("value", T.DoubleType(), True),
    ]
)
