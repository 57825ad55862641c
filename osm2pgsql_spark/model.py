"""Core data model: the OSM trio as Spark schemas.

Reference (/root/reference): nodes/ways/relations stream out of
libosmium buffers one at a time (src/input.cpp:110-128), dispatched to
middle + output (src/osmdata.cpp:40-192).  ids are int64
(src/osmtypes.hpp:31), locations fixed-point 1e-7 degrees, tags an
unordered unique-key (k,v) list (src/osmtypes.hpp:88-239), relation
members (type, ref, role) structs (src/osmtypes.hpp:33-67), optional
attributes version/timestamp/changeset/uid/user
(src/osmtypes.hpp:103-111).

Spark-first mapping: three DataFrames with MapType tags; geometry
travels as WKB BINARY plus an SRID int (reference geometry variant:
src/geom.hpp:433-437, EWKB serialization src/wkb.cpp:573-579).
"""

from __future__ import annotations

from pyspark.sql import types as T

# Optional object attributes (reference: -x / --extra-attributes,
# src/osmtypes.hpp:103-111). Kept nullable; absent in most fixtures.
_ATTR_FIELDS = [
    T.StructField("version", T.IntegerType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("changeset", T.LongType()),
    T.StructField("uid", T.LongType()),
    T.StructField("user", T.StringType()),
    T.StructField("visible", T.BooleanType()),
]

NODE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("lat", T.DoubleType()),
        T.StructField("lon", T.DoubleType()),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType())),
        *_ATTR_FIELDS,
    ]
)

WAY_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("refs", T.ArrayType(T.LongType())),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType())),
        *_ATTR_FIELDS,
    ]
)

MEMBER_TYPE = T.StructType(
    [
        T.StructField("type", T.StringType()),  # 'n' | 'w' | 'r'
        T.StructField("ref", T.LongType()),
        T.StructField("role", T.StringType()),
    ]
)

RELATION_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("members", T.ArrayType(MEMBER_TYPE)),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType())),
        *_ATTR_FIELDS,
    ]
)

# Geometry: WKB binary + srid, the engine-wide interchange type
# (reference geom::geometry_t src/geom.hpp:433-437 + srid).
GEOMETRY_TYPE = T.StructType(
    [
        T.StructField("wkb", T.BinaryType()),
        T.StructField("srid", T.IntegerType()),
    ]
)

# Diff/change files carry an operation per object
# (reference: src/input.cpp:190-194, src/osmdata.cpp:55-70), and its
# position in the document, so apply_diff can keep the LAST op per id.
OP_CREATE, OP_MODIFY, OP_DELETE = "create", "modify", "delete"
CHANGE_FIELDS = [
    T.StructField("op", T.StringType()),
    T.StructField("op_seq", T.LongType()),
]


def trio_frames(spark, nodes: list, ways: list, rels: list, change: bool = False):
    """The (nodes, ways, relations) trio of a driver-side reader.

    Each list holds row tuples in NODE_SCHEMA / WAY_SCHEMA /
    RELATION_SCHEMA field order: tags a dict, refs a list of ids,
    members (type, ref, role) tuples, ts an instant (a UTC-aware
    datetime).  Each list becomes one Arrow table column by column, so
    the JVM reads Arrow batches instead of unpickling every row, and
    tags keep the input's key order.  With change=True every row ends
    in its op, and op_seq is the row's position in the document."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    def frame(rows: list, schema: T.StructType):
        if change:
            schema = T.StructType(schema.fields + CHANGE_FIELDS)
        arrow = to_arrow_schema(schema)
        columns = list(zip(*rows)) or [()] * (len(arrow) - change)
        arrays = [pa.array(c, type=f.type) for c, f in zip(columns, arrow)]
        if change:
            arrays.append(pa.array(range(len(rows)), pa.int64()))
        return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=arrow), schema)

    return frame(nodes, NODE_SCHEMA), frame(ways, WAY_SCHEMA), frame(rels, RELATION_SCHEMA)


# Hard cap from the reference (src/osmdata.cpp:151-156).
MAX_RELATION_MEMBERS = 32767

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
