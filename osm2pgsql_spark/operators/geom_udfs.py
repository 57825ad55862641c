"""Arrow-batched geometry UDFs: one table of WKB geometry kernels.

KERNELS names every pandas UDF that builds, transforms or measures a
WKB geometry (point lists and relation members included) with its
batch function, return type and ``pinned`` flag.  ``kernel_udf``
creates each UDF once, on first use: pandas_udf parses its return type
against the active SparkSession, so it cannot run at import.  The UDF
carries the table key as its name, which is what plans show.

A pinned kernel's UDF is marked nondeterministic.  The kernels are
pure; the mark only pins single evaluation.  Catalyst neither inlines
a nondeterministic expression into each consumer nor substitutes it
into a filter pushed below its projection, so a geometry that is
filtered on (flex ``not_null``), measured several ways or fed to
another kernel is built once.  Staging the geometry in its own
projection is not enough: a deterministic kernel behind an alias is
substituted back into the pushed-down filter (Spark 4.1.2; the generic
import plans evaluated each geometry kernel twice, under
``Filter isnotnull(pythonUDF0)`` and in the projection).  The price is
that no filter pushes below a pinned kernel, so a caller filters its
rows before building their geometry (pgsql_style ``line_rows``).
Kernels that build a geometry are pinned.  Measures are not: their
output feeds no other kernel, and a filter on a measure still pushes
down.  A pinned expression used twice in one projection runs twice;
stage it as a column and read the column.

A batch function gets each object column (WKB, point or member lists)
as a list and each numeric column as a pandas Series.

Reference semantics per kernel: see functions/geometry.py docstrings.
"""

from __future__ import annotations

import functools
from typing import Callable, NamedTuple

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from osm2pgsql_spark.functions import geombatch as GB
from osm2pgsql_spark.functions import geometry as G
from osm2pgsql_spark.operators import assembly as A
from osm2pgsql_spark.operators import relations as R


def _measure(fn):
    def inner(wkbs: list) -> pd.Series:
        return pd.Series([fn(G.from_wkb(w)) if w is not None else None for w in wkbs], dtype="float64")

    return inner


def _unary_geom(fn):
    def inner(wkbs: list) -> pd.Series:
        out = []
        for w in wkbs:
            if w is None:
                out.append(None)
                continue
            out.append(G.to_wkb(fn(G.from_wkb(w))))
        return pd.Series(out, dtype=object)

    return inner


def _transform_epsg(wkbs: list, code: pd.Series) -> pd.Series:
    from osm2pgsql_spark.functions.projection import transform_epsg

    out = []
    for w, c in zip(wkbs, code):
        if w is None:
            out.append(None)
            continue
        out.append(G.to_wkb(transform_epsg(G.from_wkb(w), int(c))))
    return pd.Series(out, dtype=object)


def _polylabel_xy(wkbs: list, stretch: pd.Series) -> pd.DataFrame:
    from osm2pgsql_spark.functions.polylabel import pole_of_inaccessibility

    rows = []
    for w, st in zip(wkbs, stretch):
        g = G.from_wkb(bytes(w)) if w is not None else None
        rings = None
        if g is not None:
            if g[0] == "polygon":
                rings = list(g[1])
            elif g[0] == "multipolygon" and g[1]:
                rings = list(g[1][0])
        p = (
            pole_of_inaccessibility(rings, stretch=float(st))
            if rings is not None
            else None
        )
        rows.append({"x": None, "y": None} if p is None else {"x": p[0], "y": p[1]})
    return pd.DataFrame(rows, dtype="float64")


class Kernel(NamedTuple):
    fn: Callable
    rtype: str
    pinned: bool


_XY = "struct<x:double,y:double>"

# area kernels keep the per-row parse: polygon shoelace/authalic math
# dominates their cost, not the parse.  The length/count/bbox family
# runs the batch twins (functions/geombatch.py, pinned bit-identical to
# the scalar path by tests/test_geombatch.py).
KERNELS: dict[str, Kernel] = {
    # built geometries
    "point_wkb": Kernel(GB.batch_point_wkb, "binary", True),
    "pts_to_linestring_wkb": Kernel(A._linestring_kernel, "binary", True),
    "pts_to_polygon_wkb": Kernel(A._polygon_kernel, "binary", True),
    "pts_linestring_wkb_3857": Kernel(
        functools.partial(A._line_batch, transform=G.mercator_forward), "binary", True
    ),
    "pts_polygon_wkb_3857": Kernel(
        functools.partial(A._polygon_batch, transform=G.mercator_forward), "binary", True
    ),
    "wkb_transform_3857": Kernel(GB.batch_transform_3857, "binary", True),
    "wkb_transform_epsg": Kernel(_transform_epsg, "binary", True),
    "wkb_segmentize": Kernel(GB.batch_segmentize, "binary", True),
    "wkb_simplify": Kernel(GB.batch_simplify, "binary", True),
    "wkb_reverse": Kernel(GB.batch_reverse, "binary", True),
    "wkb_line_merge": Kernel(_unary_geom(G.line_merge), "binary", True),
    "wkb_centroid": Kernel(_unary_geom(G.centroid), "binary", True),
    "wkb_split_parts": Kernel(GB.batch_split_multi, "array<binary>", True),
    "wkb_multi_part_stats": Kernel(
        GB.batch_multi_part_stats, "struct<n_parts:bigint,part_points:bigint>", True
    ),
    "relation_multipolygon_wkb": Kernel(R._mp_kernel, "binary", True),
    "relation_polygon_part_wkbs": Kernel(R._parts_kernel, "array<binary>", True),
    "relation_multilinestring_wkb": Kernel(R._ml_kernel, "binary", True),
    "relation_multipoint_wkb": Kernel(R._mpoint_kernel, "binary", True),
    "relation_collection_wkb": Kernel(R._coll_kernel, "binary", True),
    # measures
    "wkb_area": Kernel(_measure(G.area), "double", False),
    "wkb_spherical_area": Kernel(_measure(G.spherical_area), "double", False),
    "wkb_spherical_area_sphere": Kernel(GB.batch_spherical_area_sphere, "double", False),
    "wkb_length": Kernel(GB.batch_length, "double", False),
    "wkb_num_points": Kernel(GB.batch_npoints, "bigint", False),
    "wkb_num_geometries": Kernel(GB.batch_ngeoms, "bigint", False),
    "wkb_geometry_type": Kernel(GB.batch_geom_type, "string", False),
    "wkb_bbox": Kernel(
        GB.batch_bbox, "struct<min_x:double,min_y:double,max_x:double,max_y:double>", False
    ),
    "wkb_centroid_xy": Kernel(GB.batch_centroid_xy, _XY, False),
    "wkb_distance": Kernel(GB.batch_distance, "double", False),
    "wkb_interpolate_xy": Kernel(GB.batch_interpolate_xy, _XY, False),
    "wkb_polylabel_xy": Kernel(_polylabel_xy, _XY, False),
}


@functools.cache
def kernel_udf(name: str):
    """The pandas UDF of KERNELS[name], nondeterministic if pinned."""
    k = KERNELS[name]

    # struct kernels return a DataFrame; pandas_udf reads the hints
    # only to tell a scalar UDF from an iterator or aggregate one
    def run(*cols: pd.Series) -> pd.Series:
        return k.fn(*(c.tolist() if c.dtype == object else c for c in cols))

    run.__name__ = name
    udf = pandas_udf(run, k.rtype)
    return udf.asNondeterministic() if k.pinned else udf


# ------------------------------------------------ built geometries

def point_wkb(lon: Column, lat: Column, srid: int = 4326) -> Column:
    return kernel_udf("point_wkb")(lon, lat, F.lit(srid))


def pts_linestring_wkb_3857(col: Column) -> Column:
    """assembly.pts_to_linestring_wkb with the kept points projected
    to web mercator."""
    return kernel_udf("pts_linestring_wkb_3857")(A._flat_pts(col))


def pts_polygon_wkb_3857(col: Column) -> Column:
    """assembly.pts_to_polygon_wkb with the valid ring projected to
    web mercator."""
    return kernel_udf("pts_polygon_wkb_3857")(A._flat_pts(col))


def wkb_transform_3857(wkb: Column) -> Column:
    return kernel_udf("wkb_transform_3857")(wkb)


def wkb_transform_epsg(wkb: Column, code: int) -> Column:
    """Forward 4326 -> arbitrary EPSG (functions/projection.py;
    reference selects any PROJ-known SRS at src/reprojection.cpp:83)."""
    return kernel_udf("wkb_transform_epsg")(wkb, F.lit(int(code)))


def wkb_segmentize(wkb: Column, max_segment_length: float) -> Column:
    return kernel_udf("wkb_segmentize")(wkb, F.lit(float(max_segment_length)))


def wkb_simplify(wkb: Column, tolerance: float) -> Column:
    return kernel_udf("wkb_simplify")(wkb, F.lit(float(tolerance)))


def wkb_reverse(wkb: Column) -> Column:
    return kernel_udf("wkb_reverse")(wkb)


def wkb_line_merge(wkb: Column) -> Column:
    return kernel_udf("wkb_line_merge")(wkb)


def wkb_centroid(wkb: Column) -> Column:
    return kernel_udf("wkb_centroid")(wkb)


def wkb_split_parts(wkb: Column) -> Column:
    """wkb_split_parts + F.explode = the reference's split_multi
    explode (src/geom-functions.cpp:497 + legacy -G handling)."""
    return kernel_udf("wkb_split_parts")(wkb)


def wkb_multi_part_stats(wkb: Column) -> Column:
    """Fused split_multi + per-part num_points + (count, max) for
    callers that only need the part statistics: one kernel pass, no
    part WKBs across the boundary, no explode, no aggregation shuffle
    (guide §2.4 + §4.2).  Null struct fields when the split yields no
    parts — filter n_parts isNotNull to reproduce the explode's row
    drop."""
    return kernel_udf("wkb_multi_part_stats")(wkb)


# -------------------------------------------------------- measures

def wkb_area(wkb: Column) -> Column:
    return kernel_udf("wkb_area")(wkb)


def wkb_spherical_area(wkb: Column) -> Column:
    return kernel_udf("wkb_spherical_area")(wkb)


def wkb_spherical_area_sphere(wkb: Column) -> Column:
    return kernel_udf("wkb_spherical_area_sphere")(wkb)


def wkb_length(wkb: Column) -> Column:
    return kernel_udf("wkb_length")(wkb)


def wkb_num_points(wkb: Column) -> Column:
    return kernel_udf("wkb_num_points")(wkb)


def wkb_num_geometries(wkb: Column) -> Column:
    return kernel_udf("wkb_num_geometries")(wkb)


def wkb_geometry_type(wkb: Column) -> Column:
    return kernel_udf("wkb_geometry_type")(wkb)


def wkb_bbox(wkb: Column) -> Column:
    return kernel_udf("wkb_bbox")(wkb)


def wkb_centroid_xy(wkb: Column) -> Column:
    return kernel_udf("wkb_centroid_xy")(wkb)


def wkb_distance(wkb_a: Column, wkb_b: Column) -> Column:
    return kernel_udf("wkb_distance")(wkb_a, wkb_b)


def wkb_interpolate_xy(wkb: Column, fraction: float) -> Column:
    return kernel_udf("wkb_interpolate_xy")(wkb, F.lit(float(fraction)))


def wkb_polylabel_xy(wkb: Column, stretch: float = 1.0) -> Column:
    """Pole of inaccessibility of a polygon WKB (reference
    src/geom-pole-of-inaccessibility.cpp via functions.polylabel)."""
    return kernel_udf("wkb_polylabel_xy")(wkb, F.lit(float(stretch)))
