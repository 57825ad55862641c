"""Arrow-batched geometry UDF wrappers around the pure-numpy kernels.

All pandas UDFs are created lazily (the decorator needs an active
SparkSession to parse its return type).  Each wrapper takes/returns
WKB BINARY columns; scalar measures return doubles.

Reference semantics per kernel: see functions/geometry.py docstrings.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql.functions import pandas_udf

from osm2pgsql_spark.functions import geombatch as GB
from osm2pgsql_spark.functions import geometry as G

_CACHE: dict[str, object] = {}


def _lazy(name: str, fn: Callable, rtype: str):
    def wrapper(*cols: Column, single_eval: bool = False) -> Column:
        # single_eval=True returns a nondeterministic-marked instance of
        # the same pure kernel.  Use it when the kernel's output column
        # is consumed by SEVERAL downstream expressions: Python UDFs
        # nested inside other UDFs are fused per consuming chain (no
        # common-subexpression sharing), so a geometry built once but
        # measured three ways otherwise runs the build kernel three
        # times (guide §4.4).  The mark forces the kernel into its own
        # eval node whose output attribute all consumers share.
        key = name + ("_nd" if single_eval else "")
        if key not in _CACHE:
            udf = pandas_udf(fn, rtype)
            _CACHE[key] = udf.asNondeterministic() if single_eval else udf
        return _CACHE[key](*cols)

    return wrapper


# ------------------------------------------------------------- points

def _point_wkb(lon: pd.Series, lat: pd.Series, srid: pd.Series) -> pd.Series:
    # batch twin of: make_point(float(x), float(y)) [+ 3857 transform]
    # -> to_wkb, with None/NaN inputs kept null (tests/test_geombatch.py)
    return GB.batch_point_wkb(lon, lat, srid)


_point_udf = _lazy("point", _point_wkb, "binary")


def point_wkb(lon: Column, lat: Column, srid: int = 4326) -> Column:
    from pyspark.sql import functions as F

    return _point_udf(lon, lat, F.lit(srid))


# ------------------------------------- assembled way points -> geometry

# 3857 kernels take the interleaved array<double> form like the 4326
# assembly kernels (see operators/assembly.py _flat_pts — dict-free
# numpy per row, §4.2)

def _merc_fwd(a: np.ndarray) -> np.ndarray:
    """Same elementwise web-mercator forward as
    G.transform_4326_to_3857's inner mapping, applied to (N, 2)."""
    x = np.radians(a[:, 0]) * G.EARTH_RADIUS
    y = np.log(np.tan(np.pi / 4.0 + np.radians(a[:, 1]) / 2.0)) * G.EARTH_RADIUS
    return np.column_stack([x, y])


def _pts_line_3857(flat: pd.Series) -> pd.Series:
    from osm2pgsql_spark.operators.assembly import _line_batch

    return _line_batch(flat, _merc_fwd)


def _pts_poly_3857(flat: pd.Series) -> pd.Series:
    from osm2pgsql_spark.operators.assembly import _polygon_batch

    return _polygon_batch(flat, _merc_fwd)


_pts_line_3857_udf = _lazy("line3857", _pts_line_3857, "binary")
_pts_poly_3857_udf = _lazy("poly3857", _pts_poly_3857, "binary")


def pts_linestring_wkb_3857(col: Column, single_eval: bool = False) -> Column:
    from osm2pgsql_spark.operators.assembly import _flat_pts

    return _pts_line_3857_udf(_flat_pts(col), single_eval=single_eval)


def pts_polygon_wkb_3857(col: Column, single_eval: bool = False) -> Column:
    from osm2pgsql_spark.operators.assembly import _flat_pts

    return _pts_poly_3857_udf(_flat_pts(col), single_eval=single_eval)


def pts_linestring_wkb(col: Column, single_eval: bool = False) -> Column:
    """4326 variant — delegates to assembly.pts_to_linestring_wkb (the
    single owner of the dup-removal / <2-points-null semantics)."""
    from osm2pgsql_spark.operators import assembly

    return assembly.pts_to_linestring_wkb(col, single_eval=single_eval)


def pts_polygon_wkb(col: Column, single_eval: bool = False) -> Column:
    """4326 variant — delegates to assembly.pts_to_polygon_wkb."""
    from osm2pgsql_spark.operators import assembly

    return assembly.pts_to_polygon_wkb(col, single_eval=single_eval)


# ------------------------------------------------------ scalar measures

def _measure(fn):
    def inner(wkb: pd.Series) -> pd.Series:
        return pd.Series([fn(G.from_wkb(w)) if w is not None else None for w in wkb], dtype="float64")

    return inner


# area kernels keep the per-row parse: polygon shoelace/authalic math
# dominates their cost, not the parse.  The length/count/bbox family
# goes through the batch twins (functions/geombatch.py, §4.2) — same
# bits, one header scan + batch-wide math instead of a full per-row
# parse (pinned identical by tests/test_geombatch.py).
wkb_area = _lazy("area", _measure(G.area), "double")
wkb_spherical_area = _lazy("sph_area", _measure(G.spherical_area), "double")
def _sph_area_sphere(wkb: pd.Series) -> pd.Series:
    return GB.batch_spherical_area_sphere(wkb.tolist())


wkb_spherical_area_sphere = _lazy("sph_area_sphere", _sph_area_sphere, "double")


def _length(wkb: pd.Series) -> pd.Series:
    return GB.batch_length(wkb.tolist())


wkb_length = _lazy("length", _length, "double")


def _npoints(wkb: pd.Series) -> pd.Series:
    return GB.batch_npoints(wkb.tolist())


wkb_num_points = _lazy("npoints", _npoints, "bigint")


def _ngeoms(wkb: pd.Series) -> pd.Series:
    return GB.batch_ngeoms(wkb.tolist())


wkb_num_geometries = _lazy("ngeoms", _ngeoms, "bigint")


def _geom_type(wkb: pd.Series) -> pd.Series:
    return GB.batch_geom_type(wkb.tolist())


wkb_geometry_type = _lazy("gtype", _geom_type, "string")


# -------------------------------------------------------- transformers

def _unary_geom(fn):
    def inner(wkb: pd.Series) -> pd.Series:
        out = []
        for w in wkb:
            if w is None:
                out.append(None)
                continue
            out.append(G.to_wkb(fn(G.from_wkb(w))))
        return pd.Series(out, dtype=object)

    return inner


def _reverse(wkb: pd.Series) -> pd.Series:
    return GB.batch_reverse(wkb.tolist())


def _to3857(wkb: pd.Series) -> pd.Series:
    return GB.batch_transform_3857(wkb.tolist())


wkb_centroid = _lazy("centroid", _unary_geom(G.centroid), "binary")
wkb_reverse = _lazy("rev", _reverse, "binary")
wkb_line_merge = _lazy("lmerge", _unary_geom(G.line_merge), "binary")
wkb_transform_3857 = _lazy("to3857", _to3857, "binary")


def _transform_epsg(wkb: pd.Series, code: pd.Series) -> pd.Series:
    from osm2pgsql_spark.functions.projection import transform_epsg

    out = []
    for w, c in zip(wkb, code):
        if w is None:
            out.append(None)
            continue
        out.append(G.to_wkb(transform_epsg(G.from_wkb(w), int(c))))
    return pd.Series(out, dtype=object)


_transform_epsg_udf = _lazy("toepsg", _transform_epsg, "binary")


def _split_parts(wkb: pd.Series) -> pd.Series:
    return GB.batch_split_multi(wkb.tolist())


wkb_split_parts = _lazy("splitparts", _split_parts, "array<binary>")
"""wkb_split_parts + F.explode = the reference's split_multi explode
(src/geom-functions.cpp:497 + legacy -G handling)."""


def wkb_transform_epsg(wkb: Column, code: int) -> Column:
    """Forward 4326 -> arbitrary EPSG (functions/projection.py;
    reference selects any PROJ-known SRS at src/reprojection.cpp:83)."""
    from pyspark.sql import functions as F

    return _transform_epsg_udf(wkb, F.lit(int(code)))


def _simplify(wkb: pd.Series, tol: pd.Series) -> pd.Series:
    return GB.batch_simplify(wkb.tolist(), tol)


_simplify_udf = _lazy("simplify", _simplify, "binary")


def wkb_simplify(wkb: Column, tolerance: float, single_eval: bool = False) -> Column:
    from pyspark.sql import functions as F

    return _simplify_udf(wkb, F.lit(float(tolerance)), single_eval=single_eval)


def _segmentize(wkb: pd.Series, maxlen: pd.Series) -> pd.Series:
    return GB.batch_segmentize(wkb.tolist(), maxlen)


_segmentize_udf = _lazy("segmentize", _segmentize, "binary")


def wkb_segmentize(
    wkb: Column, max_segment_length: float, single_eval: bool = False
) -> Column:
    from pyspark.sql import functions as F

    return _segmentize_udf(
        wkb, F.lit(float(max_segment_length)), single_eval=single_eval
    )


def _multi_part_stats(wkb: pd.Series) -> pd.DataFrame:
    return GB.batch_multi_part_stats(wkb.tolist())


wkb_multi_part_stats = _lazy(
    "part_stats", _multi_part_stats, "struct<n_parts:bigint,part_points:bigint>"
)
"""Fused split_multi + per-part num_points + (count, max) for callers
that only need the part statistics: one kernel pass, no part WKBs
across the boundary, no explode, no aggregation shuffle (guide §2.4 +
§4.2).  Null struct fields when the split yields no parts — filter
n_parts isNotNull to reproduce the explode's row drop."""


def _bbox(wkb: pd.Series) -> pd.DataFrame:
    return GB.batch_bbox(wkb.tolist())


wkb_bbox = _lazy(
    "bbox", _bbox, "struct<min_x:double,min_y:double,max_x:double,max_y:double>"
)


def _centroid_xy(wkb: pd.Series) -> pd.DataFrame:
    return GB.batch_centroid_xy(wkb.tolist())


wkb_centroid_xy = _lazy("centroid_xy", _centroid_xy, "struct<x:double,y:double>")


def _distance(wa: pd.Series, wb: pd.Series) -> pd.Series:
    return GB.batch_distance(wa.tolist(), wb.tolist())


wkb_distance = _lazy("distance", _distance, "double")


def _interpolate_xy(wkb: pd.Series, frac: pd.Series) -> pd.DataFrame:
    return GB.batch_interpolate_xy(wkb.tolist(), frac)


_interpolate_udf = _lazy("interp_xy", _interpolate_xy, "struct<x:double,y:double>")


def wkb_interpolate_xy(wkb: Column, fraction: float) -> Column:
    from pyspark.sql import functions as F

    return _interpolate_udf(wkb, F.lit(float(fraction)))


def _polylabel_xy(wkb: pd.Series, stretch: pd.Series) -> pd.DataFrame:
    from osm2pgsql_spark.functions.polylabel import pole_of_inaccessibility

    rows = []
    for w, st in zip(wkb, stretch):
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


_polylabel_udf = _lazy("polylabel_xy", _polylabel_xy, "struct<x:double,y:double>")


def wkb_polylabel_xy(wkb: Column, stretch: float = 1.0) -> Column:
    """Pole of inaccessibility of a polygon WKB (reference
    src/geom-pole-of-inaccessibility.cpp via functions.polylabel)."""
    from pyspark.sql import functions as F

    return _polylabel_udf(wkb, F.lit(float(stretch)))
