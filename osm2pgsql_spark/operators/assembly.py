"""Way/relation geometry assembly — THE core operator.

Reference: ways store node-id lists; geometry building resolves each
ref to a location and assembles an ordered point list
(/root/reference/src/middle.hpp:46-51 nodes_get_list,
/root/reference/src/geom-from-osm.cpp:88-133 linestring/polygon,
missing-node tolerance /root/reference/src/output-flex.cpp:240-267).
The reference does this with a random-access node store (800 MB
compressed cache / flat file); at 100 TB scale the Spark-first answer
is a single shuffle join:

    refs(way_id, pos, ref)  ⋈  nodes(node_id, lon, lat)  on ref=node_id
    -> groupBy(way_id) -> array_sort(collect_list(struct(pos, x, y)))

Inner-join semantics == the reference's "skip missing nodes".  The
join is a plain equi-join on int64 — sort-merge at planet scale, AQE
handles the skew; broadcast(nodes) when the extract is small.

Measures (length, shoelace area) are computed JVM-side with
zip_with/aggregate over the assembled array — no Python in the hot
path.  WKB geometry output drops to one Arrow-batched pandas UDF.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from osm2pgsql_spark.functions import geometry as G

D = "double"


def assemble_points(
    way_refs: DataFrame,
    nodes: DataFrame,
    way_id: str = "way_id",
    pos: str = "pos",
    ref: str = "ref",
    node_id: str = "node_id",
    x: str = "lon",
    y: str = "lat",
    broadcast_nodes: bool = False,
) -> DataFrame:
    """(way_id, pts ARRAY<STRUCT<x,y>> ordered, n_refs) — resolved,
    ordered point lists per way.  `n_refs` counts refs *before* the
    join so callers can detect ways with missing nodes."""
    n = nodes.select(
        F.col(node_id).alias("__nid"), F.col(x).alias("x"), F.col(y).alias("y")
    )
    if broadcast_nodes:
        n = F.broadcast(n)
    joined = way_refs.select(way_id, pos, ref).join(
        n, F.col(ref) == F.col("__nid"), "inner"
    )
    # sort key (pos, ref): pos alone need not be unique in synthetic
    # fixtures; ref makes the order total (equal (pos, ref) implies an
    # identical point, so any residual tie is harmless).
    return joined.groupBy(way_id).agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col(pos).alias("p"), F.col(ref).alias("r"), "x", "y"))
            ),
            lambda s: F.struct(s["x"].alias("x"), s["y"].alias("y")),
        ).alias("pts"),
        F.count(F.lit(1)).alias("n_resolved"),
    )


def line_length(pts: Column) -> Column:
    """Planar length over ARRAY<STRUCT<x,y>>, fully JVM-side."""
    n = F.size(pts)
    heads = F.slice(pts, 1, n - 1)
    tails = F.slice(pts, 2, n - 1)
    segs = F.zip_with(
        heads,
        tails,
        lambda a, b: F.sqrt(
            (b["x"] - a["x"]) * (b["x"] - a["x"]) + (b["y"] - a["y"]) * (b["y"] - a["y"])
        ),
    )
    return F.when(n >= 2, F.aggregate(segs, F.lit(0.0), lambda acc, v: acc + v)).otherwise(
        F.lit(0.0)
    )


def shoelace_area(pts: Column) -> Column:
    """abs(shoelace)/2 over ARRAY<STRUCT<x,y>> (ring need not repeat
    the first point; the wrap term closes it), JVM-side."""
    n = F.size(pts)
    heads = F.slice(pts, 1, n - 1)
    tails = F.slice(pts, 2, n - 1)
    cross = F.zip_with(heads, tails, lambda a, b: a["x"] * b["y"] - b["x"] * a["y"])
    last = F.element_at(pts, -1)
    first = F.element_at(pts, 1)
    wrap = last["x"] * first["y"] - first["x"] * last["y"]
    total = F.aggregate(cross, F.lit(0.0), lambda acc, v: acc + v) + wrap
    return F.when(n >= 3, F.abs(total) / F.lit(2.0)).otherwise(F.lit(0.0))


# Kernels receive the point list as ONE interleaved array<double>
# column [x0,y0,x1,y1,...] (built JVM-side by _flat_pts) instead of
# array<struct<x,y>>: struct lists arrive in pandas as per-row arrays
# of dicts whose per-point dict lookups dominated the kernel (guide
# §4.2 — hand whole batches to vectorized numpy), while a flat double
# list lands as one numpy array per row and the whole batch
# concatenates into a single (N,2) matrix.

def _linestring_kernel(flat) -> pd.Series:
    """Batch-vectorized byte-exact twin of
    to_wkb(make_linestring(...)): consecutive-dup removal and the
    <2-points->null rule computed over the whole Arrow batch at once
    (pinned identical to the scalar path by tests/test_geometry.py)."""
    return _line_batch(flat, None)


def _line_batch(flat, transform) -> pd.Series:
    """_linestring_kernel body, with an optional coordinate transform
    applied to the kept points (the 3857 variant).  `flat` is a list
    or Series of interleaved point arrays."""
    nrow = len(flat)
    out: list = [None] * nrow
    vals = list(flat)
    lens = np.array(
        [0 if v is None else len(v) // 2 for v in vals], dtype=np.int64
    )
    tot = int(lens.sum())
    if tot == 0:
        return pd.Series(out, dtype=object)
    A = (
        np.concatenate([v for v in vals if v is not None and len(v)])
        .reshape(-1, 2)
        .astype("<f8", copy=False)
    )
    starts = np.zeros(nrow, dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    keep = np.ones(tot, dtype=bool)
    keep[1:] = (A[1:] != A[:-1]).any(axis=1)
    nz = lens > 0
    keep[starts[nz]] = True  # never dedupe across row boundaries
    counts = np.add.reduceat(keep, starts[nz])
    K = A[keep]
    kstarts = np.zeros(len(counts), dtype=np.int64)
    np.cumsum(counts[:-1], out=kstarts[1:])
    if transform is not None:
        K = np.ascontiguousarray(transform(K), dtype="<f8")
    buf = K.tobytes()
    cnt_bytes = counts.astype("<u4").tobytes()
    hdr = b"\x01\x02\x00\x00\x00"  # little-endian, LINESTRING
    j = 0
    for i in range(nrow):
        if lens[i] == 0:
            continue
        c = counts[j]
        s = kstarts[j]
        if c >= 2:
            out[i] = hdr + cnt_bytes[4 * j : 4 * j + 4] + buf[16 * s : 16 * (s + c)]
        j += 1
    return pd.Series(out, dtype=object)


def _quad_pair_hit(pi, qi, cj, qj):
    """Vectorized twin of geometry._seg_pair_hit for ONE candidate
    segment per anchor: anchor pi->qi against candidate cj->qj, over
    whole row batches.  Same expressions in the same order (2-element
    cross/dot products are plain multiply-subtract/multiply-add, no
    FMA — pinned by tests)."""
    d = qi - pi
    e = qj - cj
    v1 = cj - pi
    v2 = (cj + e) - pi
    r1 = d[:, 0] * v1[:, 1] - d[:, 1] * v1[:, 0]
    r2 = d[:, 0] * v2[:, 1] - d[:, 1] * v2[:, 0]
    v3 = pi - cj
    v4 = qi - cj
    r3 = e[:, 0] * v3[:, 1] - e[:, 1] * v3[:, 0]
    r4 = e[:, 0] * v4[:, 1] - e[:, 1] * v4[:, 0]
    hit = ((r1 > 0) != (r2 > 0)) & ((r3 > 0) != (r4 > 0))
    col = (r1 == 0) & (r2 == 0) & (r3 == 0) & (r4 == 0)
    if col.any():
        t0 = v1[:, 0] * d[:, 0] + v1[:, 1] * d[:, 1]
        t1 = v2[:, 0] * d[:, 0] + v2[:, 1] * d[:, 1]
        lo = np.minimum(t0, t1)
        hi = np.maximum(t0, t1)
        dd = d[:, 0] * d[:, 0] + d[:, 1] * d[:, 1]
        hit = hit | (col & (hi > 0) & (lo < dd))
    return hit


_POLY_HDR = b"\x01\x03\x00\x00\x00\x01\x00\x00\x00"  # LE POLYGON, 1 ring


def _polygon_batch(flat, transform=None):
    """Batch-vectorized byte-exact twin of
    to_wkb(make_polygon_from_array(...)) [+ optional coordinate
    transform applied to valid rings, like the 3857 variant]:
    consecutive-dup removal, closed-ring + >=4-points checks and the
    quad self-intersection test run over the whole Arrow batch; rings
    with more than 4 segments take the scalar sweep per row."""
    nrow = len(flat)
    out: list = [None] * nrow
    vals = list(flat)
    lens = np.array(
        [0 if v is None else len(v) // 2 for v in vals], dtype=np.int64
    )
    tot = int(lens.sum())
    if tot == 0:
        return pd.Series(out, dtype=object)
    A = (
        np.concatenate([v for v in vals if v is not None and len(v)])
        .reshape(-1, 2)
        .astype("<f8", copy=False)
    )
    starts = np.zeros(nrow, dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    keep = np.ones(tot, dtype=bool)
    keep[1:] = (A[1:] != A[:-1]).any(axis=1)
    nz = lens > 0
    keep[starts[nz]] = True  # never dedupe across row boundaries
    counts = np.add.reduceat(keep, starts[nz])
    K = A[keep]
    kstarts = np.zeros(len(counts), dtype=np.int64)
    np.cumsum(counts[:-1], out=kstarts[1:])
    nzi = np.nonzero(nz)[0]  # original row per kept group

    c = counts
    s = kstarts
    ok = c >= 4
    closed = np.zeros(len(c), dtype=bool)
    if ok.any():
        closed[ok] = (K[s[ok]] == K[s[ok] + c[ok] - 1]).all(axis=1)
    good = ok & closed
    quad = good & (c == 5)
    if quad.any():
        q = np.nonzero(quad)[0]
        sq = s[q]
        P0, P1, P2, P3 = K[sq], K[sq + 1], K[sq + 2], K[sq + 3]
        # ring_self_intersects for m=4: non-adjacent pairs (0,2), (1,3)
        hit = _quad_pair_hit(P0, P1, P2, P3) | _quad_pair_hit(P1, P2, P3, P0)
        good[q[hit]] = False
    big = good & (c > 5)
    if big.any():
        # larger rings: the scalar sweep owns the semantics
        for g_idx in np.nonzero(big)[0]:
            i = nzi[g_idx]
            g = G.make_polygon_from_array(
                np.asarray(vals[i], dtype="f8").reshape(-1, 2)
            )
            if g is not None and transform is not None:
                g = ("polygon", [transform(r) for r in g[1]])
            out[i] = G.to_wkb(g)
        good &= ~big

    KT = K
    if transform is not None:
        KT = transform(K)
    buf = np.ascontiguousarray(KT, dtype="<f8").tobytes()
    cnt_bytes = counts.astype("<u4").tobytes()
    for g_idx in np.nonzero(good)[0].tolist():
        i = nzi[g_idx]
        st = kstarts[g_idx]
        out[i] = (
            _POLY_HDR
            + cnt_bytes[4 * g_idx : 4 * g_idx + 4]
            + buf[16 * st : 16 * (st + counts[g_idx])]
        )
    return pd.Series(out, dtype=object)


def _polygon_kernel(flat) -> pd.Series:
    return _polygon_batch(flat, None)


def _flat_pts(col: Column) -> Column:
    """ARRAY<STRUCT<x,y>> -> interleaved ARRAY<DOUBLE> for the kernels
    (one reference to `col`, so an inlined upstream expression is not
    duplicated)."""
    return F.flatten(F.transform(col, lambda p: F.array(p["x"], p["y"])))


def pts_to_linestring_wkb(col: Column) -> Column:
    """ARRAY<STRUCT<x,y>> -> linestring WKB (consecutive-dup removal +
    <2 points -> null, reference src/geom-from-osm.cpp:53-101).  The
    kernel is pinned in the geom_udfs kernel table: it is evaluated
    once however many filters and kernels read its output."""
    from osm2pgsql_spark.operators.geom_udfs import kernel_udf

    return kernel_udf("pts_to_linestring_wkb")(_flat_pts(col))


def pts_to_polygon_wkb(col: Column) -> Column:
    """ARRAY<STRUCT<x,y>> -> polygon WKB for closed rings, else null
    (reference src/geom-from-osm.cpp:104-133); pinned like
    pts_to_linestring_wkb."""
    from osm2pgsql_spark.operators.geom_udfs import kernel_udf

    return kernel_udf("pts_to_polygon_wkb")(_flat_pts(col))


def way_lines(
    way_refs: DataFrame, nodes: DataFrame, with_wkb: bool = False, **kw
) -> DataFrame:
    """Assembled ways with JVM-side length (and optional WKB)."""
    a = assemble_points(way_refs, nodes, **kw)
    out = a.withColumn("length", line_length(F.col("pts")))
    if with_wkb:
        out = out.withColumn("geom", pts_to_linestring_wkb(F.col("pts")))
    return out
