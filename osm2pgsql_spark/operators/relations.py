"""Relation geometry assembly: multipolygons and merged-line routes.

Reference:
- member fetch: two-level join relation->ways->node locations
  (/root/reference/src/middle.hpp:80-89, used
  /root/reference/src/output-flex.cpp:713-736)
- multipolygon: ring assembly from member ways — endpoint stitching
  into closed rings, then outer/inner classification
  (/root/reference/src/geom-area-assembler.cpp:23-56, wrapping the
  libosmium BasicAssembler)
- multilinestring for routes/boundaries: concatenate member lines,
  optionally line_merge (/root/reference/src/geom-from-osm.cpp:136-279,
  line_merge /root/reference/src/geom-functions.cpp:594-767)

Spark-first: the two joins are ordinary shuffles (relation members
exploded; AQE handles the skew from mega-relations — the reference
caps members at 32767, src/osmdata.cpp:151).  Per-relation ring
assembly is a groupBy(rel_id).applyInPandas kernel: each relation's
members arrive as one pandas group, the stitching is pure python on
a handful of rings.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm2pgsql_spark.functions import geometry as G
from osm2pgsql_spark.operators import assembly


def member_way_points(
    relations: DataFrame, ways: DataFrame | None, nodes: DataFrame | None,
    way_points: DataFrame | None = None,
) -> DataFrame:
    """(rel_id, member_pos, role, way_id, line_wkb) — each relation's
    member ways as assembled linestring WKB.

    relations follow model.RELATION_SCHEMA (members array of structs).
    way_points: the (way_id, pts) point lists from
    assembly.assemble_points, when the caller has already built them;
    without it they are assembled here from ways and nodes.
    """
    m = relations.select(
        F.col("id").alias("rel_id"),
        F.posexplode("members").alias("member_pos", "m"),
    ).where(F.col("m.type") == "w").select(
        "rel_id", "member_pos", F.col("m.ref").alias("way_id"), F.col("m.role").alias("role")
    )
    if way_points is None:
        refs = ways.select(F.col("id").alias("way_id"), F.posexplode("refs").alias("pos", "ref"))
        nloc = nodes.select(F.col("id").alias("node_id"), "lon", "lat")
        way_points = assembly.assemble_points(
            refs, nloc, way_id="way_id", pos="pos", ref="ref", node_id="node_id", x="lon", y="lat"
        )
    wpts = way_points.select("way_id", "pts")
    # member geometry travels as WKB binary: Arrow round-trips flat
    # binary lists cheaply, while ragged array<array<struct>> nesting
    # is both slower and unsupported in pandas-UDF conversion.
    # The WKB kernel runs AFTER the join: an ArrowEvalPython node does
    # not propagate its child's outputPartitioning, so kernel-above-agg
    # made EnsureRequirements re-shuffle the assembled geometry by
    # way_id a second time just to satisfy this join.  Post-join, the
    # join reuses the aggregation's exchange and the kernel output
    # flows straight into the downstream rel_id exchange (the kernel
    # maps null pts -> null, preserving left-join semantics).
    joined = m.join(wpts, "way_id", "left")
    return joined.select(
        "way_id", "rel_id", "member_pos", "role",
        assembly.pts_to_linestring_wkb(F.col("pts")).alias("line_wkb"),
    )


# ------------------------------------------------------ ring assembly

def _ring_ok(ring: np.ndarray) -> bool:
    """A candidate ring is valid only if it encloses area: the
    libosmium area assembler rejects degenerate (e.g. collinear)
    rings, so 'closed but flat' member chains produce no polygon
    (pinned by BDD relation-changes.feature 'Changing node adds
    relation': three collinear grid nodes give 0 rows)."""
    x, y = ring[:-1, 0], ring[:-1, 1]
    x2, y2 = ring[1:, 0], ring[1:, 1]
    return bool(np.abs(np.sum(x * y2 - x2 * y)) > 0.0)


def _stitch_rings(lines: list[np.ndarray]) -> list[np.ndarray]:
    """Stitch open ways into closed rings by matching endpoints
    (libosmium-assembler correct-data semantics: every endpoint joins
    exactly two ways; leftovers that can't close are dropped)."""
    closed: list[np.ndarray] = []
    open_parts: list[np.ndarray] = []
    seen: set[bytes] = set()
    for a in lines:
        if a is None or len(a) < 2:
            continue
        a = np.asarray(a, dtype="f8")
        # broken-data tolerance: a member listed twice (same points in
        # either direction) contributes once — otherwise the duplicate
        # stitches back onto itself into a zero-area non-ring and
        # poisons the chain
        k = min(a.tobytes(), a[::-1].copy().tobytes())
        if k in seen:
            continue
        seen.add(k)
        if np.array_equal(a[0], a[-1]) and a.shape[0] >= 4 and _ring_ok(a):
            closed.append(a)
        else:
            open_parts.append(a)

    def key(p) -> tuple[float, float]:
        return (float(p[0]), float(p[1]))

    # endpoint index: O(1) next-part lookup instead of a linear scan
    # per chain extension (the scan was O(parts^2) — 2 minutes for one
    # 32767-member relation; the osmium assembler indexes endpoints
    # the same way).  Candidates keep LIST ORDER and front-end-first
    # matching, so the stitched result is identical to the old scan.
    from collections import defaultdict

    ends: dict = defaultdict(list)
    for idx, part in enumerate(open_parts):
        ends[key(part[0])].append(idx)
        if key(part[-1]) != key(part[0]):
            ends[key(part[-1])].append(idx)
    used = [False] * len(open_parts)
    for s in range(len(open_parts)):
        if used[s]:
            continue
        used[s] = True
        chain = [open_parts[s]]
        start = key(chain[0][0])
        cur = key(chain[0][-1])
        progressed = True
        while cur != start and progressed:
            progressed = False
            for idx in ends.get(cur, ()):
                if used[idx]:
                    continue
                part = open_parts[idx]
                if key(part[0]) == cur:
                    chain.append(part[1:])
                elif key(part[-1]) == cur:
                    chain.append(part[::-1][1:])
                else:
                    continue
                used[idx] = True
                cur = key(chain[-1][-1])
                progressed = True
                break
        ring = np.vstack(chain)
        if key(ring[0]) == key(ring[-1]) and ring.shape[0] >= 4 and _ring_ok(ring):
            closed.append(ring)
        # else: dangling members — dropped (tolerant like the reference)
    return closed


def _point_in_ring(pt: np.ndarray, ring: np.ndarray) -> bool:
    x, y = float(pt[0]), float(pt[1])
    x0, y0 = ring[:-1, 0], ring[:-1, 1]
    x1, y1 = ring[1:, 0], ring[1:, 1]
    cross = (y0 > y) != (y1 > y)
    with np.errstate(divide="ignore", invalid="ignore"):
        xin = x0 + (y - y0) / (y1 - y0) * (x1 - x0)
    return bool(np.count_nonzero(cross & (x < xin)) % 2)


def assemble_multipolygon(lines: list[np.ndarray]):
    """Member way point-lists -> multipolygon (outer/inner by nesting
    depth; even depth = outer).  Returns geometry or None."""
    rings = _stitch_rings(lines)
    if not rings:
        return None
    # nesting depth of each ring = number of other rings containing it
    depths = []
    for i, r in enumerate(rings):
        d = 0
        probe = r[0]
        for j, other in enumerate(rings):
            if i != j and _point_in_ring(probe, other):
                d += 1
        depths.append(d)
    outers = [i for i, d in enumerate(depths) if d % 2 == 0]
    polys = []
    for oi in outers:
        inners = [
            rings[j]
            for j, d in enumerate(depths)
            if d == depths[oi] + 1 and _point_in_ring(rings[j][0], rings[oi])
        ]
        polys.append([rings[oi], *inners])
    if not polys:
        return None
    return ("multipolygon", polys)


def _decode_lines(parts) -> list[np.ndarray]:
    lines = []
    for w in parts:
        if w is None:
            continue
        g = G.from_wkb(bytes(w))
        if g is not None and g[0] == "linestring":
            lines.append(g[1])
    return lines


def _mp_kernel(wkb_list: list) -> pd.Series:
    out = []
    for parts in wkb_list:
        if parts is None or len(parts) == 0:
            out.append(None)
            continue
        out.append(G.to_wkb(assemble_multipolygon(_decode_lines(parts))))
    return pd.Series(out, dtype=object)


def _ml_kernel(wkb_list: list) -> pd.Series:
    """Member lines -> line_merge'd multilinestring WKB, parts sorted
    by WKB bytes for deterministic output (SURVEY §7 risk (d))."""
    out = []
    for parts in wkb_list:
        if parts is None or len(parts) == 0:
            out.append(None)
            continue
        lines = _decode_lines(parts)
        if not lines:
            out.append(None)
            continue
        merged = G.line_merge(("multilinestring", lines))
        if merged is None:
            out.append(None)
            continue
        # serialize each part once and sort the WKB strings directly —
        # to_wkb(multilinestring) is exactly header + count + the
        # concatenated part WKBs, so this matches the old
        # sort-by-key + re-serialize output byte for byte
        part_wkbs = sorted(G.to_wkb(("linestring", a)) for a in merged[1])
        out.append(
            b"\x01\x05\x00\x00\x00"
            + struct.pack("<I", len(part_wkbs))
            + b"".join(part_wkbs)
        )
    return pd.Series(out, dtype=object)


def grouped_member_wkbs(
    relations: DataFrame, ways: DataFrame | None, nodes: DataFrame | None,
    kernel_partitions: int | None = None,
    way_points: DataFrame | None = None,
) -> DataFrame:
    """(rel_id, member_wkbs ARRAY<BINARY>) — the assembled member-way
    lines per relation.  The shared input of every ring-assembly
    operator; callers running several of them over the same relations
    should build this once (and localCheckpoint it) instead of paying
    the member->way->node join per operator.

    kernel_partitions: same contract as relation_multilinestrings —
    repartition by rel_id before the groupBy so the downstream
    ring-assembly kernels inherit compute-sized partitions instead of
    AQE's byte-sized 1-2 at small data (no extra Exchange: Catalyst
    reuses the user partitioning for the aggregation).
    way_points: as in member_way_points."""
    mw = member_way_points(relations, ways, nodes, way_points)
    if kernel_partitions:
        mw = mw.repartition(kernel_partitions, "rel_id")
    return mw.groupBy("rel_id").agg(
        F.collect_list("line_wkb").alias("member_wkbs")
    )


def relation_multipolygons(
    relations: DataFrame | None,
    ways: DataFrame | None = None,
    nodes: DataFrame | None = None,
    grouped: DataFrame | None = None,
) -> DataFrame:
    """(rel_id, geom WKB multipolygon) for every relation, from its
    member ways.  Null geom where assembly fails.  Pass `grouped`
    (from grouped_member_wkbs) to reuse an already-built member
    assembly."""
    from osm2pgsql_spark.operators.geom_udfs import kernel_udf

    if grouped is None:
        grouped = grouped_member_wkbs(relations, ways, nodes)
    udf = kernel_udf("relation_multipolygon_wkb")
    return grouped.select("rel_id", udf(F.col("member_wkbs")).alias("geom"))


def _mp_parts(parts, as_multi: bool):
    """One relation's member WKBs -> [polygon_or_multi_wkb] or None
    when nothing assembles."""
    lines = _decode_lines(parts) if parts is not None and len(parts) else []
    mp = assemble_multipolygon(lines) if lines else None
    if mp is None:
        return None
    rows = [G.to_wkb(("polygon", rings)) for rings in mp[1]]
    # with -G a single-outer assembly stays a POLYGON, only true
    # multi-part areas collapse to one MULTIPOLYGON row
    # (reference create_multipolygon, geom-from-osm.cpp:230-243)
    if as_multi and len(rows) > 1:
        rows = [G.to_wkb(mp)]
    return rows


def _parts_kernel(wkb_lists: list, as_multi: pd.Series) -> pd.Series:
    """Scalar Arrow kernel: collect_list of member WKBs ->
    array<binary> of split polygon WKBs.  Scalar pandas UDFs batch
    thousands of relations per Arrow transfer; the grouped-map
    (applyInPandas) alternative paid per-group pandas frame overhead
    that dominated at bench scale (15s for ~5k relations vs ~1s
    here)."""
    return pd.Series(
        [_mp_parts(parts, bool(m)) for parts, m in zip(wkb_lists, as_multi)],
        dtype=object,
    )


def relation_polygon_parts(
    relations: DataFrame | None,
    ways: DataFrame | None = None,
    nodes: DataFrame | None = None,
    enable_multi: bool = False,
    grouped: DataFrame | None = None,
) -> DataFrame:
    """(rel_id, part_pos, wkb, area) — assembled multipolygon split
    into one row per constituent polygon, each with planar area (holes
    subtracted): the reference's split_multi + per-part way_area
    (split default, /root/reference/src/output-pgsql.cpp:301-317).
    With enable_multi (-G) each relation yields ONE multipolygon row
    whose area is the sum over parts.  Relations whose members
    assemble to nothing (broken rings, deleted members) drop out —
    the reference's tolerance for broken multipolygon data (osmium
    area-assembler failure skips the object).  One ring-assembly
    kernel pass (pinned, so neither the `parts IS NOT NULL` filter nor
    the explode's size guard re-runs it); per-part area comes from the
    shared wkb_area kernel on the exploded (small) part rows."""
    from osm2pgsql_spark.operators.geom_udfs import kernel_udf, wkb_area

    if grouped is None:
        grouped = grouped_member_wkbs(relations, ways, nodes)
    parts = kernel_udf("relation_polygon_part_wkbs")(
        F.col("member_wkbs"), F.lit(bool(enable_multi))
    )
    packed = grouped.select("rel_id", parts.alias("parts")).where(
        F.col("parts").isNotNull()
    )
    return packed.select(
        "rel_id", F.posexplode("parts").alias("part_pos", "wkb")
    ).select(
        "rel_id", "part_pos", "wkb", wkb_area(F.col("wkb")).alias("area")
    )


def relation_multilinestrings(
    relations: DataFrame, ways: DataFrame | None, nodes: DataFrame | None,
    merge: bool = True, kernel_partitions: int | None = None,
    way_points: DataFrame | None = None,
) -> DataFrame:
    """(rel_id, geom WKB multilinestring), line-merged (route/boundary
    relations; reference as_multilinestring + line_merge).

    kernel_partitions: AQE sizes post-shuffle partitions by BYTES,
    which under-provisions the per-relation line_merge kernel (a few
    MB of collected members coalesce to 1-2 partitions and the Python
    kernel runs near-serial).  Passing the compute parallelism here
    repartitions by rel_id BEFORE the groupBy — Catalyst reuses that
    hash partitioning for the aggregation (no extra Exchange) and AQE
    leaves user-specified partition counts alone, so the kernel runs
    P-way at zero added shuffle cost.  None keeps byte-sized
    partitioning (right when the output feeds more shuffles, or at
    scales where byte-sizing already yields wide plans).
    way_points: as in member_way_points."""
    from osm2pgsql_spark.operators.geom_udfs import kernel_udf

    mw = member_way_points(relations, ways, nodes, way_points)
    if kernel_partitions:
        mw = mw.repartition(kernel_partitions, "rel_id")
    # member order, not row-arrival order: line_merge starts a closed
    # loop at its first part, and collect_list after a shuffle follows
    # whatever order the rows arrive in
    grouped = mw.groupBy("rel_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("member_pos", "line_wkb"))),
            lambda s: s["line_wkb"],
        ).alias("member_wkbs")
    )
    udf = kernel_udf("relation_multilinestring_wkb")
    return grouped.select("rel_id", udf(F.col("member_wkbs")).alias("geom"))


# ------------------------------------- multipoint / geometrycollection

def _mpoint_kernel(pts_list: list) -> pd.Series:
    """[(member_pos, lon, lat)] sorted -> point/multipoint WKB
    (reference create_multipoint, src/geom-from-osm.cpp:136-170)."""
    out = []
    for arr in pts_list:
        if arr is None or len(arr) == 0:
            out.append(None)
            continue
        pts = [
            None if p["lon"] is None or pd.isna(p["lon"]) else (p["lon"], p["lat"])
            for p in arr
        ]
        out.append(G.to_wkb(G.create_multipoint(pts)))
    return pd.Series(out, dtype=object)


def _coll_kernel(wkbs: list) -> pd.Series:
    """[(member_pos, wkb)] sorted -> geometrycollection WKB (reference
    create_collection, src/geom-from-osm.cpp:253-279)."""
    out = []
    for arr in wkbs:
        if arr is None or len(arr) == 0:
            out.append(None)
            continue
        parts = []
        for item in arr:
            w = item["wkb"]
            parts.append(None if w is None else G.from_wkb(bytes(w)))
        out.append(G.to_wkb(G.create_collection(parts)))
    return pd.Series(out, dtype=object)


def relation_multipoints(relations: DataFrame, nodes: DataFrame) -> DataFrame:
    """(rel_id, geom WKB) — point/multipoint from the relation's node
    members in member order (reference as_multipoint,
    src/geom-from-osm.cpp:136-170 via src/output-flex.cpp:453-606)."""
    from osm2pgsql_spark.operators.geom_udfs import kernel_udf

    m = (
        relations.select(
            F.col("id").alias("rel_id"), F.posexplode("members").alias("member_pos", "m")
        )
        .where(F.col("m.type") == "n")
        .select("rel_id", "member_pos", F.col("m.ref").alias("node_id"))
    )
    nloc = nodes.select(F.col("id").alias("node_id"), "lon", "lat")
    j = m.join(nloc, "node_id", "left")
    grouped = j.groupBy("rel_id").agg(
        F.array_sort(F.collect_list(F.struct("member_pos", "lon", "lat"))).alias("pts")
    )
    udf = kernel_udf("relation_multipoint_wkb")
    return grouped.select("rel_id", udf(F.col("pts")).alias("geom"))


def relation_collections(
    relations: DataFrame, ways: DataFrame, nodes: DataFrame
) -> DataFrame:
    """(rel_id, geom WKB geometrycollection) — node members as points,
    way members as linestrings, in member order (reference
    as_geometrycollection, src/geom-from-osm.cpp:253-279)."""
    from osm2pgsql_spark.operators.geom_udfs import kernel_udf, point_wkb

    nm = (
        relations.select(
            F.col("id").alias("rel_id"), F.posexplode("members").alias("member_pos", "m")
        )
        .where(F.col("m.type") == "n")
        .select("rel_id", "member_pos", F.col("m.ref").alias("node_id"))
    )
    nloc = nodes.select(F.col("id").alias("node_id"), "lon", "lat")
    npts = nm.join(nloc, "node_id", "left").select(
        "rel_id",
        "member_pos",
        F.when(
            F.col("lon").isNotNull(), point_wkb(F.col("lon"), F.col("lat"))
        ).alias("wkb"),
    )
    wlines = member_way_points(relations, ways, nodes).select(
        "rel_id", "member_pos", F.col("line_wkb").alias("wkb")
    )
    members = npts.unionByName(wlines)
    grouped = members.groupBy("rel_id").agg(
        F.array_sort(F.collect_list(F.struct("member_pos", "wkb"))).alias("parts")
    )
    udf = kernel_udf("relation_collection_wkb")
    return grouped.select("rel_id", udf(F.col("parts")).alias("geom"))
