"""More reference BDD flex scenarios: untagged callbacks, line
splitting, id-cache membership, delete callbacks.

Ported from /root/reference/tests/bdd/flex/{untagged,line-splitting,
id-cache,delete-callbacks}.feature.  The Lua callback surface maps to
FlexConfig.process() (callbacks see every object, tagged or not, so
process_untagged_* is a tag-count branch) and id-cache membership
(barriers:in_id_cache(object.nodes), the reference's per-table id
cache) is the refs-explode semi-join — the id cache IS a distributed
join key set here.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from osm2pgsql_spark.functions import geometry as G
from osm2pgsql_spark.plans.flex import ColumnDef, FlexConfig
from osm2pgsql_spark.sources.opl import grid_nodes, read_opl
from osm2pgsql_spark.streaming.append import apply_diff


def _merge_nodes(spark, grid_lines, data_text):
    """BDD semantics: the grid declares node locations, the OSM data
    block adds tags to the same ids — merge by id (location from the
    grid, tags from the data block)."""
    gn, _, _ = read_opl(spark, grid_lines)
    dn, dw, dr = read_opl(spark, data_text.strip().splitlines())
    merged = (
        gn.select("id", "lat", "lon")
        .join(dn.select("id", "tags", "version", "visible"), "id", "full")
        .select(
            "id", "lat", "lon",
            F.coalesce("tags", F.create_map().cast("map<string,string>")).alias("tags"),
            F.coalesce("version", F.lit(1)).alias("version"),
            F.lit(None).cast("timestamp").alias("ts"),
            F.lit(None).cast("bigint").alias("changeset"),
            F.lit(None).cast("bigint").alias("uid"),
            F.lit(None).cast("string").alias("user"),
            F.coalesce("visible", F.lit(True)).alias("visible"),
        )
    )
    return merged, dw, dr


# ------------------------------------------------------------- untagged

def test_untagged_callbacks(spark):
    """untagged.feature: process_untagged_* callbacks receive objects
    with no tags; both routes land in the same tables with a `tagged`
    flag."""
    nodes, ways, _ = read_opl(
        spark,
        [
            "n11 v1 dV x1 y1",
            "n12 v1 dV x2 y2",
            "n13 v1 dV x3 y3",
            "n14 v1 dV Tamenity=restaurant x4 y4",
            "w20 v1 dV Thighway=primary Nn11,n12",
            "w21 v1 dV Nn13,n14",
        ],
    )
    cfg = FlexConfig()
    cfg.define_table(
        "nodes_t", ids="node",
        columns=[ColumnDef("tagged", "boolean"), ColumnDef("geom", "point", not_null=True)],
    )
    cfg.define_table(
        "ways_t", ids="way",
        columns=[ColumnDef("tagged", "boolean"), ColumnDef("geom", "linestring", not_null=True)],
    )

    def node_cb(obj):
        # process_node + process_untagged_node in one: the callback
        # sees every object and branches on the tag count
        yield "nodes_t", {"tagged": bool(obj["tags"]), "geom": obj["geom_point"]}

    def way_cb(obj):
        if obj["geom_line"] is not None:
            yield "ways_t", {"tagged": bool(obj["tags"]), "geom": obj["geom_line"]}

    cfg.process("node", node_cb)
    cfg.process("way", way_cb)
    out = cfg.run(nodes=nodes, ways=ways)
    got_n = {r["osm_id"]: r["tagged"] for r in out["nodes_t"].collect()}
    assert got_n == {11: False, 12: False, 13: False, 14: True}
    got_w = {r["osm_id"]: r["tagged"] for r in out["ways_t"].collect()}
    assert got_w == {20: True, 21: False}


# -------------------------------------------------------- line splitting

def test_line_splitting(spark):
    """line-splitting.feature: segmentize(1.0) inside a way callback
    emits one row per split part; part lengths are max-length chunks
    with the remainder last (geom-functions.cpp:271-342)."""
    # 0.5 grid, southwest origin (20, 20): n10 x20, n11 x21, n12 x22.5
    lines = grid_nodes("10 . 11 . . 12", origin=(20.0, 20.0), cell=0.5)
    nodes, ways, _ = read_opl(
        spark,
        lines + [
            "w20 v1 dV Thighway=primary Nn10,n11",
            "w21 v1 dV Thighway=primary Nn10,n12",
        ],
    )
    cfg = FlexConfig()
    cfg.define_table(
        "line", ids="way", columns=[ColumnDef("geom", "linestring", not_null=True)]
    )
    cfg.define_table(
        "split", ids="way", columns=[ColumnDef("geom", "linestring", not_null=True)]
    )

    def way_cb(obj):
        if obj["geom_line"] is None:
            return
        yield "line", {"geom": obj["geom_line"]}
        multi = G.segmentize(G.from_wkb(obj["geom_line"]), 1.0)
        if multi is not None:
            for part in multi[1]:
                yield "split", {"geom": G.to_wkb(("linestring", np.asarray(part)))}

    cfg.process("way", way_cb)
    out = cfg.run(nodes=nodes, ways=ways)

    def lengths(df):
        got = {}
        for r in df.collect():
            g = G.from_wkb(r["geom"])
            got.setdefault(r["osm_id"], []).append(round(G.length(g), 9))
        return {k: sorted(v, reverse=True) for k, v in got.items()}

    assert lengths(out["line"]) == {20: [1.0], 21: [2.5]}
    assert lengths(out["split"]) == {20: [1.0], 21: [1.0, 1.0, 0.5]}
    # split part coordinates for w21: chunks at x=20,21,22,22.5
    xs = sorted(
        tuple(G.from_wkb(r["geom"])[1][:, 0]) for r in out["split"].collect()
        if r["osm_id"] == 21
    )
    assert xs == [(20.0, 21.0), (21.0, 22.0), (22.0, 22.5)]


# ------------------------------------------------------------- id cache

ID_CACHE_GRID = [["", "10", "11", "12"], ["14", "15", "", "16"]]

ID_CACHE_DATA = """
n10 v1 dV Tbarrier=gate
n16 v1 dV Tbarrier=lift_gate
w20 v1 dV Thighway=residential Nn10,n11,n12,n16
w21 v1 dV Thighway=residential Nn14,n15,n10
"""


def _id_cache_tables(spark, nodes, ways):
    """id-cache.feature config: barriers (tagged nodes), highways, and
    b_on_h = barrier nodes appearing in a highway's node list.  The
    Lua barriers:in_id_cache(object.nodes) membership probe
    (flex id-cache, reference lua-table-ids) is the refs-explode
    semi-join on the barrier id set."""
    cfg = FlexConfig()
    cfg.define_table(
        "barriers", ids="node",
        columns=[ColumnDef("btype", "text", not_null=True),
                 ColumnDef("geom", "point", not_null=True)],
    )
    cfg.define_table(
        "highways", ids="way",
        columns=[ColumnDef("htype", "text", not_null=True),
                 ColumnDef("geom", "linestring", not_null=True)],
    )
    cfg.insert("barriers", "node", when=F.col("tags")["barrier"].isNotNull(),
               btype=F.col("tags")["barrier"])
    cfg.insert("highways", "way", when=F.col("tags")["highway"].isNotNull(),
               htype=F.col("tags")["highway"])
    out = cfg.run(nodes=nodes, ways=ways)

    barrier_ids = out["barriers"].select(F.col("osm_id").alias("ref"))
    refs = ways.where(F.col("tags")["highway"].isNotNull()).select(
        F.col("id").alias("way_id"), F.explode("refs").alias("ref")
    )
    out["b_on_h"] = (
        refs.join(barrier_ids, "ref")
        .join(
            out["highways"].select(
                F.col("osm_id").alias("way_id"), "htype",
                F.col("geom").alias("hgeom"),
            ),
            "way_id",
        )
        .join(
            out["barriers"].select(
                F.col("osm_id").alias("ref"), F.col("geom").alias("bgeom")
            ),
            "ref",
        )
        .select("way_id", F.col("ref").alias("node_id"), "htype", "hgeom", "bgeom")
    )
    return out


def _bh(df):
    return sorted((r["way_id"], r["node_id"]) for r in df.collect())


def test_id_cache_simple_import(spark):
    from tests.test_flex_updates import _grid

    nodes, ways, _ = _merge_nodes(spark, _grid(ID_CACHE_GRID), ID_CACHE_DATA)
    out = _id_cache_tables(spark, nodes, ways)
    assert sorted(r["osm_id"] for r in out["barriers"].collect()) == [10, 16]
    assert sorted(r["osm_id"] for r in out["highways"].collect()) == [20, 21]
    assert _bh(out["b_on_h"]) == [(20, 10), (20, 16), (21, 10)]


def test_id_cache_with_updates(spark):
    from tests.test_flex_updates import _grid, _op

    grid_lines = _grid(ID_CACHE_GRID)
    nodes, ways, _ = _merge_nodes(spark, grid_lines, ID_CACHE_DATA)
    out = _id_cache_tables(spark, nodes, ways)
    assert _bh(out["b_on_h"]) == [(20, 10), (20, 16), (21, 10)]

    # diff: n10 loses its barrier tag, n11 gains one; locations stay
    # on the grid
    diff_n, _, _ = _merge_nodes(
        spark, grid_lines, "n10 v2 dV Tno=barrier\nn11 v2 dV Tbarrier=gate"
    )
    diff_n = diff_n.where(F.col("id").isin(10, 11)).withColumn("op", _op())
    nodes2 = apply_diff(nodes, diff_n)
    out2 = _id_cache_tables(spark, nodes2, ways)
    assert sorted(r["osm_id"] for r in out2["barriers"].collect()) == [11, 16]
    assert _bh(out2["b_on_h"]) == [(20, 11), (20, 16)]


# ------------------------------------------------------- delete callbacks

def test_delete_callbacks(spark):
    """delete-callbacks.feature (OPL-scale): deleted objects from a
    diff are routed through callbacks into an any_object change table
    carrying the deleted version."""
    base = """
    n1 v1 dV x0 y0
    n2 v2 dV x1 y0
    w10 v1 dV Nn1,n2
    r20 v4 dV Mw10@
    """
    diff = """
    n2 v3 dD
    w10 v2 dD
    r20 v5 dD
    """
    dn, dw, dr = read_opl(spark, diff.strip().splitlines())

    cfg = FlexConfig()
    cfg.define_table(
        "change", ids="any_object", columns=[ColumnDef("extra", "int4")]
    )

    def deleted(obj):
        yield "change", {"extra": obj["version"]}

    # process_deleted_node/way/relation: callbacks over the diff's
    # delete rows (visible=False)
    for kind in ("node", "way", "relation"):
        cfg.process(kind, deleted)
    out = cfg.run(
        nodes=dn.where(~F.col("visible")),
        ways=dw.where(~F.col("visible")),
        relations=dr.where(~F.col("visible")),
    )["change"]
    got = sorted(
        (r["osm_type"], r["osm_id"], r["extra"]) for r in out.collect()
    )
    assert got == [("n", 2, 3), ("r", 20, 5), ("w", 10, 2)]


def test_extra_attributes_passthrough(spark):
    """extra-attributes.feature: version/changeset/timestamp/uid/user
    flow from the OPL t/c/i/u fields into declared columns (the
    reference's -x object attributes, src/output-flex.cpp:140-155;
    here the source always carries whatever the input had — the -x
    flag is an ingest concern, not an engine mode)."""
    nodes, ways, _ = read_opl(
        spark,
        grid_nodes("11 12\n10 .", origin=(10.0, 10.0))
        + ["w20 v1 dV c31 t2020-01-12T12:34:56Z i17 utest "
           "Thighway=primary Nn10,n11,n12"],
    )
    cfg = FlexConfig()
    cfg.define_table(
        "attr", ids="way",
        columns=[
            ColumnDef("highway", "text"),
            ColumnDef("version", "int4"),
            ColumnDef("changeset", "int4"),
            ColumnDef("epoch", "int4"),
            ColumnDef("uid", "int4"),
            ColumnDef("username", "text"),
            ColumnDef("geom", "linestring", not_null=True),
        ],
    )
    cfg.insert(
        "attr", "way",
        when=F.col("tags")["highway"].isNotNull(),
        highway=F.col("tags")["highway"],
        version=F.col("version").cast("string"),
        changeset=F.col("changeset").cast("string"),
        epoch=F.unix_timestamp(F.to_utc_timestamp("ts", "UTC")).cast("string"),
        uid=F.col("uid").cast("string"),
        username=F.col("user"),
    )
    r = cfg.run(nodes=nodes, ways=ways)["attr"].collect()[0]
    assert (r["osm_id"], r["highway"], r["version"], r["changeset"]) == (
        20, "primary", 1, 31
    )
    assert r["epoch"] == 1578832496  # 2020-01-12T12:34:56Z
    assert (r["uid"], r["username"]) == (17, "test")


# --------------------------------------------------------------- locator

def test_locator_first_and_all_intersecting(spark):
    """locator.feature functional scenarios: first_intersecting picks
    one region (canonicalized to sorted-first; reference order is
    R-tree-unspecified), all_intersecting counts every hit, points in
    no region drop out."""
    from osm2pgsql_spark.operators.locator import all_intersecting, first_intersecting

    pts = spark.createDataFrame(
        [(10, 0.5, 0.5), (11, 2.5, 2.5), (12, 1.5, 1.5), (13, 1.0, 1.0)],
        "node_id long, lon double, lat double",
    )
    regions = spark.createDataFrame(
        [("B1", 0.0, 0.0, 1.0, 1.0), ("B2", 1.0, 1.0, 2.0, 2.0)],
        "name string, min_x double, min_y double, max_x double, max_y double",
    )
    first = {r["node_id"]: r["region"] for r in first_intersecting(pts, regions).collect()}
    # n11 is outside every region; n13 sits on the shared corner
    assert first == {10: "B1", 12: "B2", 13: "B1"}
    alln = {r["node_id"]: r["n_regions"] for r in all_intersecting(pts, regions).collect()}
    assert alln == {10: 1, 12: 1, 13: 2}


def test_locator_polygon_region_from_db(spark):
    """locator.feature 'polygon from db': a triangle region way (10x
    grid) classifies post boxes by exact point-in-polygon — n10 at
    (15, 8) inside the triangle, n11 at (15, 2) outside (below the
    diagonal)."""
    from osm2pgsql_spark.operators import assembly
    from osm2pgsql_spark.operators.locator import polygon_all_intersecting

    # triangle (10,0) (20,10) (10,10) — the feature's P1 region
    tri = spark.createDataFrame(
        [(1, [[10.0, 0.0], [20.0, 10.0], [10.0, 10.0], [10.0, 0.0]])],
        "id long, ring array<array<double>>",
    ).select(
        assembly.pts_to_polygon_wkb(
            F.transform(
                "ring",
                lambda p: F.struct(
                    p[0].alias("x"), p[1].alias("y")
                ),
            )
        ).alias("wkb")
    ).collect()
    pts = spark.createDataFrame(
        [(10, 15.0, 8.0), (11, 15.0, 2.0)], "node_id long, lon double, lat double"
    )
    out = polygon_all_intersecting(pts, [("P1", bytes(tri[0]["wkb"]))])
    hits = {r["node_id"]: r["regions"] for r in out.collect()}
    assert hits == {10: "P1"}


# -------------------------------------------------------------- multigeom

def test_multigeom_split_vs_keep(spark):
    """multigeom.feature: a 2-part multipolygon relation inserted into
    a 'geometry'/'multipolygon' column stays ONE row; inserted into a
    single 'polygon' column it SPLITS into one row per part (reference
    flex multi-into-single-column semantics)."""
    from osm2pgsql_spark.operators import geom_udfs
    from tests.test_flex_updates import _world

    grid = [["13", "12", "", "17", "16"], ["10", "11", "", "14", "15"]]
    data = """
    w21 v1 dV Nn10,n11,n12,n13,n10
    w22 v1 dV Nn14,n15,n16,n17,n14
    r31 v1 dV Ttype=multipolygon,natural=water,name=multi Mw21@outer,w22@outer
    """
    nodes, ways, rels = _world(spark, grid, data, origin=(10.0, 10.0))

    def run(col_type):
        cfg = FlexConfig()
        cfg.define_table(
            "polys", ids="area",
            columns=[ColumnDef("name", "text"),
                     ColumnDef("geom", col_type, not_null=True)],
        )
        cfg.insert(
            "polys", "relation",
            when=F.col("tags")["type"] == "multipolygon",
            name=F.col("tags")["name"],
        )
        return cfg.run(nodes=nodes, ways=ways, relations=rels)["polys"]

    kept = run("multipolygon").select(
        "osm_id", "name",
        geom_udfs.wkb_num_geometries(F.col("geom")).alias("np"),
        geom_udfs.wkb_geometry_type(F.col("geom")).alias("t"),
    ).collect()
    assert [(r["osm_id"], r["name"], r["np"], r["t"]) for r in kept] == [
        (-31, "multi", 2, "MULTIPOLYGON")
    ]

    split = run("polygon").select(
        "osm_id", "name",
        geom_udfs.wkb_geometry_type(F.col("geom")).alias("t"),
        geom_udfs.wkb_area(F.col("geom")).alias("a"),
    ).collect()
    assert len(split) == 2
    assert all(r["osm_id"] == -31 and r["t"] == "POLYGON" for r in split)
    # each square is 0.1 x 0.1 degrees
    assert all(abs(r["a"] - 0.01) < 1e-12 for r in split)
