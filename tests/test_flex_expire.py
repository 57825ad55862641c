"""Flex per-column expire wiring (define_expire_output parity)."""

import pytest
from pyspark.sql import functions as F

from osm2pgsql_spark.model import NODE_SCHEMA
from osm2pgsql_spark.plans.flex import ColumnDef, FlexConfig


def test_flex_expire_outputs(spark):
    # node at mercator origin-ish: lon/lat (0.03, 0.03) -> z12 tile near (2048, 2047)
    nodes = spark.createDataFrame(
        [
            (1, 0.03, 0.03, {"amenity": "x"}, None, None, None, None, None, None),
            (2, 0.03, -0.03, {"amenity": "y"}, None, None, None, None, None, None),
        ],
        NODE_SCHEMA,
    )
    cfg = FlexConfig()
    cfg.define_expire_output("tiles", maxzoom=12, minzoom=11)
    cfg.define_table(
        "points",
        ids="node",
        columns=[
            ColumnDef("name", "text"),
            ColumnDef("geom", "point", srid=3857, not_null=True, expire="tiles"),
        ],
    )
    cfg.insert("points", "node", name=F.col("tags")["amenity"])

    tables = cfg.run(nodes=nodes)
    expire = cfg.compute_expire(tables)
    assert set(expire) == {"tiles"}
    tiles = {(r["zoom"], r["x"], r["y"]) for r in expire["tiles"].collect()}
    # node 1 (lon .03) -> z12 (2048, 2047); node 2 (lon -.03) ->
    # (2047, 2047); rolled up to z11 parents
    assert tiles == {
        (12, 2047, 2047),
        (12, 2048, 2047),
        (11, 1023, 1023),
        (11, 1024, 1023),
    }


def test_expire_diff_old_and_new_geometry(spark):
    """expire-diff.feature 'diff expire way node changes': moving a
    node dirties the tiles of BOTH the way's old and new geometry;
    the full import expires nothing.  Tile expectations are the
    reference's own (zoom 8, default buffer)."""
    from osm2pgsql_spark.model import WAY_SCHEMA
    from osm2pgsql_spark.streaming.append import apply_diff

    def nodes_df(n2):
        rows = [
            (1, 0.0, 0.0), (2, n2[1], n2[0]), (3, 1.0, 2.0), (4, 1.0, 4.0)
        ]
        return spark.createDataFrame(
            [(i, lat, lon, {}, None, None, None, None, None, None)
             for i, lat, lon in rows],
            "id long, lat double, lon double, tags map<string,string>, "
            "version int, ts timestamp, changeset long, uid long, "
            "user string, visible boolean",
        )

    ways = spark.createDataFrame(
        [(1, [1, 2, 3, 4], {"highway": "primary"},
          None, None, None, None, None, None)],
        WAY_SCHEMA,
    )
    cfg = FlexConfig()
    cfg.define_expire_output("exp", maxzoom=8)
    cfg.define_table(
        "roads", ids="way",
        columns=[ColumnDef("geom", "linestring", srid=3857,
                           not_null=True, expire="exp")],
    )
    cfg.insert("roads", "way", when=F.col("tags")["highway"].isNotNull())

    old_nodes = nodes_df((2.0, 0.0))  # n2 at lon 2, lat 0
    new_nodes = nodes_df((0.0, 1.0))  # diff: n2 -> lon 0, lat 1
    old_tables = cfg.run(nodes=old_nodes, ways=ways)
    new_tables = cfg.run(nodes=new_nodes, ways=ways)

    none = spark.createDataFrame([], "id long")
    touched = (none, spark.createDataFrame([(1,)], "id long"), none)
    tiles = cfg.compute_expire_diff(old_tables, new_tables, touched)
    got = {(r["zoom"], r["x"], r["y"]) for r in tiles["exp"].collect()}
    assert got == {
        (8, 127, 127), (8, 128, 127), (8, 129, 127), (8, 130, 127),
        (8, 127, 128), (8, 128, 128), (8, 129, 128),
    }
    # no touched ids -> nothing expires (the full-import case)
    empty = cfg.compute_expire_diff(old_tables, new_tables, (none, none, none))
    assert empty["exp"].count() == 0


def test_expire_limit_caps(spark):
    """expire-limit.feature: a geometry dirtying more than
    max_tiles_geometry tiles expires nothing; a run exceeding
    max_tiles_overall expires nothing."""
    from osm2pgsql_spark.functions import geometry as G
    from osm2pgsql_spark.operators.expire import ExpireConfig, dirty_tiles

    def merc_line(pts):
        return G.to_wkb(
            G.transform_4326_to_3857(("linestring", __import__("numpy").array(pts)))
        )

    # zoom 2 world: 4x4 tiles; short way spans <=3 tiles, the long
    # diagonal one spans more than 2
    short = merc_line([[10.0, 10.0], [100.0, 10.0]])
    diag = merc_line([[10.0, 10.0], [100.0, 10.0], [100.0, 70.0]])
    df = spark.createDataFrame([(1, bytearray(short))], "id long, geom binary")
    cfg = ExpireConfig(maxzoom=2, buffer=0.0, max_tiles_geometry=3)
    ok = {(r["x"], r["y"]) for r in dirty_tiles(df, cfg).collect()}
    assert 1 <= len(ok) <= 3

    dfd = spark.createDataFrame([(1, bytearray(diag))], "id long, geom binary")
    cfg2 = ExpireConfig(maxzoom=2, buffer=0.0, max_tiles_geometry=2)
    assert dirty_tiles(dfd, cfg2).count() == 0  # single-geometry cap

    both = spark.createDataFrame(
        [(1, bytearray(short)), (2, bytearray(diag))], "id long, geom binary"
    )
    cfg3 = ExpireConfig(maxzoom=2, buffer=0.0, max_tiles_overall=2)
    assert dirty_tiles(both, cfg3).count() == 0  # overall cap
    cfg4 = ExpireConfig(maxzoom=2, buffer=0.0, max_tiles_overall=100)
    assert dirty_tiles(both, cfg4).count() >= 3


@pytest.fixture(scope="module")
def area_expire(spark):
    """An area table wired to an expire output over way 5 (near 9E 50N)
    and relation 20 (near 20E 10N, stored as -20)."""
    from osm2pgsql_spark.sources.opl import read_opl

    nodes, ways, rels = read_opl(spark, """n1 x9.0 y50.0
n2 x9.001 y50.0
n3 x9.001 y50.001
n4 x9.0 y50.001
n5 Tamenity=bench x-40.0 y-30.0
n6 x20.0 y10.0
n7 x20.001 y10.0
n8 x20.001 y10.001
n9 x20.0 y10.001
w5 Tname=hall Nn1,n2,n3,n4,n1
w12 Nn6,n7,n8,n9,n6
r20 Ttype=multipolygon,name=park Mw12@outer""".splitlines())
    cfg = FlexConfig()
    cfg.define_expire_output("exp", maxzoom=10)
    cfg.define_table("areas", ids="area", columns=[
        ColumnDef("name", "text"),
        ColumnDef("geom", "geometry", srid=3857, expire="exp")])
    named = F.col("tags")["name"].isNotNull()
    cfg.insert("areas", "way", when=named, way_geometry="polygon",
               name=F.col("tags")["name"])
    cfg.insert("areas", "relation", when=named,
               relation_geometry="multipolygon", name=F.col("tags")["name"])
    tables = cfg.run(nodes=nodes, ways=ways, relations=rels)

    def dirty(node_ids=(), way_ids=(), rel_ids=()):
        def ids(values):
            return spark.createDataFrame([(i,) for i in values], "id long")

        tiles = cfg.compute_expire_diff(
            tables, tables, (ids(node_ids), ids(way_ids), ids(rel_ids)))
        return {(r["x"], r["y"]) for r in tiles["exp"].collect()}

    return dirty


def test_expire_diff_relation_row_of_area_table(area_expire):
    # a raw-id filter looks for osm_id 20; the area table stores -20
    assert area_expire(rel_ids=[20]) == {(568, 483)}


def test_expire_diff_node_does_not_expire_way_of_same_id(area_expire):
    assert area_expire(node_ids=[5]) == set()
    assert area_expire(way_ids=[5]) == {(537, 347)}
