"""Flex id schemes (reference flex_table_t::map_id and matches_type,
flex-table.cpp:76-130): the key columns each scheme writes for each
object kind it accepts, through every way a row reaches a flex table —
declarative rules (FlexConfig.insert), Python callbacks
(FlexConfig.process) and procedural Lua tables (LuaFlexAdapter).

Schemes: node, way (+relations as -id), relation, area (ways +id,
relations -id), any_object (osm_type + raw id), any_single (node id,
way -id, relation -id - 10^17), none (no key) and tile (x/y values)."""

import pytest
from pyspark.sql import functions as F

from osm2pgsql_spark.plans.flex import ColumnDef, FlexConfig
from osm2pgsql_spark.plans.lua_flex import LuaFlexAdapter
from osm2pgsql_spark.sources.opl import read_opl

OPL = """n1 Tamenity=pub,name=a x9.0 y50.0
n2 x9.01 y50.0
n3 x9.01 y50.01
n4 x9.0 y50.01
w10 Thighway=road,name=w Nn1,n2
w11 Tbuilding=yes Nn1,n2,n3,n4,n1
r20 Ttype=multipolygon,name=r Mw11@outer
"""

ANY_REL = -20 - 10**17

# scheme -> the rows every path writes: key columns, then name
EXPECTED = {
    "node": {(1, "n:a")},
    "way": {(10, "w:w"), (-20, "r:r")},
    "relation": {(20, "r:r")},
    "area": {(10, "w:w"), (-20, "r:r")},
    "any_object": {("n", 1, "n:a"), ("w", 10, "w:w"), ("r", 20, "r:r")},
    "any_single": {(1, "n:a"), (-10, "w:w"), (ANY_REL, "r:r")},
    "none": {("n:a",), ("w:w",), ("r:r",)},
    "tile": {(1, 2, "n:a"), (1, 2, "w:w"), (1, 2, "r:r")},
}
KEY_COLUMNS = {
    "any_object": ["osm_type", "osm_id"], "none": [], "tile": ["x", "y"],
}
ACCEPTS = {
    "node": ("node",),
    "way": ("way", "relation"),
    "relation": ("relation",),
    "area": ("way", "relation"),
}
ALL_KINDS = ("node", "way", "relation")


def accepts(scheme: str) -> tuple:
    return ACCEPTS.get(scheme, ALL_KINDS)


def keyed(df) -> tuple[list, set]:
    return df.columns, {tuple(r) for r in df.collect()}


def expected(scheme: str, kinds=ALL_KINDS) -> tuple[list, set]:
    cols = KEY_COLUMNS.get(scheme, ["osm_id"]) + ["name"]
    return cols, {r for r in EXPECTED[scheme] if r[-1][0] in {k[0] for k in kinds}}


@pytest.fixture(scope="module")
def osm(spark):
    nodes, ways, rels = read_opl(spark, OPL.splitlines())
    return nodes.cache(), ways.cache(), rels.cache()


def _name(kind: str):
    return F.concat(F.lit(kind[0] + ":"), F.col("tags")["name"])


# -- declarative rules --------------------------------------------------

# relation rules into way tables and any_single tables are the
# wrong-output cases further down; the rest is pinned here
DECLARATIVE = {
    "node": ("node",), "way": ("way",), "relation": ("relation",),
    "area": ("way", "relation"), "any_object": ALL_KINDS,
    "none": ALL_KINDS, "tile": ALL_KINDS,
}


@pytest.fixture(scope="module")
def declarative(osm):
    cfg = FlexConfig()
    for scheme, kinds in DECLARATIVE.items():
        cfg.define_table(f"t_{scheme}", ids=scheme,
                         columns=[ColumnDef("name", "text")])
        for kind in kinds:
            tile = {"x": F.lit(1), "y": F.lit(2)} if scheme == "tile" else {}
            cfg.insert(f"t_{scheme}", kind,
                       when=F.col("tags")["name"].isNotNull(),
                       name=_name(kind), **tile)
    nodes, ways, rels = osm
    return cfg.run(nodes=nodes, ways=ways, relations=rels)


@pytest.mark.parametrize("scheme", sorted(DECLARATIVE))
def test_declarative_rule_keys(declarative, scheme):
    assert keyed(declarative[f"t_{scheme}"]) == expected(
        scheme, DECLARATIVE[scheme])


# -- Python callbacks ---------------------------------------------------

@pytest.fixture(scope="module")
def callbacks(osm):
    cfg = FlexConfig()
    for scheme in EXPECTED:
        cfg.define_table(f"t_{scheme}", ids=scheme,
                         columns=[ColumnDef("name", "text")])

    def make(kind):
        targets = [s for s in EXPECTED if kind in accepts(s)]

        def fn(obj):
            name = obj["tags"].get("name")
            if name is None:
                return []
            return [(f"t_{s}", {"name": f"{kind[0]}:{name}", "x": 1, "y": 2})
                    for s in targets]
        return fn

    for kind in ALL_KINDS:
        cfg.process(kind, make(kind))
    nodes, ways, rels = osm
    return cfg.run(nodes=nodes, ways=ways, relations=rels)


@pytest.mark.parametrize("scheme", sorted(EXPECTED))
def test_callback_row_keys(callbacks, scheme):
    assert keyed(callbacks[f"t_{scheme}"]) == expected(scheme, accepts(scheme))


# -- procedural Lua -----------------------------------------------------

LUA_IDS = {
    "node": "{ type = 'node', id_column = 'node_id' }",
    "way": "{ type = 'way', id_column = 'way_id' }",
    "relation": "{ type = 'relation', id_column = 'relation_id' }",
    "area": "{ type = 'area', id_column = 'area_id' }",
    "any_object": "{ type = 'any', id_column = 'osm_id', type_column = 'osm_type' }",
    "any_single": "{ type = 'any', id_column = 'osm_id' }",
    "none": None,
}


def _lua_source() -> str:
    lines = ["local t = {}"]
    for scheme, ids in LUA_IDS.items():
        ids_field = f" ids = {ids}," if ids else ""
        lines.append(
            f"t.{scheme} = osm2pgsql.define_table{{ name = 't_{scheme}',"
            f"{ids_field} columns = {{ {{ column = 'name', type = 'text' }} }} }}")
    for kind in ALL_KINDS:
        lines.append(f"function osm2pgsql.process_{kind}(object)")
        lines.append("  if object.tags.name == nil then return end")
        for scheme in LUA_IDS:
            if kind in accepts(scheme):
                lines.append(f"  t.{scheme}:insert{{ name = '{kind[0]}:' .. "
                             "object.tags.name }")
        lines.append("end")
    return "\n".join(lines) + "\n"


@pytest.fixture(scope="module")
def lua(osm):
    nodes, ways, rels = osm
    return LuaFlexAdapter(_lua_source()).run(
        nodes=nodes, ways=ways, relations=rels)


@pytest.mark.parametrize("scheme", sorted(LUA_IDS))
def test_lua_table_keys(lua, scheme):
    assert keyed(lua[f"t_{scheme}"]) == expected(scheme, accepts(scheme))


# -- wrong outputs of separate id and geometry code paths -----------------

def _point(wkb) -> tuple:
    from osm2pgsql_spark.functions.geometry import from_wkb

    return from_wkb(bytes(wkb))[1]


def test_declarative_any_single_maps_ids(osm):
    # a separate declarative copy of the id scheme wrote no key column
    # for any_single tables (columns were ['name'])
    cfg = FlexConfig()
    cfg.define_table("t", ids="any_single", columns=[ColumnDef("name", "text")])
    for kind in ALL_KINDS:
        cfg.insert("t", kind, when=F.col("tags")["name"].isNotNull(),
                   name=_name(kind))
    nodes, ways, rels = osm
    out = cfg.run(nodes=nodes, ways=ways, relations=rels)["t"]
    assert keyed(out) == expected("any_single")


def test_declarative_relation_into_way_table_is_negated(osm):
    # relations in way-id tables are stored as -id
    # (flex-table.cpp:107-130); the declarative path stored 20
    cfg = FlexConfig()
    cfg.define_table("t", ids="way", columns=[ColumnDef("name", "text")])
    cfg.insert("t", "relation", name=_name("relation"))
    nodes, ways, rels = osm
    out = cfg.run(nodes=nodes, ways=ways, relations=rels)["t"]
    assert keyed(out) == (["osm_id", "name"], {(-20, "r:r")})


def test_insert_rejects_kind_the_scheme_does_not_take():
    cfg = FlexConfig()
    cfg.define_table("t", ids="node", columns=[ColumnDef("name", "text")])
    with pytest.raises(ValueError,
                       match=r"Trying to add way to table 't' \(id type 'node'\)\."):
        cfg.insert("t", "way", name=_name("way"))


def test_callback_two_geometry_columns_keep_their_own_values(osm):
    # the callback frame had one geometry slot: every bytes value
    # overwrote it, and both columns held the last one, (3.0, 4.0)
    from osm2pgsql_spark.functions import geometry as G

    cfg = FlexConfig()
    cfg.define_table("t", ids="node", columns=[
        ColumnDef("geom", "point"), ColumnDef("center", "point")])
    cfg.process("node", lambda obj: [("t", {
        "geom": G.to_wkb(G.make_point(1, 2)),
        "center": G.to_wkb(G.make_point(3, 4)),
    })] if obj["id"] == 1 else [])
    nodes, ways, rels = osm
    (row,) = cfg.run(nodes=nodes, ways=ways, relations=rels)["t"].collect()
    assert (row["osm_id"], _point(row["geom"]), _point(row["center"])) == (
        1, (1.0, 2.0), (3.0, 4.0))


def test_lua_every_projected_geometry_column_is_reprojected(osm):
    # a second geometry column re-ran a copy of the projection that
    # knew only 3857 and 4326: both columns of 'two' held the raw
    # lon/lat (9.0, 50.0)
    source = """
local one = osm2pgsql.define_node_table('one', {
    { column = 'geom', type = 'point', projection = 25832 } })
local two = osm2pgsql.define_node_table('two', {
    { column = 'geom', type = 'point', projection = 25832 },
    { column = 'center', type = 'point', projection = 25832 } })
function osm2pgsql.process_node(object)
    if object.tags.name == nil then return end
    one:insert{ geom = object:as_point() }
    two:insert{ geom = object:as_point(), center = object:as_point() }
end
"""
    nodes, ways, rels = osm
    out = LuaFlexAdapter(source).run(nodes=nodes, ways=ways, relations=rels)
    (one,) = out["one"].collect()
    (two,) = out["two"].collect()
    utm = (500000.0, 5538630.70)
    for p in (_point(one["geom"]), _point(two["geom"]), _point(two["center"])):
        assert p == pytest.approx(utm, abs=0.01)


STYLE = '''
from osm2pgsql_spark.plans.flex import ColumnDef, FlexConfig

ID_SPACES = {"t": "way"}


def tables(spark, nodes, ways, rels):
    cfg = FlexConfig()
    cfg.define_table("t", ids="way", columns=[ColumnDef("name", "text")])
    for kind in ("way", "relation"):
        cfg.process(kind, lambda obj, kind=kind: [
            ("t", {"name": kind[:3] + ":" + obj["tags"]["name"]})
        ] if "name" in obj["tags"] else [])
    return cfg.run(nodes=nodes, ways=ways, relations=rels)
'''

RENAME_OSC = """<?xml version='1.0'?>
<osmChange version="0.6">
  <modify><relation id="20" version="2">
    <member type="way" ref="11" role="outer"/>
    <tag k="type" v="multipolygon"/><tag k="name" v="new"/>
  </relation></modify>
</osmChange>
"""


def _tool_args(inp, out, **over):
    import argparse

    base = dict(
        input=str(inp), out_dir=str(out), append=False, drop=False,
        style=None, output="flex", region_db=None, bbox=None, pg=None,
        input_reader="", expire_tiles=0, expire_output=None,
        expire_bbox_size=20000.0, refresh="auto", tables_format="plain",
        prefix="planet_osm", schema="public", middle_schema="",
        output_pgsql_schema="", latlong=False, merc=False, proj=None)
    base.update(over)
    return argparse.Namespace(**base)


def _import_tool():
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "import_tool", os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "tools", "import_tool.py"))
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)
    return tool


def test_append_refresh_replaces_relation_row_in_way_table(tmp_path, spark):
    # the way scheme's touched keys held way ids only, so the refresh
    # kept the stale (-20, 'rel:old') beside the new row
    tool = _import_tool()
    style = tmp_path / "style.py"
    style.write_text(STYLE)
    src = tmp_path / "in.opl"
    src.write_text(OPL.replace("name=r", "name=old"))
    osc = tmp_path / "diff.osc"
    osc.write_text(RENAME_OSC)
    db = tmp_path / "db"
    tool.cmd_create(_tool_args(src, db, style=str(style)), spark)
    tool.cmd_append(_tool_args(osc, db, style=str(style), append=True,
                               refresh="incremental"), spark)
    rows = {tuple(r) for r in spark.read.parquet(str(db / "tables" / "t")).collect()}
    assert rows == {(10, "way:w"), (-20, "rel:new")}


# -- append expiry by the table's id scheme ------------------------------

AREA_STYLE = '''
from pyspark.sql import functions as F

from osm2pgsql_spark.plans.flex import ColumnDef, FlexConfig

ID_SPACES = {"areas": "area"}


def tables(spark, nodes, ways, rels):
    cfg = FlexConfig()
    cfg.define_table("areas", ids="area", columns=[
        ColumnDef("name", "text"), ColumnDef("geom", "geometry", srid=3857)])
    named = F.col("tags")["name"].isNotNull()
    cfg.insert("areas", "way", when=named, way_geometry="polygon",
               name=F.col("tags")["name"])
    cfg.insert("areas", "relation", when=named,
               relation_geometry="multipolygon", name=F.col("tags")["name"])
    return cfg.run(nodes=nodes, ways=ways, relations=rels)
'''

# way 5 (a hall near 9E 50N) and relation 20 (a park near 20E 10N,
# stored as -20); node 5 stands alone at 40W 30S and lands in no table
AREA_OPL = """n1 x9.0 y50.0
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
r20 Ttype=multipolygon,name=park Mw12@outer
"""

EXPIRE_ZOOM = 10


def _tile(lon: float, lat: float) -> tuple[int, int, int]:
    import math

    n = 2 ** EXPIRE_ZOOM
    y = (1.0 - math.asinh(math.tan(math.radians(lat))) / math.pi) / 2.0 * n
    return EXPIRE_ZOOM, int((lon + 180.0) / 360.0 * n), int(y)


def _append_expiry(tmp_path, spark, osc: str) -> set:
    tool = _import_tool()
    style = tmp_path / "style.py"
    style.write_text(AREA_STYLE)
    src = tmp_path / "in.opl"
    src.write_text(AREA_OPL)
    diff = tmp_path / "diff.osc"
    diff.write_text(osc)
    db = tmp_path / "db"
    out = tmp_path / "dirty.list"
    tool.cmd_create(_tool_args(src, db, style=str(style)), spark)
    tool.cmd_append(_tool_args(diff, db, style=str(style), append=True,
                               expire_tiles=EXPIRE_ZOOM,
                               expire_output=str(out)), spark)
    return {tuple(int(v) for v in line.split("/"))
            for line in out.read_text().split()}


def test_append_expires_relation_row_of_area_table(tmp_path, spark):
    # the raw-id filter looked for osm_id 20, the area table stores -20
    tiles = _append_expiry(tmp_path, spark, """<?xml version='1.0'?>
<osmChange version="0.6">
  <modify><relation id="20" version="2">
    <member type="way" ref="12" role="outer"/>
    <tag k="type" v="multipolygon"/><tag k="name" v="garden"/>
  </relation></modify>
</osmChange>
""")
    assert _tile(20.0005, 10.0005) in tiles
    assert _tile(9.0005, 50.0005) not in tiles


def test_append_node_does_not_expire_way_of_same_id(tmp_path, spark):
    # the raw-id filter matched node 5 against the row of way 5
    tiles = _append_expiry(tmp_path, spark, """<?xml version='1.0'?>
<osmChange version="0.6">
  <modify><node id="5" version="2" lat="-30.0" lon="-40.0">
    <tag k="amenity" v="bench"/><tag k="backrest" v="yes"/>
  </node></modify>
</osmChange>
""")
    assert tiles == set()
