"""Lua config definitions on the declarative fast path
(plans/lua_config.load_lua_config): every definition form the fast path
takes — define_{node,way,area,relation}_table with and without options,
define_table with each ids scheme, type aliases, projections (literal
and through a local), not_null / create_only, expire wiring to
define_expire_output, make_clean_tags_func — pinned by the FlexConfig
it compiles to, the parse_lua_config model and the rows it writes, and
checked against the interpreter path (LuaFlexAdapter) on every config.

Built from inline Lua and OPL only, so the pins hold without the
reference's flex-config tree."""

import json
from collections import Counter

import pytest

from osm2pgsql_spark.functions.geometry import from_wkb
from osm2pgsql_spark.lua.interp import LuaError
from osm2pgsql_spark.plans.flex import FlexConfig
from osm2pgsql_spark.plans.lua_config import load_lua_config, parse_lua_config
from osm2pgsql_spark.plans.lua_flex import LuaFlexAdapter
from osm2pgsql_spark.sources.opl import read_opl

OPL = """n1 Tamenity=pub,name=Pub,a=7,b=yes,c=3,d=9000000000,e=x,note=junk x9.0 y50.0
n2 x9.01 y50.0
n3 x9.01 y50.01
n4 x9.0 y50.01
n5 Tsource=survey,source:date=2020 x9.02 y50.02
w10 Thighway=road,name=Road Nn1,n2
w11 Tbuilding=yes,name=Hall Nn1,n2,n3,n4,n1
r20 Ttype=multipolygon,name=Park Mw11@outer
"""

KIND_TABLES = """
local tables = {}

tables.points = osm2pgsql.define_node_table('points', {
    { column = 'name', type = 'text' },
    { column = 'geom', type = 'point' },
})

tables.roads = osm2pgsql.define_way_table('roads', {
    { column = 'name', type = 'text' },
    { column = 'geom', type = 'linestring' },
}, { schema = 'public' })

tables.areas = osm2pgsql.define_area_table('areas', {
    { column = 'name', type = 'text' },
    { column = 'geom', type = 'geometry' },
})

tables.rels = osm2pgsql.define_relation_table('rels', {
    { column = 'name', type = 'text' },
}, { schema = 'public' })

function osm2pgsql.process_node(object)
    tables.points:insert({ name = object.tags.name, geom = object:as_point() })
end

function osm2pgsql.process_way(object)
    if object.is_closed then
        tables.areas:insert({ name = object.tags.name, geom = object:as_polygon() })
    else
        tables.roads:insert({ name = object.tags.name, geom = object:as_linestring() })
    end
end

function osm2pgsql.process_relation(object)
    tables.rels:insert({ name = object.tags.name })
    tables.areas:insert({ name = object.tags.name, geom = object:as_multipolygon() })
end
"""

ID_SCHEMES = """
local t = {}

t.by_node = osm2pgsql.define_table({
    name = 'by_node',
    ids = { type = 'node', id_column = 'node_id' },
    columns = { { column = 'name', type = 'text' } },
})
t.by_way = osm2pgsql.define_table({
    name = 'by_way',
    ids = { type = 'way', id_column = 'way_id' },
    columns = { { column = 'name', type = 'text' } },
})
t.by_rel = osm2pgsql.define_table({
    name = 'by_rel',
    ids = { type = 'relation', id_column = 'relation_id' },
    columns = { { column = 'name', type = 'text' } },
})
t.by_area = osm2pgsql.define_table({
    name = 'by_area',
    ids = { type = 'area', id_column = 'area_id' },
    columns = { { column = 'name', type = 'text' } },
})
t.by_any = osm2pgsql.define_table({
    name = 'by_any',
    ids = { type = 'any', id_column = 'osm_id', type_column = 'osm_type' },
    columns = { { column = 'name', type = 'text' } },
})
t.log = osm2pgsql.define_table({
    name = 'log',
    columns = { { column = 'name', type = 'text' } },
})

function osm2pgsql.process_node(object)
    t.by_node:insert({ name = object.tags.name })
    t.by_any:insert({ name = object.tags.name })
    t.log:insert({ name = object.tags.name })
end

function osm2pgsql.process_way(object)
    t.by_way:insert({ name = object.tags.name })
    t.by_area:insert({ name = object.tags.name })
    t.by_any:insert({ name = object.tags.name })
end

function osm2pgsql.process_relation(object)
    t.by_rel:insert({ name = object.tags.name })
    t.by_area:insert({ name = object.tags.name })
    t.by_any:insert({ name = object.tags.name })
end
"""

TILES = """
local tiles = osm2pgsql.define_table({
    name = 'tiles',
    ids = { type = 'tile' },
    columns = {
        { column = 'x', type = 'int' },
        { column = 'y', type = 'int' },
        { column = 'name', type = 'text' },
    },
})

function osm2pgsql.process_node(object)
    tiles:insert({ x = 1, y = 2, name = object.tags.name })
end
"""

ANY_SINGLE = """
local anything = osm2pgsql.define_table({
    name = 'anything',
    ids = { type = 'any', id_column = 'osm_id' },
    columns = { { column = 'name', type = 'text' } },
})

function osm2pgsql.process_node(object)
    anything:insert({ name = object.tags.name })
end

function osm2pgsql.process_way(object)
    anything:insert({ name = object.tags.name })
end

function osm2pgsql.process_relation(object)
    anything:insert({ name = object.tags.name })
end
"""

COLUMNS = """
local srid = 3857

local typed = osm2pgsql.define_node_table('typed', {
    { column = 'a', type = 'int' },
    { column = 'b', type = 'bool' },
    { column = 'c', type = 'smallint' },
    { column = 'd', type = 'bigint' },
    { column = 'e' },
    { column = 'name', type = 'text', not_null = true },
    { column = 'note', type = 'text', create_only = true },
    { column = 'geom', type = 'point', projection = srid, not_null = true },
})

local latlon = osm2pgsql.define_node_table('latlon', {
    { column = 'geom', type = 'point', projection = 4326 },
})

function osm2pgsql.process_node(object)
    typed:insert({
        a = object.tags.a,
        b = object.tags.b,
        c = object.tags.c,
        d = object.tags.d,
        e = object.tags.e,
        name = object.tags.name,
        geom = object:as_point(),
    })
    latlon:insert({ geom = object:as_point() })
end
"""

EXPIRE = """
local expire_outputs = {}

expire_outputs.pois = osm2pgsql.define_expire_output({
    maxzoom = 14,
    filename = 'pois.tiles',
})

expire_outputs.areas = osm2pgsql.define_expire_output({
    maxzoom = 12,
    minzoom = 10,
    filename = 'areas.tiles',
})

local pois = osm2pgsql.define_node_table('pois', {
    { column = 'name', type = 'text' },
    { column = 'geom', type = 'point', not_null = true,
      expire = expire_outputs.pois },
})

local areas = osm2pgsql.define_area_table('areas', {
    { column = 'name', type = 'text' },
    { column = 'geom', type = 'geometry', not_null = true,
      expire = { { output = expire_outputs.areas } } },
})

function osm2pgsql.process_node(object)
    pois:insert({ name = object.tags.name, geom = object:as_point() })
end

function osm2pgsql.process_way(object)
    if object.is_closed then
        areas:insert({ name = object.tags.name, geom = object:as_polygon() })
    end
end
"""

CLEAN_TAGS = """
local delete_keys = { 'note', 'source', 'source:*' }

local clean_tags = osm2pgsql.make_clean_tags_func(delete_keys)

local points = osm2pgsql.define_node_table('points', {
    { column = 'tags', type = 'jsonb' },
    { column = 'geom', type = 'point' },
})

function osm2pgsql.process_node(object)
    if clean_tags(object.tags) then
        return
    end
    points:insert({ tags = object.tags, geom = object:as_point() })
end
"""


def _generic_shaped() -> str:
    """A config shaped like the reference's flex-config/generic.lua,
    with the Python twin's key lists (examples/generic_import.py)."""
    from examples.generic_import import AREA_KEYS, DELETE_KEYS

    delete_keys = "\n".join(f"    '{k}'," for k in DELETE_KEYS)
    area_keys = "\n        or ".join(f"tags['{k}']" for k in AREA_KEYS)
    return f"""
local srid = 3857

local tables = {{}}

tables.points = osm2pgsql.define_node_table('points', {{
    {{ column = 'tags', type = 'jsonb' }},
    {{ column = 'geom', type = 'point', projection = srid, not_null = true }},
}})

tables.lines = osm2pgsql.define_way_table('lines', {{
    {{ column = 'tags', type = 'jsonb' }},
    {{ column = 'geom', type = 'linestring', projection = srid, not_null = true }},
}})

tables.polygons = osm2pgsql.define_area_table('polygons', {{
    {{ column = 'tags', type = 'jsonb' }},
    {{ column = 'geom', type = 'geometry', projection = srid, not_null = true }},
}})

tables.routes = osm2pgsql.define_relation_table('routes', {{
    {{ column = 'tags', type = 'jsonb' }},
    {{ column = 'geom', type = 'multilinestring', projection = srid, not_null = true }},
}})

tables.boundaries = osm2pgsql.define_relation_table('boundaries', {{
    {{ column = 'tags', type = 'jsonb' }},
    {{ column = 'geom', type = 'multilinestring', projection = srid, not_null = true }},
}})

local delete_keys = {{
{delete_keys}
}}

local clean_tags = osm2pgsql.make_clean_tags_func(delete_keys)

local function has_area_tags(tags)
    if tags.area == 'yes' then
        return true
    end
    if tags.area == 'no' then
        return false
    end

    return {area_keys}
end

function osm2pgsql.process_node(object)
    if clean_tags(object.tags) then
        return
    end

    tables.points:insert({{
        tags = object.tags,
        geom = object:as_point()
    }})
end

function osm2pgsql.process_way(object)
    if clean_tags(object.tags) then
        return
    end

    if object.is_closed and has_area_tags(object.tags) then
        tables.polygons:insert({{
            tags = object.tags,
            geom = object:as_polygon()
        }})
    else
        tables.lines:insert({{
            tags = object.tags,
            geom = object:as_linestring()
        }})
    end
end

function osm2pgsql.process_relation(object)
    local relation_type = object:grab_tag('type')

    if clean_tags(object.tags) then
        return
    end

    if relation_type == 'route' then
        tables.routes:insert({{
            tags = object.tags,
            geom = object:as_multilinestring()
        }})
        return
    end

    if relation_type == 'boundary' or (relation_type == 'multipolygon' and object.tags.boundary) then
        tables.boundaries:insert({{
            tags = object.tags,
            geom = object:as_multilinestring():line_merge()
        }})
        return
    end

    if relation_type == 'multipolygon' then
        tables.polygons:insert({{
            tags = object.tags,
            geom = object:as_multipolygon()
        }})
    end
end
"""


CONFIGS = {
    "kind_tables": KIND_TABLES,
    "id_schemes": ID_SCHEMES,
    "tiles": TILES,
    "any_single": ANY_SINGLE,
    "columns": COLUMNS,
    "expire": EXPIRE,
    "clean_tags": CLEAN_TAGS,
}


@pytest.fixture(scope="module", autouse=True)
def _session(spark):
    """Compiled rules are Spark Columns, which need an active SparkSession."""


@pytest.fixture(scope="module")
def osm(spark):
    nodes, ways, rels = read_opl(spark, OPL.splitlines())
    return nodes.cache(), ways.cache(), rels.cache()


def compiled(name: str) -> FlexConfig:
    cfg, _model = load_lua_config(CONFIGS[name])
    # a FlexConfig (not the interpreter's adapter): the fast path ran
    assert isinstance(cfg, FlexConfig)
    return cfg


def schema(cfg: FlexConfig) -> dict:
    return {
        name: (t.ids, [(c.name, c.type, c.srid, c.not_null, c.create_only)
                       for c in t.columns])
        for name, t in cfg.tables.items()
    }


def _cell(v):
    if isinstance(v, (bytes, bytearray)):
        return from_wkb(bytes(v))[0]  # geometry kind
    return v


def rows(df) -> set:
    return {tuple(_cell(v) for v in r) for r in df.collect()}


def run(name: str, osm) -> dict:
    nodes, ways, rels = osm
    return compiled(name).run(nodes=nodes, ways=ways, relations=rels)


# -- define_{node,way,area,relation}_table ------------------------------


def test_kind_tables_schema():
    assert schema(compiled("kind_tables")) == {
        "points": ("node", [("name", "text", 4326, False, False),
                            ("geom", "point", 3857, False, False)]),
        "roads": ("way", [("name", "text", 4326, False, False),
                          ("geom", "linestring", 3857, False, False)]),
        "areas": ("area", [("name", "text", 4326, False, False),
                           ("geom", "geometry", 3857, False, False)]),
        "rels": ("relation", [("name", "text", 4326, False, False)]),
    }


def test_kind_tables_model():
    m = parse_lua_config(KIND_TABLES)
    assert [(t.var, t.name, t.kind, [c.column for c in t.columns])
            for t in m.tables] == [
        ("tables.points", "points", "node", ["name", "geom"]),
        ("tables.roads", "roads", "way", ["name", "geom"]),
        ("tables.areas", "areas", "area", ["name", "geom"]),
        ("tables.rels", "rels", "relation", ["name"]),
    ]


def test_kind_tables_rows(osm):
    out = run("kind_tables", osm)
    assert {n: rows(df) for n, df in out.items()} == {
        "points": {(1, "Pub", "point"), (5, None, "point")},
        "roads": {(10, "Road", "linestring")},
        "areas": {(11, "Hall", "polygon"), (-20, "Park", "multipolygon")},
        "rels": {(20, "Park")},
    }


# -- define_table ids schemes -------------------------------------------


def test_id_schemes_schema():
    named = [("name", "text", 4326, False, False)]
    assert schema(compiled("id_schemes")) == {
        "by_node": ("node", named), "by_way": ("way", named),
        "by_rel": ("relation", named), "by_area": ("area", named),
        "by_any": ("any_object", named), "log": ("none", named),
    }


def test_id_schemes_model():
    m = parse_lua_config(ID_SCHEMES)
    kinds = {t.name: (t.var, t.kind) for t in m.tables}
    # kind reports the scheme; any_object's is pinned through the
    # schema above
    assert {n: kinds[n] for n in ("by_node", "by_way", "by_rel",
                                  "by_area", "log")} == {
        "by_node": ("t.by_node", "node"), "by_way": ("t.by_way", "way"),
        "by_rel": ("t.by_rel", "relation"),
        "by_area": ("t.by_area", "area"), "log": ("t.log", "none"),
    }


def test_id_schemes_rows(osm):
    out = run("id_schemes", osm)
    assert {n: (df.columns, rows(df)) for n, df in out.items()} == {
        "by_node": (["osm_id", "name"], {(1, "Pub"), (5, None)}),
        "by_way": (["osm_id", "name"], {(10, "Road"), (11, "Hall")}),
        "by_rel": (["osm_id", "name"], {(20, "Park")}),
        "by_area": (["osm_id", "name"],
                    {(10, "Road"), (11, "Hall"), (-20, "Park")}),
        "by_any": (["osm_type", "osm_id", "name"],
                   {("n", 1, "Pub"), ("n", 5, None), ("w", 10, "Road"),
                    ("w", 11, "Hall"), ("r", 20, "Park")}),
        "log": (["name"], {("Pub",), (None,)}),
    }


# -- column types, projections, not_null, create_only -------------------


def test_columns_schema():
    assert schema(compiled("columns")) == {
        "typed": ("node", [
            ("a", "int4", 4326, False, False),
            ("b", "boolean", 4326, False, False),
            ("c", "int2", 4326, False, False),
            ("d", "int8", 4326, False, False),
            ("e", "text", 4326, False, False),
            ("name", "text", 4326, True, False),
            ("note", "text", 4326, False, True),
            ("geom", "point", 3857, True, False),
        ]),
        "latlon": ("node", [("geom", "point", 4326, False, False)]),
    }


def test_columns_model():
    m = parse_lua_config(COLUMNS)
    cols = {(t.name, c.column): c for t in m.tables for c in t.columns}
    assert [(t.var, t.name, t.kind) for t in m.tables] == [
        ("typed", "typed", "node"), ("latlon", "latlon", "node")]
    assert cols["typed", "geom"].projection == 3857  # through local srid
    assert cols["latlon", "geom"].projection == 4326
    assert [(c.column, c.not_null, c.create_only)
            for c in m.tables[0].columns] == [
        ("a", False, False), ("b", False, False), ("c", False, False),
        ("d", False, False), ("e", False, False), ("name", True, False),
        ("note", False, True), ("geom", True, False),
    ]


def test_columns_rows(osm):
    out = run("columns", osm)
    assert rows(out["typed"]) == {
        (1, 7, True, 3, 9000000000, "x", "Pub", None, "point")}
    assert rows(out["latlon"]) == {(1, "point"), (5, "point")}
    # projection = 4326 keeps lon/lat
    (wkb,) = out["latlon"].where("osm_id = 1").select("geom").first()
    assert from_wkb(bytes(wkb))[1] == pytest.approx((9.0, 50.0))


# -- expire outputs -----------------------------------------------------


def _by_filename(model, name: str) -> str:
    """The filename of the expire output a config-side name denotes
    (the model's variable path or the output's own name)."""
    for eo in model.expire_outputs:
        if name in (eo.var, eo.filename):
            return eo.filename
    raise AssertionError(f"no expire output {name!r}")


def test_expire_wiring():
    cfg, model = load_lua_config(EXPIRE)
    assert isinstance(cfg, FlexConfig)
    assert {_by_filename(model, n): (e.maxzoom, e.minzoom)
            for n, e in cfg.expire_outputs.items()} == {
        "pois.tiles": (14, None), "areas.tiles": (12, 10)}
    wiring = {(t.name, c.name): _by_filename(model, c.expire)
              for t in cfg.tables.values() for c in t.columns if c.expire}
    assert wiring == {("pois", "geom"): "pois.tiles",
                      ("areas", "geom"): "areas.tiles"}


def test_expire_model():
    m = parse_lua_config(EXPIRE)
    assert [(e.var, e.maxzoom, e.minzoom, e.filename)
            for e in m.expire_outputs] == [
        ("expire_outputs.pois", 14, None, "pois.tiles"),
        ("expire_outputs.areas", 12, 10, "areas.tiles"),
    ]
    assert {(t.name, c.column): c.expire
            for t in m.tables for c in t.columns if c.expire} == {
        ("pois", "geom"): "expire_outputs.pois",
        ("areas", "geom"): "expire_outputs.areas",
    }


def test_expire_rows(osm):
    cfg, model = load_lua_config(EXPIRE)
    nodes, ways, rels = osm
    out = cfg.run(nodes=nodes, ways=ways, relations=rels)
    assert rows(out["pois"]) == {(1, "Pub", "point"), (5, None, "point")}
    assert rows(out["areas"]) == {(11, "Hall", "polygon")}
    tiles = {_by_filename(model, n): {tuple(r) for r in df.collect()}
             for n, df in cfg.compute_expire(out).items()}
    # n1 and n5 at z14; the hall's polygon at z12, rolled up to z10
    assert tiles == {
        "pois.tiles": {(14, 8601, 5556), (14, 8602, 5555)},
        "areas.tiles": {(12, 2150, 1388), (12, 2150, 1389), (11, 1075, 694),
                        (10, 537, 347)},
    }


# -- make_clean_tags_func -----------------------------------------------


def test_clean_tags_model():
    m = parse_lua_config(CLEAN_TAGS)
    assert m.delete_keys == ["note", "source", "source:*"]
    assert m.clean_guard


def test_clean_tags_rows(osm):
    out = run("clean_tags", osm)
    got = {(r.osm_id, tuple(sorted(json.loads(r.tags))))
           for r in out["points"].collect()}
    # note= dropped from n1; n5 held only deleted keys and is skipped
    assert got == {(1, ("a", "amenity", "b", "c", "d", "e", "name"))}


# -- generic.lua shape --------------------------------------------------


def test_generic_shaped_config_equals_python_twin(spark):
    from examples.generic_import import generic_import
    from test_lua_config import OPL as GENERIC_OPL

    cfg, model = load_lua_config(_generic_shaped())
    assert isinstance(cfg, FlexConfig)
    assert [(t.name, t.kind) for t in model.tables] == [
        ("points", "node"), ("lines", "way"), ("polygons", "area"),
        ("routes", "relation"), ("boundaries", "relation")]
    nodes, ways, rels = read_opl(spark, GENERIC_OPL.splitlines())
    twin = generic_import(spark, nodes, ways, rels)
    lua = cfg.run(nodes=nodes, ways=ways, relations=rels)
    assert set(lua) == set(twin)
    for name in twin:
        assert lua[name].columns == twin[name].columns, name
        assert sorted(map(tuple, lua[name].collect())) == sorted(
            map(tuple, twin[name].collect())), name


# -- tile tables and `any` ids without a type column ------------------------


def test_tile_table(osm):
    # the declarative reader had no key scheme for ids type 'tile'
    assert schema(compiled("tiles")) == {
        "tiles": ("tile", [("x", "int4", 4326, False, False),
                           ("y", "int4", 4326, False, False),
                           ("name", "text", 4326, False, False)])}
    out = run("tiles", osm)["tiles"]
    assert (out.columns, rows(out)) == (
        ["x", "y", "name"], {(1, 2, "Pub"), (1, 2, None)})


def test_any_without_type_column_maps_ids(osm):
    # without a type_column the reference maps ids into one space
    # (any_single: node id, way -id, relation -id - 10^17); the
    # declarative reader stored kind letters plus raw ids instead
    m = parse_lua_config(ANY_SINGLE)
    assert [(t.name, t.kind) for t in m.tables] == [("anything", "any_single")]
    assert schema(compiled("any_single"))["anything"][0] == "any_single"
    out = run("any_single", osm)["anything"]
    assert (out.columns, rows(out)) == (["osm_id", "name"], {
        (1, "Pub"), (5, None), (-10, "Road"), (-11, "Hall"),
        (-20 - 10**17, "Park")})


# -- one reader: both paths agree ---------------------------------------------


def _bag(df, json_columns: set) -> Counter:
    """The rows as a multiset; JSON objects compare as values (their key
    order is not part of a jsonb column's value)."""
    def cell(name, v):
        if isinstance(v, (bytes, bytearray)):
            return bytes(v)
        if name in json_columns and v is not None:
            return json.dumps(json.loads(v), sort_keys=True)
        return v

    return Counter(tuple(cell(n, v) for n, v in zip(df.columns, r))
                   for r in df.collect())


@pytest.mark.parametrize("name", [*sorted(CONFIGS), "generic_shaped"])
def test_declarative_path_matches_interpreter(osm, name):
    """The fast path's tables equal the interpreter's on every inline
    config: same columns, types and rows per table."""
    src = _generic_shaped() if name == "generic_shaped" else CONFIGS[name]
    cfg, _model = load_lua_config(src)
    assert isinstance(cfg, FlexConfig)
    nodes, ways, rels = osm
    fast = cfg.run(nodes=nodes, ways=ways, relations=rels)
    slow = LuaFlexAdapter(src).run(nodes=nodes, ways=ways, relations=rels)
    assert {n: df.dtypes for n, df in fast.items()} == {
        n: df.dtypes for n, df in slow.items()}
    for table in fast:
        json_columns = {c.name for c in cfg.tables[table].columns
                        if c.type in ("json", "jsonb")}
        assert _bag(fast[table], json_columns) == _bag(
            slow[table], json_columns), table


# -- errors -------------------------------------------------------------------


def test_missing_lua_path_names_the_file(tmp_path):
    missing = tmp_path / "styles" / "missing.lua"
    with pytest.raises(FileNotFoundError, match="missing.lua"):
        load_lua_config(str(missing))


def test_invalid_definition_raises_reference_wording():
    # the declarative reader took any ids type without a check
    src = """
local t = osm2pgsql.define_table({
    name = 't',
    ids = { type = 'bogus', id_column = 'id' },
    columns = { { column = 'name', type = 'text' } },
})

function osm2pgsql.process_node(object)
    t:insert({ name = object.tags.name })
end
"""
    with pytest.raises(LuaError, match="Unknown ids type: bogus."):
        load_lua_config(src)


# -- callbacks the declarative parser does not compile -------------------------

_NAMES = "local t = osm2pgsql.define_node_table('p', {{ column = 'name', type = 'text' }})\n"


@pytest.mark.parametrize("callback, want", [
    # an assigned function expression, not `function osm2pgsql.process_node(object)`
    ("osm2pgsql.process_node = function(o) t:insert{ name = o.tags.name } end",
     [(1, "a")]),
    ("function osm2pgsql.process_untagged_node(object)\n"
     "    t:insert{ name = 'untagged' }\nend",
     [(2, "untagged")]),
])
def test_uncompiled_callbacks_run_on_the_interpreter(spark, callback, want):
    cfg, _model = load_lua_config(_NAMES + callback + "\n")
    assert not isinstance(cfg, FlexConfig)
    nodes, ways, rels = read_opl(spark, ["n1 Tname=a x9 y50", "n2 x9 y50"])
    out = cfg.run(nodes=nodes, ways=ways, relations=rels)
    assert {name: sorted(tuple(r) for r in df.collect()) for name, df in out.items()} == {
        "p": want}
