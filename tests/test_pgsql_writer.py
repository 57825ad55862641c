"""Golden pin of the legacy pgsql table writer, fed by both tag
transforms: the built-in C transform driven by a style file
(``planet_tables_styled``) and a Lua tag-transform script
(``planet_tables_lua``).

The world is the relation world of tests/test_pgsql_relations.py plus
a tagged node, a node whose only tag the style deletes, a closed
building, a highway line with typed columns, a closed ``area=no``
highway and a motorway longer than 1 degree (so the segmentize-and-split
pieces show up at both srids).  Every output row of all four tables —
osm_id, the data columns incl. ``z_order`` and ``way_area``, the
hstore columns and the ``way`` WKB as hex (``lon``/``lat`` for points)
— is compared with tests/data/pgsql_writer_golden.json for srid 4326,
srid 3857 and srid 4326 with ``--reproject-area``.

Regenerate the golden file (only after checking the change in output
is intended) from the repo root with
``PYTHONPATH=. python tests/test_pgsql_writer.py``.
"""

import json
import os

import pytest

from osm2pgsql_spark.model import NODE_SCHEMA, RELATION_SCHEMA, WAY_SCHEMA
from osm2pgsql_spark.plans.pgsql_style import StylePlan, planet_tables_styled
from osm2pgsql_spark.plans.style_file import parse_style
from osm2pgsql_spark.plans.tagtransform import (
    LuaTagTransform,
    planet_tables_lua,
)

GOLDEN = os.path.join(os.path.dirname(__file__), "data",
                      "pgsql_writer_golden.json")

STYLE = """
node,way   amenity    text   polygon
node,way   building   text   polygon
node,way   landuse    text   polygon
node,way   area       text   polygon
node,way   boundary   text   linear
node,way   bridge     text   linear
node,way   highway    text   linear
node,way   layer      int4   linear
node,way   name       text   linear
node,way   ref        text   linear
node,way   route      text   linear
node,way   width      real   linear
node,way   note       text   delete
way        z_order    int4   linear
way        way_area   real   linear
"""

LUA = """
function filter_tags_node(kv, n)
    if kv["amenity"] == nil then return 1, kv end
    kv["note"] = nil
    return 0, kv
end
function filter_tags_way(kv, n)
    if n == 0 then return 1, kv, 0, 0 end
    kv["note"] = nil
    local poly = 0
    if (kv["building"] or kv["landuse"]) and kv["area"] ~= "no" then
        poly = 1
    end
    local roads = 0
    if kv["highway"] == "motorway" or kv["highway"] == "primary" then
        roads = 1
    end
    if kv["highway"] == "motorway" then
        kv["z_order"] = "3-5"
    elseif kv["layer"] then
        kv["z_order"] = kv["layer"]
    end
    return 0, kv, poly, roads
end
function filter_basic_tags_rel(kv, n)
    if kv["name"] == nil then return 1, kv end
    return 0, kv
end
function filter_tags_relation_member(kv, members, roles, n)
    local boundary = 0
    local poly = 0
    local roads = 0
    if kv["type"] == "boundary" then
        boundary = 1
        roads = 1
    end
    if kv["type"] == "multipolygon" then poly = 1 end
    kv["type"] = nil
    kv["members"] = n
    kv["role1"] = roles[1]
    kv["z_order"] = 7
    return 0, kv, {}, boundary, poly, roads
end
"""

CONFIGS = {
    "srid4326": dict(srid=4326),
    "srid3857": dict(srid=3857),
    "srid4326_reproject_area": dict(srid=4326, reproject_area=True),
}


def build_world(spark):
    def n(i, x, y, tags=None):
        return (i, y, x, tags or {}, None, None, None, None, None, None)

    def w(i, refs, tags):
        return (i, refs, tags, None, None, None, None, None, None)

    def r(i, members, tags):
        return (i, members, tags, None, None, None, None, None, None)

    nodes = spark.createDataFrame(
        [
            # a 0.2 x 0.2 square (two half ways) and a short path
            n(1, 9.0, 50.0), n(2, 9.2, 50.0), n(3, 9.2, 50.2), n(4, 9.0, 50.2),
            n(5, 8.0, 49.0), n(6, 8.1, 49.1),
            n(7, 8.5, 49.5, {"amenity": "pub", "name": "Pub", "layer": "1",
                             "note": "gone"}),
            n(8, 8.6, 49.6, {"note": "only a deleted key"}),
            # building square
            n(20, 10.0, 51.0), n(21, 10.01, 51.0), n(22, 10.01, 51.01),
            n(23, 10.0, 51.01),
            # closed pedestrian ring
            n(30, 11.0, 52.0), n(31, 11.02, 52.0), n(32, 11.01, 52.02),
            # a motorway spanning 2.5 degrees of longitude
            n(40, 5.0, 45.0), n(41, 7.5, 45.5),
        ],
        NODE_SCHEMA,
    )
    ways = spark.createDataFrame(
        [
            w(10, [1, 2, 3], {}),
            w(11, [3, 4, 1], {}),
            w(12, [5, 6], {"highway": "primary", "name": "Main",
                           "layer": "1", "bridge": "yes", "width": "3,5"}),
            w(13, [20, 21, 22, 23, 20], {"building": "yes", "name": "House"}),
            w(14, [30, 31, 32, 30], {"highway": "pedestrian", "area": "no",
                                     "name": "Square"}),
            w(15, [40, 41], {"highway": "motorway", "ref": "A1"}),
        ],
        WAY_SCHEMA,
    )
    rels = spark.createDataFrame(
        [
            r(100, [("w", 10, "outer"), ("w", 11, "outer")],
              {"type": "boundary", "boundary": "administrative", "name": "B"}),
            r(101, [("w", 10, "outer"), ("w", 11, "outer")],
              {"type": "multipolygon", "boundary": "national_park",
               "name": "P"}),
            r(102, [("w", 12, "")],
              {"type": "route", "route": "bicycle", "name": "R",
               "network": "lcn", "ref": "5"}),
            r(103, [("w", 10, "outer"), ("w", 11, "outer")],
              {"type": "multipolygon"}),
            r(104, [("w", 10, "outer"), ("w", 11, "outer")],
              {"type": "multipolygon", "random_tag": "x", "fixme": "y"}),
        ],
        RELATION_SCHEMA,
    )
    return nodes, ways, rels


def _plain(v):
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return {k: v[k] for k in sorted(v)}
    return v


def table_rows(df) -> list[dict]:
    rows = [{k: _plain(v) for k, v in r.asDict().items()}
            for r in df.collect()]
    return sorted(rows, key=lambda d: json.dumps(d, sort_keys=True))


def all_tables(spark) -> dict:
    nodes, ways, rels = build_world(spark)
    exlist, enable_way_area = parse_style(STYLE)
    plan = StylePlan(exlist, hstore_mode="all",
                     enable_way_area=enable_way_area)
    lua = LuaTagTransform(LUA)
    out = {}
    for name, opts in CONFIGS.items():
        for front, tables in (
            ("c", planet_tables_styled(nodes, ways, rels, plan=plan, **opts)),
            ("lua", planet_tables_lua(nodes, ways, rels, transform=lua,
                                      plan=plan, **opts)),
        ):
            for table, df in tables.items():
                out[f"{name}/{front}/{table}"] = table_rows(df)
    return out


@pytest.fixture(scope="module")
def produced(spark):
    return all_tables(spark)


# a missing golden file collects no row tests, and the coverage test
# below then fails
_EXPECTED = {}
if os.path.exists(GOLDEN):
    with open(GOLDEN) as _fh:
        _EXPECTED = json.load(_fh)


@pytest.mark.parametrize("key", sorted(_EXPECTED))
def test_rows_match_golden(produced, key):
    assert produced[key] == _EXPECTED[key]


def test_golden_covers_every_table(produced):
    assert sorted(produced) == sorted(_EXPECTED)


def test_roads_plan_stays_near_line_plan(spark):
    """The roads table's optimized plan stays under twice the line
    table's (C transform, srid 4326, no hstore): the z_order and roads
    lookups read the out-tags expression once, where a per-highway-class
    `when` chain inlined it into every branch (5.7x the line plan)."""
    nodes, ways, rels = build_world(spark)
    exlist, enable_way_area = parse_style(STYLE)
    plan = StylePlan(exlist, hstore_mode="none",
                     enable_way_area=enable_way_area)
    tables = planet_tables_styled(nodes, ways, rels, plan=plan, srid=4326)
    size = {
        table: len(tables[table]._jdf.queryExecution().optimizedPlan()
                   .treeString())
        for table in ("planet_osm_line", "planet_osm_roads")
    }
    assert size["planet_osm_roads"] < 2 * size["planet_osm_line"], size


if __name__ == "__main__":
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    from osm2pgsql_spark.session import get_spark

    session = get_spark("pgsql-writer-golden", shuffle_partitions=4)
    golden = all_tables(session)
    with open(GOLDEN, "w") as fh:
        json.dump(golden, fh, indent=1, sort_keys=True)
        fh.write("\n")
    session.stop()
