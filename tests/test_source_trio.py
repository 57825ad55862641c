"""The (nodes, ways, relations) trio of every driver-side reader, row
by row: OPL, OSM XML (.osm/.osc) and o5m/o5c, each from an inline
input whose values are all written out here.

Each test compares whole rows (tags, refs, members, attributes, and
the op/op_seq columns of change files) and the trio's column types,
so a change in how a reader hands its rows to Spark shows up as a
changed value.  `ts` is compared as epoch seconds (`unix_seconds`),
which does not depend on any time zone."""

import json
import os
import subprocess
import sys
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from osm2pgsql_spark.sources.o5m import read_o5c, read_o5m, write_o5m
from osm2pgsql_spark.sources.opl import read_opl
from osm2pgsql_spark.sources.osm_xml import read_osc_xml, read_osm_xml

_ATTRS = "version:int,ts:timestamp,changeset:bigint,uid:bigint,user:string,visible:boolean"
NODE_TYPES = f"struct<id:bigint,lat:double,lon:double,tags:map<string,string>,{_ATTRS}>"
WAY_TYPES = f"struct<id:bigint,refs:array<bigint>,tags:map<string,string>,{_ATTRS}>"
REL_TYPES = ("struct<id:bigint,members:array<struct<type:string,ref:bigint,role:string>>,"
             f"tags:map<string,string>,{_ATTRS}>")


def _with_op(types: str) -> str:
    return types[:-1] + ",op:string,op_seq:bigint>"


def rows(df) -> list[dict]:
    order = "op_seq" if "op_seq" in df.columns else "id"
    return [r.asDict(recursive=True) for r in
            df.withColumn("ts", F.unix_seconds("ts")).orderBy(order).collect()]


def attrs(version=None, ts=None, changeset=None, uid=None, user=None, visible=None):
    return {"version": version, "ts": ts, "changeset": changeset, "uid": uid,
            "user": user, "visible": visible}


def member(t, ref, role):
    return {"type": t, "ref": ref, "role": role}


OPL = [
    "# comment lines and blank lines are skipped",
    "",
    "n1 v2 dV c10 t2020-06-01T12:34:56Z i7 ua%20%b%25%c "
    "Tname%3d%x=caf%e9%%2c%bar,amenity=cafe x9.5 y50.25",
    "n2 v1 dD c11 t2021-01-02T03:04:05Z i8 uz T",
    "n3 v1",
    "w10 v3 c12 i7 ua Thighway=primary,name=A%20%Street Nn1,n2,n3",
    "w11 v1 Tbarrier=fence",
    "r20 v1 Ttype=multipolygon,natural=water "
    "Mw10@outer,w11@inn%20%er,n1@,r21@sub%2c%area",
    "r21 v1 Ttype=route Mn2@stop",
]


def test_opl_trio(spark):
    nodes, ways, rels = read_opl(spark, OPL)
    assert nodes.schema.simpleString() == NODE_TYPES
    assert ways.schema.simpleString() == WAY_TYPES
    assert rels.schema.simpleString() == REL_TYPES
    assert rows(nodes) == [
        {"id": 1, "lat": 50.25, "lon": 9.5,
         "tags": {"name=x": "café,bar", "amenity": "cafe"},
         **attrs(2, 1591014896, 10, 7, "a b%c", True)},
        {"id": 2, "lat": None, "lon": None, "tags": {},
         **attrs(1, 1609556645, 11, 8, "z", False)},
        {"id": 3, "lat": None, "lon": None, "tags": {}, **attrs(1)},
    ]
    assert rows(ways) == [
        {"id": 10, "refs": [1, 2, 3],
         "tags": {"highway": "primary", "name": "A Street"},
         **attrs(3, None, 12, 7, "a")},
        {"id": 11, "refs": [], "tags": {"barrier": "fence"}, **attrs(1)},
    ]
    assert rows(rels) == [
        {"id": 20,
         "members": [member("w", 10, "outer"), member("w", 11, "inn er"),
                     member("n", 1, ""), member("r", 21, "sub,area")],
         "tags": {"type": "multipolygon", "natural": "water"}, **attrs(1)},
        {"id": 21, "members": [member("n", 2, "stop")],
         "tags": {"type": "route"}, **attrs(1)},
    ]


OSM_XML = """<?xml version="1.0" encoding="UTF-8"?>
<osm version="0.6" generator="inline">
  <node id="1" version="2" timestamp="2020-06-01T12:34:56Z" changeset="10"
        uid="7" user="a &amp; b" lat="50.25" lon="9.5">
    <tag k="name" v="caf&#233; &lt;1&gt;"/>
    <tag k="amenity" v="cafe"/>
  </node>
  <node id="2" version="1" visible="false" lat="50.5" lon="9.75"/>
  <way id="10" version="3" changeset="12" uid="7" user="a">
    <nd ref="1"/><nd ref="2"/>
    <tag k="highway" v="primary"/>
  </way>
  <way id="11" version="1"/>
  <relation id="20" version="1">
    <member type="way" ref="10" role="outer"/>
    <member type="node" ref="1" role=""/>
    <member type="relation" ref="21"/>
    <tag k="type" v="multipolygon"/>
  </relation>
</osm>
"""


def test_osm_xml_trio(spark, tmp_path):
    p = tmp_path / "inline.osm"
    p.write_text(OSM_XML, encoding="utf-8")
    nodes, ways, rels = read_osm_xml(spark, str(p))
    assert nodes.schema.simpleString() == NODE_TYPES
    assert ways.schema.simpleString() == WAY_TYPES
    assert rels.schema.simpleString() == REL_TYPES
    assert rows(nodes) == [
        {"id": 1, "lat": 50.25, "lon": 9.5,
         "tags": {"name": "café <1>", "amenity": "cafe"},
         **attrs(2, 1591014896, 10, 7, "a & b", True)},
        {"id": 2, "lat": 50.5, "lon": 9.75, "tags": {}, **attrs(1, visible=False)},
    ]
    assert rows(ways) == [
        {"id": 10, "refs": [1, 2], "tags": {"highway": "primary"},
         **attrs(3, None, 12, 7, "a", True)},
        {"id": 11, "refs": [], "tags": {}, **attrs(1, visible=True)},
    ]
    assert rows(rels) == [
        {"id": 20,
         "members": [member("w", 10, "outer"), member("n", 1, ""), member("r", 21, "")],
         "tags": {"type": "multipolygon"}, **attrs(1, visible=True)},
    ]


OSC_XML = """<?xml version="1.0" encoding="UTF-8"?>
<osmChange version="0.6" generator="inline">
  <modify>
    <node id="5" version="2" timestamp="2022-03-04T05:06:07Z" lat="1.5" lon="2.5">
      <tag k="shop" v="bakery"/>
    </node>
  </modify>
  <create>
    <node id="6" version="1" lat="1.25" lon="2.25"/>
    <way id="30" version="1">
      <nd ref="5"/><nd ref="6"/>
      <tag k="highway" v="path"/>
    </way>
  </create>
  <delete>
    <node id="5" version="3" lat="1.5" lon="2.5"/>
    <relation id="40" version="2"/>
  </delete>
  <modify>
    <relation id="41" version="1">
      <member type="node" ref="6" role="a"/>
      <member type="way" ref="30" role=""/>
      <member type="relation" ref="40" role="c"/>
      <tag k="type" v="site"/>
    </relation>
  </modify>
</osmChange>
"""


def test_osc_xml_trio(spark, tmp_path):
    p = tmp_path / "inline.osc"
    p.write_text(OSC_XML, encoding="utf-8")
    nodes, ways, rels = read_osc_xml(spark, str(p))
    assert nodes.schema.simpleString() == _with_op(NODE_TYPES)
    assert ways.schema.simpleString() == _with_op(WAY_TYPES)
    assert rels.schema.simpleString() == _with_op(REL_TYPES)
    assert rows(nodes) == [
        {"id": 5, "lat": 1.5, "lon": 2.5, "tags": {"shop": "bakery"},
         **attrs(2, 1646370367, visible=True), "op": "modify", "op_seq": 0},
        {"id": 6, "lat": 1.25, "lon": 2.25, "tags": {},
         **attrs(1, visible=True), "op": "create", "op_seq": 1},
        {"id": 5, "lat": 1.5, "lon": 2.5, "tags": {},
         **attrs(3, visible=True), "op": "delete", "op_seq": 2},
    ]
    assert rows(ways) == [
        {"id": 30, "refs": [5, 6], "tags": {"highway": "path"},
         **attrs(1, visible=True), "op": "create", "op_seq": 0},
    ]
    assert rows(rels) == [
        {"id": 40, "members": [], "tags": {}, **attrs(2, visible=True),
         "op": "delete", "op_seq": 0},
        {"id": 41,
         "members": [member("n", 6, "a"), member("w", 30, ""), member("r", 40, "c")],
         "tags": {"type": "site"}, **attrs(1, visible=True),
         "op": "modify", "op_seq": 1},
    ]


def _o5m_build(enc):
    enc.node(1, 50.25, 9.5, {"name": "café", "amenity": "cafe"},
             version=2, ts=datetime(2020, 6, 1, 12, 34, 56), changeset=10,
             uid=7, user="alice")
    enc.node(2, 50.5, 9.75, {"amenity": "cafe"})
    enc.node(3, 0.0, 0.0, version=4, ts=datetime(2021, 1, 2, 3, 4, 5),
             changeset=11, uid=7, user="alice", visible=False)
    enc.way(10, [1, 2], {"highway": "primary"}, version=1)
    enc.way(11, [], {"barrier": "fence"})
    enc.relation(20, [("w", 10, "outer"), ("n", 1, ""), ("r", 21, "sub")],
                 {"type": "multipolygon"})
    enc.relation(21, [], {}, version=2, visible=False)


def test_o5m_trio(spark, tmp_path):
    p = str(tmp_path / "inline.o5m")
    write_o5m(p, _o5m_build)
    nodes, ways, rels = read_o5m(spark, p)
    assert nodes.schema.simpleString() == NODE_TYPES
    assert ways.schema.simpleString() == WAY_TYPES
    assert rels.schema.simpleString() == REL_TYPES
    assert rows(nodes) == [
        {"id": 1, "lat": 50.25, "lon": 9.5,
         "tags": {"name": "café", "amenity": "cafe"},
         **attrs(2, 1591014896, 10, 7, "alice", True)},
        {"id": 2, "lat": 50.5, "lon": 9.75, "tags": {"amenity": "cafe"},
         **attrs(visible=True)},
        {"id": 3, "lat": None, "lon": None, "tags": {},
         **attrs(4, 1609556645, 11, 7, "alice", False)},
    ]
    assert rows(ways) == [
        {"id": 10, "refs": [1, 2], "tags": {"highway": "primary"},
         **attrs(1, visible=True)},
        {"id": 11, "refs": [], "tags": {"barrier": "fence"}, **attrs(visible=True)},
    ]
    assert rows(rels) == [
        {"id": 20,
         "members": [member("w", 10, "outer"), member("n", 1, ""), member("r", 21, "sub")],
         "tags": {"type": "multipolygon"}, **attrs(visible=True)},
        {"id": 21, "members": [], "tags": {}, **attrs(2, visible=False)},
    ]


def test_o5c_trio(spark, tmp_path):
    p = str(tmp_path / "inline.o5c")
    write_o5m(p, _o5m_build)
    raw = bytearray(open(p, "rb").read())
    raw[5:6] = b"c"  # o5c2 header
    open(p, "wb").write(bytes(raw))
    nodes, ways, rels = read_o5c(spark, p)
    assert nodes.schema.simpleString() == _with_op(NODE_TYPES)
    assert ways.schema.simpleString() == _with_op(WAY_TYPES)
    assert rels.schema.simpleString() == _with_op(REL_TYPES)
    assert [(r["id"], r["op"], r["op_seq"], r["visible"]) for r in rows(nodes)] == [
        (1, "modify", 0, True), (2, "modify", 1, True), (3, "delete", 2, False)]
    assert [(r["id"], r["op"], r["op_seq"], r["refs"]) for r in rows(ways)] == [
        (10, "modify", 0, [1, 2]), (11, "modify", 1, [])]
    assert [(r["id"], r["op"], r["op_seq"], r["members"]) for r in rows(rels)] == [
        (20, "modify", 0,
         [member("w", 10, "outer"), member("n", 1, ""), member("r", 21, "sub")]),
        (21, "delete", 1, [])]
    assert rows(nodes)[0]["ts"] == 1591014896


def test_tags_keep_the_input_key_order(spark):
    """The trio's tags map, and so every jsonb text built from it,
    lists keys in the input's order."""
    nodes, _, _ = read_opl(spark, ["n1 Tamenity=cafe,name=School%20%cafe x9 y50"])
    assert nodes.select(F.to_json("tags")).first()[0] == (
        '{"amenity":"cafe","name":"School cafe"}')
    nodes, _, _ = read_opl(spark, ["n1 Tname=School%20%cafe,amenity=cafe x9 y50"])
    assert nodes.select(F.to_json("tags")).first()[0] == (
        '{"name":"School cafe","amenity":"cafe"}')


# Run in a fresh interpreter per time zone: the readers' epochs, and
# the current_timestamp property after a create and after an append.
_TZ_SCRIPT = r"""
import importlib.util, json, os, sys
from datetime import datetime

from pyspark.sql import functions as F

from osm2pgsql_spark.session import get_spark
from osm2pgsql_spark.sources.o5m import read_o5m, write_o5m
from osm2pgsql_spark.sources.opl import read_opl
from osm2pgsql_spark.sources.osm_xml import read_osm_xml

repo, work = sys.argv[1], sys.argv[2]
spark = get_spark("tz-check", shuffle_partitions=2)
spark.sparkContext.setLogLevel("ERROR")
opl = os.path.join(work, "in.opl")
with open(opl, "w") as fh:
    fh.write("n1 v1 t2020-06-01T12:34:56Z Tamenity=cafe x9.0 y50.0\n")
osm = os.path.join(work, "in.osm")
with open(osm, "w") as fh:
    fh.write('<osm version="0.6"><node id="1" version="1" '
             'timestamp="2020-06-01T12:34:56Z" lat="50" lon="9"/></osm>')
osc = os.path.join(work, "in.osc")
with open(osc, "w") as fh:
    fh.write('<osmChange version="0.6"><modify><node id="1" version="2" '
             'timestamp="2020-06-02T01:02:03Z" lat="50" lon="9"/></modify></osmChange>')
o5m = os.path.join(work, "in.o5m")
write_o5m(o5m, lambda enc: enc.node(1, 50.0, 9.0, version=1,
                                     ts=datetime(2020, 6, 1, 12, 34, 56)))
out = {name: trio[0].select(F.unix_seconds("ts")).first()[0] for name, trio in (
    ("opl", read_opl(spark, opl)), ("osm", read_osm_xml(spark, osm)),
    ("o5m", read_o5m(spark, o5m)))}
spec = importlib.util.spec_from_file_location(
    "import_tool", os.path.join(repo, "tools", "import_tool.py"))
tool = importlib.util.module_from_spec(spec)
spec.loader.exec_module(tool)
db = os.path.join(work, "db")
for argv, key in (([opl, db], "create"), (["--append", osc, db], "append")):
    sys.argv = ["import_tool", *argv]
    tool.main()
    with open(os.path.join(db, "properties.json")) as fh:
        out[key] = json.load(fh)["current_timestamp"]
print("RESULT " + json.dumps(out))
"""


@pytest.mark.parametrize("tz", ["UTC", "America/New_York"])
def test_timestamps_are_instants_in_any_zone(tmp_path, tz):
    """ts holds the instant the file gives, and the current_timestamp
    property prints it in Zulu, whatever the process's time zone."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run(
        [sys.executable, "-c", _TZ_SCRIPT, repo, str(tmp_path)],
        capture_output=True, text=True, cwd=repo, timeout=600,
        env={**os.environ, "TZ": tz, "PYTHONPATH": repo,
             "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS", "2")})
    assert r.returncode == 0, r.stderr[-3000:]
    result = json.loads(r.stdout.split("RESULT ", 1)[1].splitlines()[0])
    assert result == {"opl": 1591014896, "osm": 1591014896, "o5m": 1591014896,
                      "create": "2020-06-01T12:34:56Z",
                      "append": "2020-06-02T01:02:03Z"}
