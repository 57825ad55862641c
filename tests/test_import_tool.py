"""End-to-end import/append binary (tools/import_tool.py) — the
osm2pgsql-executable twin: create, properties, append with dependency
propagation and old+new expiry."""

import os
import subprocess
import sys

import pytest

from conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

OPL = """n1 Tamenity=pub,name=A x9.0 y50.0
n2 x9.001 y50.0
n3 x9.001 y50.001
n4 x9.0 y50.001
n10 Thighway=bus_stop x9.2 y50.2
w100 Thighway=residential,name=Main Nn1,n2
w101 Tnatural=water Nn1,n2,n3,n4,n1
"""

# node 2 moves far away -> way 100 geometry changes without w100
# itself appearing in the diff (dependency propagation)
OSC = """<?xml version='1.0'?>
<osmChange version="0.6">
  <modify><node id="2" lat="50.5" lon="9.5"/></modify>
  <create><node id="20" lat="50.3" lon="9.3" version="1"/></create>
</osmChange>
"""


def _run(args):
    return subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "import_tool.py"), *args],
        capture_output=True, text=True, cwd=REPO, timeout=600,
        env={**os.environ, "SPARK_GRAFT_CPUS": "4"},
    )


@pytest.fixture(scope="module")
def imported(tmp_path_factory):
    d = tmp_path_factory.mktemp("imp")
    src = d / "in.opl"
    src.write_text(OPL)
    out = d / "db"
    r = _run([str(src), str(out)])
    assert r.returncode == 0, r.stderr[-2000:]
    return d, out, r


def test_create_lands_tables_middle_properties(imported, spark):
    d, out, r = imported
    assert "table points:" in r.stdout and "table lines:" in r.stdout
    pts = spark.read.parquet(str(out / "tables" / "points"))
    assert pts.count() == 2  # tagged nodes only (n1, n10)
    lines = spark.read.parquet(str(out / "tables" / "lines"))
    assert lines.count() == 1  # w100
    polys = spark.read.parquet(str(out / "tables" / "polygons"))
    assert polys.count() == 1  # closed water way w101
    # slim middle holds everything, including untagged nodes
    mid_nodes = spark.read.parquet(str(out / "middle" / "nodes"))
    assert mid_nodes.count() == 5
    import json

    props = json.load(open(out / "properties.json"))
    assert props["db_format"] == "parquet-v1"
    assert props["style"] == "generic"


@pytest.mark.slow
def test_append_propagates_and_expires(imported, spark):
    d, out, _ = imported
    osc = d / "change.osc"
    osc.write_text(OSC)
    expire = d / "dirty.list"
    r = _run(
        [str(osc), str(out), "--append", "--expire-tiles", "12",
         "--expire-output", str(expire)]
    )
    assert r.returncode == 0, r.stderr[-2000:]
    # middle MERGEd: node 2 moved, node 20 created
    mid_nodes = {
        row["id"]: row for row in
        spark.read.parquet(str(out / "middle" / "nodes")).collect()
    }
    assert mid_nodes[2]["lat"] == 50.5 and mid_nodes[2]["lon"] == 9.5
    assert 20 in mid_nodes and len(mid_nodes) == 6
    # way 100's refreshed geometry reflects the moved node: its line
    # now spans from (9.0,50.0) to (9.5,50.5) in 3857
    from osm2pgsql_spark.functions.geometry import from_wkb

    lines = spark.read.parquet(str(out / "tables" / "lines")).collect()
    assert len(lines) == 1
    kind, pts = from_wkb(bytes(lines[0]["geom"]))
    assert kind == "linestring"
    import numpy as np

    span = np.abs(pts[-1] - pts[0])
    assert span[0] > 50000  # ~0.5 deg lon in meters
    # expiry: tiles for BOTH the old and the new position of the way
    txt = expire.read_text().strip().splitlines()
    assert txt and all(line.startswith("12/") for line in txt)
    assert len(txt) >= 2  # old location + new location differ at z12
    # append timestamp recorded
    import json

    props = json.load(open(out / "properties.json"))
    assert "append_timestamp" in props


def test_append_rejects_incompatible_style(imported, tmp_path):
    d, out, _ = imported
    style = tmp_path / "other_style.py"
    style.write_text(
        "def tables(spark, nodes, ways, rels):\n    return {}\n"
    )
    osc = d / "change2.osc"
    osc.write_text(OSC)
    r = _run([str(osc), str(out), "--append", "--style", str(style)])
    assert r.returncode != 0
    assert "incompatible" in (r.stderr + r.stdout)


@pytest.mark.slow
def test_append_incremental_equals_full(tmp_path, spark):
    """--refresh incremental (touched rows only) must produce exactly
    the tables --refresh full re-derives."""
    src = tmp_path / "in.opl"
    src.write_text(OPL)
    osc = tmp_path / "c.osc"
    osc.write_text(OSC)
    dbs = {}
    for mode in ("full", "incremental"):
        out = tmp_path / f"db_{mode}"
        assert _run([str(src), str(out)]).returncode == 0
        r = _run([str(osc), str(out), "--append", "--refresh", mode])
        assert r.returncode == 0, r.stderr[-2000:]
        dbs[mode] = out
    for name in ("points", "lines", "polygons", "routes", "boundaries"):
        full = spark.read.parquet(str(dbs["full"] / "tables" / name))
        inc = spark.read.parquet(str(dbs["incremental"] / "tables" / name))
        assert sorted(full.columns) == sorted(inc.columns)
        a = {tuple(str(v) for v in row) for row in full.collect()}
        b = {tuple(str(v) for v in row) for row in inc.collect()}
        assert a == b, name


@pytest.mark.slow
def test_append_reference_multipolygon_diff(tmp_path, spark):
    """The reference's multipolygon diff through the CLI: a way whose
    <modify> is (mis)labelled version=1 must still be recomputed
    (regression: the v1-create propagation skip used to swallow it),
    deletes must land, and incremental must equal full refresh."""
    base = "/root/reference/tests/data/test_multipolygon.osm"
    diff = "/root/reference/tests/data/test_multipolygon_diff.osc"
    dbs = {}
    for mode in ("full", "incremental"):
        out = tmp_path / f"db_{mode}"
        assert _run([base, str(out)]).returncode == 0
        r = _run([diff, str(out), "--append", "--refresh", mode])
        assert r.returncode == 0, r.stderr[-2000:]
        dbs[mode] = out

    lines = {r["osm_id"] for r in
             spark.read.parquet(str(dbs["incremental"] / "tables" / "lines")).collect()}
    polys = {r["osm_id"] for r in
             spark.read.parquet(str(dbs["incremental"] / "tables" / "polygons")).collect()}
    assert 15 in lines and 15 not in polys  # closed->open way switched tables
    assert 97 not in lines | polys and 104 not in lines | polys  # deletes

    for name in ("points", "lines", "polygons", "routes", "boundaries"):
        full = spark.read.parquet(str(dbs["full"] / "tables" / name))
        inc = spark.read.parquet(str(dbs["incremental"] / "tables" / name))
        a = {tuple(str(v) for v in row) for row in full.collect()}
        b = {tuple(str(v) for v in row) for row in inc.collect()}
        assert a == b, name


def test_create_bbox_complete_ways(tmp_path, spark):
    """--bbox keeps a boundary-crossing way complete: all its nodes
    survive (reference middle semantics), while fully-outside objects
    drop."""
    src = tmp_path / "in.opl"
    # n1 inside, n2 outside; w100 crosses the box. n10 far outside.
    src.write_text(OPL)
    out = tmp_path / "db"
    r = _run([str(src), str(out), "--bbox", "8.99,49.99,9.0005,50.0005"])
    assert r.returncode == 0, r.stderr[-2000:]
    mid_nodes = {row["id"] for row in
                 spark.read.parquet(str(out / "middle" / "nodes")).collect()}
    # n1 inside; n2/n3/n4 pulled back by crossing ways; n10 dropped
    assert mid_nodes == {1, 2, 3, 4}
    lines = spark.read.parquet(str(out / "tables" / "lines")).collect()
    assert len(lines) == 1  # w100 intact
    from osm2pgsql_spark.functions.geometry import from_wkb

    kind, pts = from_wkb(bytes(lines[0]["geom"]))
    assert len(pts) == 2  # both endpoints, not truncated at the box
    pts_tbl = {row["osm_id"] for row in
               spark.read.parquet(str(out / "tables" / "points")).collect()}
    assert pts_tbl == {1}  # n10 (outside, tagged) is gone


def test_create_drop_removes_middle_and_blocks_append(tmp_path):
    src = tmp_path / "in.opl"
    src.write_text(OPL)
    out = tmp_path / "db"
    r = _run([str(src), str(out), "--drop"])
    assert r.returncode == 0, r.stderr[-2000:]
    assert not (out / "middle").exists()
    assert (out / "tables" / "lines").exists()
    osc = tmp_path / "c.osc"
    osc.write_text(OSC)
    r = _run([str(osc), str(out), "--append"])
    assert r.returncode != 0
    assert "incompatible" in (r.stderr + r.stdout)


# --- create: tables read from the middle, shared geometry built once

# every generic table gets rows: tagged nodes, a line, an area way, a
# route, a boundary ring of three untagged ways, and a multipolygon
# whose hole is its own closed way
OPL_ALL = """n1 v1 t2024-01-01T00:00:00Z Tamenity=cafe,name=A x9.0 y50.0
n2 Tshop=bakery x9.01 y50.0
n3 x9.02 y50.0
n4 x9.03 y50.0
n5 x9.04 y50.0
n10 x9.1 y50.1
n11 x9.11 y50.1
n12 x9.11 y50.11
n13 x9.1 y50.11
n20 x9.2 y50.2
n21 x9.3 y50.2
n22 x9.3 y50.3
n23 x9.2 y50.3
n24 x9.24 y50.24
n25 x9.26 y50.24
n26 x9.26 y50.26
n27 x9.24 y50.26
n40 x9.5 y50.5
n41 x9.6 y50.5
n42 x9.6 y50.6
n43 x9.55 y50.65
n44 x9.5 y50.6
w1 Thighway=residential,name=Main Nn3,n4
w2 Thighway=primary Nn4,n5
w3 v2 t2024-03-01T12:00:00Z Tbuilding=yes Nn10,n11,n12,n13,n10
w20 Nn20,n21,n22
w21 Nn22,n23,n20
w22 Nn24,n25,n26,n27,n24
w40 Nn40,n41,n42
w41 Nn42,n43,n44
w42 Nn44,n40
r100 Ttype=multipolygon,natural=wood Mw20@outer,w21@outer,w22@inner
r101 Ttype=route,route=bus,ref=1 Mw1@,w2@
r102 Ttype=boundary,boundary=administrative,admin_level=8 Mw41@outer,w42@outer,w40@outer
"""

GENERIC_TABLES = ("points", "lines", "polygons", "routes", "boundaries")


def _load_tool():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "import_tool", os.path.join(REPO, "tools", "import_tool.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _rows(df):
    """A table as a sorted multiset of rows, columns in name order."""
    cols = sorted(df.columns)
    return sorted(
        tuple(bytes(v) if isinstance(v, bytearray) else v for v in row)
        for row in df.select(cols).collect()
    )


def test_create_tables_equal_generic_import_in_memory(tmp_path, spark):
    """cmd_create builds its tables from the middle it has just written,
    with the shared geometry materialized once; the five tables are the
    same row multisets as the generic style run straight on the parsed
    frames."""
    import argparse

    from examples.generic_import import generic_import
    from osm2pgsql_spark.sources.opl import read_opl

    src = tmp_path / "in.opl"
    src.write_text(OPL_ALL)
    out = tmp_path / "db"
    args = argparse.Namespace(input=str(src), out_dir=str(out), bbox=None,
                              style=None, pg=None, drop=False)
    _load_tool().cmd_create(args, spark)
    direct = generic_import(spark, *read_opl(spark, OPL_ALL.splitlines()))
    assert set(direct) == set(GENERIC_TABLES)
    for name in GENERIC_TABLES:
        written = _rows(spark.read.parquet(str(out / "tables" / name)))
        assert written, name
        assert written == _rows(direct[name]), name
    import json

    props = json.load(open(out / "properties.json"))
    assert props["current_timestamp"] == "2024-03-01T12:00:00Z"


def test_second_import_reuses_generated_code(tmp_path, spark):
    """The session's generated-code cache holds one import's classes,
    so a second identical import in the same session compiles almost
    none (with Spark's default 100 entries it compiles them all again)."""
    import argparse

    compiled = (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
                .METRIC_COMPILATION_TIME())
    src = tmp_path / "in.opl"
    src.write_text(OPL_ALL)
    tool = _load_tool()
    new_classes = []
    for run in ("first", "second"):
        args = argparse.Namespace(input=str(src), out_dir=str(tmp_path / run), bbox=None,
                                  style=None, pg=None, drop=False)
        before = compiled.getCount()
        tool.cmd_create(args, spark)
        new_classes.append(compiled.getCount() - before)
    assert new_classes[1] < 10, new_classes


def _checkpoints(df) -> set:
    """Ids of the materialized (locally checkpointed) relations a
    DataFrame's plan reads."""
    ids = set()
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves().iterator()
    while leaves.hasNext():
        leaf = leaves.next()
        if (leaf.getClass().getSimpleName() == "LogicalRDD"
                and "LocalCheckpointRDD" in leaf.rdd().toDebugString()):
            ids.add(leaf.rdd().id())
    return ids


def test_generic_import_shares_one_materialized_way_relation(tmp_path, spark):
    """lines and polygons both read the ways joined with their point
    lists, and polygons' multipolygon assembly reads the same points:
    that relation is materialized once and both plans scan it.  routes
    and boundaries share the materialized multilinestring geometry.
    A rule set with one reader keeps a lazy plan (flex_generic_lines).
    Each geometry kernel is evaluated in exactly one Python eval node
    per table: none is re-run under a pushed-down not_null filter."""
    import re

    from examples.generic_import import generic_import
    from osm2pgsql_spark.operators.geom_udfs import KERNELS
    from osm2pgsql_spark.queries import q_flex_generic_lines
    from osm2pgsql_spark.sources.opl import read_opl

    # parquet inputs, as cmd_create reads them from the middle: their
    # plans have no RDD leaves of their own
    frames = []
    for name, df in zip(("nodes", "ways", "rels"),
                        read_opl(spark, OPL_ALL.splitlines())):
        path = str(tmp_path / name)
        df.write.parquet(path)
        frames.append(spark.read.parquet(path))
    tables = generic_import(spark, *frames)
    ck = {name: _checkpoints(df) for name, df in tables.items()}
    assert ck["points"] == set()
    assert len(ck["lines"]) == 1
    assert ck["polygons"] == ck["lines"]
    assert len(ck["routes"]) == 1
    assert ck["boundaries"] == ck["routes"]
    assert ck["routes"] != ck["lines"]
    assert _checkpoints(q_flex_generic_lines(spark, SF_DIR)) == set()

    n_evals = 0
    for name, df in tables.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        evals = [line for line in plan.splitlines() if "EvalPython" in line]
        n_evals += len(evals)
        for kernel in KERNELS:
            hits = sum(1 for line in evals if re.search(rf"\b{kernel}\(", line))
            assert hits <= 1, f"{name}: {kernel} evaluated {hits}x:\n{plan}"
    # points 1, lines 1, polygons 4 (way polygons, member lines,
    # multipolygons, their 3857 transform), routes 1, boundaries 1
    assert n_evals == 8


# --- append-only ids=nil log tables (track-changes.lua) -------------

TRACK = "/root/reference/flex-config/track-changes.lua"

OPL_TC = """n1 v1 t2024-01-01T00:00:00Z Tamenity=pub x9.0 y50.0
n2 v1 t2024-01-01T00:00:00Z x9.001 y50.0
w100 v1 t2024-01-01T00:00:00Z Thighway=residential Nn1,n2
"""

# modify n2 (dependency of w100), create n20, delete n1: the change
# file's objects log M/A/D; the dependency-reprocessed w100 must NOT
# appear (file_reading_in_progress is false by then)
OSC_TC = """<?xml version='1.0'?>
<osmChange version="0.6">
  <modify><node id="2" lat="50.5" lon="9.5" version="2" timestamp="2024-02-01T00:00:00Z"/></modify>
  <create><node id="20" lat="50.3" lon="9.3" version="1" timestamp="2024-02-01T00:00:00Z"><tag k="amenity" v="bench"/></node></create>
  <delete><node id="1" version="2" timestamp="2024-02-01T00:00:00Z"/></delete>
</osmChange>
"""


@pytest.mark.slow
def test_append_track_changes_log_table(tmp_path, spark):
    src = tmp_path / "in.opl"
    src.write_text(OPL_TC)
    out = tmp_path / "db"
    r = _run([str(src), str(out), "--style", TRACK])
    assert r.returncode == 0, r.stderr[-2000:]
    osc = tmp_path / "diff.osc"
    osc.write_text(OSC_TC)
    r2 = _run([str(osc), str(out), "--append", "--style", TRACK])
    assert r2.returncode == 0, r2.stderr[-2000:]
    log = spark.read.parquet(str(out / "tables" / "change_log"))
    rows = {(row["osm_type"], row["osm_id"]): row["action"]
            for row in log.collect()}
    # exactly the file's objects: create v1 -> A, modify -> M,
    # delete -> D (track-changes.lua:46,65); nothing from create mode,
    # nothing from dependency reprocessing of w100
    assert rows == {("node", 20): "A", ("node", 2): "M", ("node", 1): "D"}
    dates = {row["osm_id"]: str(row["date"]) for row in log.collect()}
    assert dates[20].startswith("2024-02-01")


@pytest.mark.slow
def test_append_track_changes_accumulates(tmp_path, spark):
    """A second append keeps the first one's rows (append-only: the
    reference never deletes from an ids=nil table)."""
    src = tmp_path / "in.opl"
    src.write_text(OPL_TC)
    out = tmp_path / "db"
    assert _run([str(src), str(out), "--style", TRACK]).returncode == 0
    osc = tmp_path / "diff.osc"
    osc.write_text(OSC_TC)
    assert _run([str(osc), str(out), "--append", "--style", TRACK]).returncode == 0
    osc2 = tmp_path / "diff2.osc"
    osc2.write_text("""<?xml version='1.0'?>
<osmChange version="0.6">
  <modify><node id="20" lat="50.31" lon="9.31" version="2" timestamp="2024-03-01T00:00:00Z"/></modify>
</osmChange>
""")
    assert _run([str(osc2), str(out), "--append", "--style", TRACK]).returncode == 0
    log = spark.read.parquet(str(out / "tables" / "change_log"))
    actions = sorted((row["osm_id"], row["action"], row["version"])
                     for row in log.collect())
    assert actions == [(1, "D", 2), (2, "M", 2), (20, "A", 1), (20, "M", 2)]


LI_PBF = "/root/reference/tests/data/liechtenstein-2013-08-03.osm.pbf"
DEFAULT_STYLE = "/root/reference/default.style"


@pytest.mark.skipif(not os.path.exists(LI_PBF), reason="fixture missing")
@pytest.mark.slow
def test_pgsql_output_cli_liechtenstein(tmp_path, spark):
    """The reference's historic front door: `osm2pgsql file.pbf` with
    the pgsql output + default.style — our `-O pgsql -S` twin end to
    end, counts pinned, z_order cross-checked against the independent
    pgsql_compat Catalyst twin (command-line-parser.cpp:338-460,
    output-pgsql.cpp)."""
    out = tmp_path / "pg"
    r = _run([LI_PBF, str(out), "-O", "pgsql", "-S", DEFAULT_STYLE,
              "--drop"])
    assert r.returncode == 0, r.stderr[-2000:]
    counts = {
        t: spark.read.parquet(str(out / "tables" / t)).count()
        for t in ("planet_osm_point", "planet_osm_line",
                  "planet_osm_polygon", "planet_osm_roads")
    }
    assert counts == {
        "planet_osm_point": 1342,
        "planet_osm_line": 3299,
        "planet_osm_polygon": 4131,
        "planet_osm_roads": 375,
    }

    from pyspark.sql import functions as F

    from osm2pgsql_spark.plans.pgsql_compat import planet_osm_tables
    from osm2pgsql_spark.sources.pbf import read_pbf

    nodes, ways, _ = read_pbf(spark, LI_PBF)
    cat = planet_osm_tables(nodes, ways)
    line = (spark.read.parquet(str(out / "tables" / "planet_osm_line"))
            .where(F.col("osm_id") > 0)
            .select("osm_id", F.col("z_order").alias("sz")).distinct())
    twin = (cat["planet_osm_line"]
            .select("osm_id", F.col("z_order").alias("cz")).distinct())
    shared = line.join(twin, "osm_id")
    assert shared.count() > 2900
    assert shared.where(F.col("sz") != F.col("cz")).count() == 0


def test_pgsql_output_needs_style(tmp_path):
    src = tmp_path / "in.opl"
    src.write_text(OPL)
    r = _run([str(src), str(tmp_path / "db"), "-O", "pgsql"])
    assert r.returncode != 0
    assert "needs a style file" in r.stderr


GEOM_LOG_LUA = """
local log = osm2pgsql.define_table({
    name = 'rel_log',
    columns = {
        { column = 'osm_id', type = 'int8' },
        { column = 'action', type = 'text' },
        { column = 'geom', type = 'multilinestring', projection = 4326 },
    }
})

function osm2pgsql.process_relation(object)
    log:insert({ osm_id = object.id, action = 'A',
                 geom = object:as_multilinestring() })
end

function osm2pgsql.process_deleted_relation(object)
    log:insert({ osm_id = object.id, action = 'D' })
end
"""

OPL_GEOMLOG = """n1 x9.0 y50.0
n2 x9.001 y50.0
n3 x9.001 y50.001
n4 x9.0 y50.001
w100 Thighway=path Nn1,n2
w101 Thighway=path Nn3,n4
"""

OSC_GEOMLOG = """<?xml version='1.0'?>
<osmChange version="0.6">
  <create>
    <relation id="500" version="1">
      <member type="way" ref="100" role=""/>
      <member type="way" ref="101" role=""/>
      <tag k="type" v="route"/><tag k="route" v="hiking"/>
    </relation>
  </create>
</osmChange>
"""


@pytest.mark.slow
def test_append_log_table_member_geometry_from_middle(tmp_path, spark):
    """ids=nil log-table file pass: a diff relation whose member ways
    are NOT in the diff still resolves geometry — against the updated
    middle snapshot, like the reference's middle-backed buffer
    (output-flex.cpp:1175-1282).  The result must match a
    full-recompute twin (create over the merged data)."""
    style = tmp_path / "geomlog.lua"
    style.write_text(GEOM_LOG_LUA)
    src = tmp_path / "in.opl"
    src.write_text(OPL_GEOMLOG)
    out = tmp_path / "db"
    r = _run([str(src), str(out), "--style", str(style)])
    assert r.returncode == 0, r.stderr[-2000:]
    osc = tmp_path / "diff.osc"
    osc.write_text(OSC_GEOMLOG)
    r = _run([str(osc), str(out), "--append", "--style", str(style)])
    assert r.returncode == 0, r.stderr[-2000:]

    log = spark.read.parquet(str(out / "tables" / "rel_log")).collect()
    assert [(row["osm_id"], row["action"]) for row in log] == [(500, "A")]
    got = log[0]["geom"]
    assert got is not None

    # full-recompute twin: create over base+diff merged in one file
    twin_src = tmp_path / "merged.osm"
    twin_src.write_text("""<?xml version='1.0'?>
<osm version="0.6">
 <node id="1" lat="50.0" lon="9.0"/>
 <node id="2" lat="50.0" lon="9.001"/>
 <node id="3" lat="50.001" lon="9.001"/>
 <node id="4" lat="50.001" lon="9.0"/>
 <way id="100"><nd ref="1"/><nd ref="2"/><tag k="highway" v="path"/></way>
 <way id="101"><nd ref="3"/><nd ref="4"/><tag k="highway" v="path"/></way>
 <relation id="500">
  <member type="way" ref="100" role=""/>
  <member type="way" ref="101" role=""/>
  <tag k="type" v="route"/><tag k="route" v="hiking"/>
 </relation>
</osm>
""")
    twin_out = tmp_path / "twin"
    r = _run([str(twin_src), str(twin_out), "--style", str(style)])
    assert r.returncode == 0, r.stderr[-2000:]
    twin = spark.read.parquet(str(twin_out / "tables" / "rel_log")).collect()
    assert len(twin) == 1
    assert bytes(got) == bytes(twin[0]["geom"])


PGSQL_OPL = """n1 Tamenity=pub,name=A x9.0 y50.0
n2 x9.001 y50.0
n3 x9.001 y50.001
n4 x9.0 y50.001
w100 Thighway=residential,name=Main Nn1,n2
w101 Tnatural=water Nn1,n2,n3,n4,n1
"""

PGSQL_OSC = """<?xml version='1.0'?>
<osmChange version="0.6">
  <modify><node id="2" lat="50.0002" lon="9.0012"/></modify>
  <create><node id="20" lat="50.3" lon="9.3" version="1">
    <tag k="amenity" v="cafe"/></node></create>
</osmChange>
"""


@pytest.mark.slow
def test_pgsql_output_append_incremental(tmp_path, spark):
    """-O pgsql append: moving a node refreshes the dependent way rows
    (dependency propagation through the 'area' mapped id space) and a
    created tagged node lands in planet_osm_point; the result equals a
    fresh import of the merged data."""
    from pyspark.sql import functions as F

    style_args = ["-O", "pgsql", "-S", DEFAULT_STYLE]
    src = tmp_path / "in.opl"
    src.write_text(PGSQL_OPL)
    out = tmp_path / "db"
    r = _run([str(src), str(out), *style_args])
    assert r.returncode == 0, r.stderr[-2000:]
    osc = tmp_path / "diff.osc"
    osc.write_text(PGSQL_OSC)
    r = _run([str(osc), str(out), "--append", *style_args])
    assert r.returncode == 0, r.stderr[-2000:]

    # twin: fresh import over the merged data
    merged = tmp_path / "merged.opl"
    merged.write_text(
        "n1 Tamenity=pub,name=A x9.0 y50.0\n"
        "n2 x9.0012 y50.0002\n"
        "n3 x9.001 y50.001\n"
        "n4 x9.0 y50.001\n"
        "n20 Tamenity=cafe x9.3 y50.3\n"
        "w100 Thighway=residential,name=Main Nn1,n2\n"
        "w101 Tnatural=water Nn1,n2,n3,n4,n1\n"
    )
    twin_out = tmp_path / "twin"
    r = _run([str(merged), str(twin_out), *style_args])
    assert r.returncode == 0, r.stderr[-2000:]

    for t in ("planet_osm_point", "planet_osm_line", "planet_osm_polygon",
              "planet_osm_roads"):
        a = spark.read.parquet(str(out / "tables" / t))
        b = spark.read.parquet(str(twin_out / "tables" / t))
        assert sorted(a.columns) == sorted(b.columns), t
        a = a.select(*sorted(a.columns))
        b = b.select(*sorted(a.columns))
        assert a.exceptAll(b).count() == 0, t
        assert b.exceptAll(a).count() == 0, t
    pts = spark.read.parquet(str(out / "tables" / "planet_osm_point"))
    assert pts.where(F.col("amenity") == "cafe").count() == 1


class TestBboxParam:
    """-b/--bbox validation twins (reference
    tests/test-options-parse.cpp 'Parsing bbox*' +
    command-line-parser.cpp:34-80)."""

    def _parse(self, arg):
        import importlib.util

        spec = importlib.util.spec_from_file_location(
            "import_tool", os.path.join(REPO, "tools", "import_tool.py"))
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod.parse_bbox_param(arg)

    def test_parses_plain_and_spaced(self):
        assert self._parse("1.2,3.4,5.6,7.8") == (1.2, 3.4, 5.6, 7.8)
        # strtod skips leading whitespace (opt3 in the reference test)
        assert self._parse("1.2, 3.4, 5.6, 7.8") == (1.2, 3.4, 5.6, 7.8)

    def test_wrong_order(self):
        with pytest.raises(SystemExit, match="failed due to maxlon <= minlon"):
            self._parse("1.0,2.0,0.0,0.0")
        with pytest.raises(SystemExit, match="failed due to maxlat <= minlat"):
            self._parse("0.0,2.0,1.0,0.0")

    def test_wrong_format(self):
        for bad in ("123", "1,2,3,4x", "1,,3,4", "1,2,3,nan",
                    "1,2,3,inf", "1,2,3,", "a,b,c,d", "1,2,3,4,5"):
            with pytest.raises(
                    SystemExit,
                    match="Bounding box must be specified like: "
                          "minlon,minlat,maxlon,maxlat."):
                self._parse(bad)

    def test_off_planet_rejected(self):
        with pytest.raises(SystemExit, match="must be specified like"):
            self._parse("-200,0,10,10")


class TestPrefixParam:
    """-p/--prefix identifier validation (pgsql.cpp:259-269
    check_identifier) and table renaming."""

    def _load(self):
        import importlib.util

        spec = importlib.util.spec_from_file_location(
            "import_tool", os.path.join(REPO, "tools", "import_tool.py"))
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod

    def _args(self, mod, **over):
        import argparse

        base = dict(style=os.path.join(
            "/root/reference", "default.style"), hstore=False,
            hstore_all=False, hstore_column=[], hstore_match_only=False,
            keep_coastlines=False, latlong=False, tag_transform_script=None,
            multi_geometry=False, reproject_area=False,
            extra_attributes=False, prefix="planet_osm")
        base.update(over)
        return argparse.Namespace(**base)

    def test_special_chars_rejected(self):
        mod = self._load()
        with pytest.raises(
                SystemExit,
                match="Special characters are not allowed in "
                      "--prefix parameter: 'bad;drop'."):
            mod.load_pgsql_style(self._args(mod, prefix="bad;drop"))

    def test_prefix_renames_id_spaces(self):
        mod = self._load()
        _fn, spaces = mod.load_pgsql_style(self._args(mod, prefix="osm_uk"))
        assert set(spaces) == {"osm_uk_point", "osm_uk_line",
                               "osm_uk_polygon", "osm_uk_roads"}


ANY_IDS_LUA = """
local addrs = osm2pgsql.define_table({
    name = 'addrs',
    ids = { type = 'any', type_column = 'osm_type', id_column = 'osm_id' },
    columns = {
        { column = 'name', type = 'text' },
    }
})

function osm2pgsql.process_node(object)
    if object.tags.name then addrs:insert({ name = object.tags.name }) end
end

function osm2pgsql.process_way(object)
    if object.tags.name then addrs:insert({ name = object.tags.name }) end
end
"""

ANY_IDS_OPL = """n1 Tname=A x9.0 y50.0
n2 x9.001 y50.0
w100 Tname=Main Nn1,n2
"""

ANY_IDS_OSC = """<?xml version='1.0'?>
<osmChange version="0.6">
  <modify><node id="1" lat="50.0" lon="9.0" version="2">
    <tag k="name" v="B"/></node></modify>
</osmChange>
"""


@pytest.mark.slow
def test_append_any_ids_delete_and_reinsert(tmp_path, spark):
    """ADVICE round-7 (medium): ids={type='any'} tables are
    ID-TRACKED (two-column osm_type/osm_id delete + reinsert,
    reference flex-table.cpp map_id) — they must NOT be treated as
    ids=nil append-only log tables, which silently kept stale rows
    and appended duplicates."""
    style = tmp_path / "anyids.lua"
    style.write_text(ANY_IDS_LUA)
    src = tmp_path / "in.opl"
    src.write_text(ANY_IDS_OPL)
    out = tmp_path / "db"
    r = _run([str(src), str(out), "--style", str(style)])
    assert r.returncode == 0, r.stderr[-2000:]

    rows = {(x["osm_type"], x["osm_id"]): x["name"]
            for x in spark.read.parquet(str(out / "tables" / "addrs")).collect()}
    assert rows == {("n", 1): "A", ("w", 100): "Main"}

    osc = tmp_path / "diff.osc"
    osc.write_text(ANY_IDS_OSC)
    r = _run([str(osc), str(out), "--append", "--style", str(style)])
    assert r.returncode == 0, r.stderr[-2000:]

    got = spark.read.parquet(str(out / "tables" / "addrs")).collect()
    # no duplicate (n,1) row, no stale name=A; the way containing n1
    # reprocesses to the same single row
    assert len(got) == 2
    rows = {(x["osm_type"], x["osm_id"]): x["name"] for x in got}
    assert rows == {("n", 1): "B", ("w", 100): "Main"}


class TestInputReader:
    """-r/--input-reader (reference command-line-parser.cpp:545-550 +
    input.cpp:313-329 wordings): force the reader, reject unknown
    formats, refuse undetectable files without -r, refuse change
    files in create mode."""

    def test_force_opl_on_odd_extension(self, tmp_path, spark):
        src = tmp_path / "data.dump"
        src.write_text("n1 Tamenity=pub x9.0 y50.0\n")
        out = tmp_path / "db"
        r = _run([str(src), str(out), "-r", "opl"])
        assert r.returncode == 0, r.stderr[-2000:]
        pts = spark.read.parquet(str(out / "tables" / "points"))
        assert pts.count() == 1

    def test_unknown_format_wording(self, tmp_path):
        src = tmp_path / "data.opl"
        src.write_text("n1 x9.0 y50.0\n")
        r = _run([str(src), str(tmp_path / "db"), "-r", "foo"])
        assert r.returncode != 0
        assert "Unknown file format 'foo'." in r.stderr

    def test_undetectable_without_r(self, tmp_path):
        src = tmp_path / "data.dump"
        src.write_text("n1 x9.0 y50.0\n")
        r = _run([str(src), str(tmp_path / "db")])
        assert r.returncode != 0
        assert "Cannot detect file format for" in r.stderr
        assert "Try using -r." in r.stderr

    def test_change_file_rejected_in_create(self, tmp_path):
        src = tmp_path / "diff.osc"
        src.write_text("<osmChange version='0.6'/>")
        r = _run([str(src), str(tmp_path / "db")])
        assert r.returncode != 0
        assert ("Reading an OSM change file only works in append mode."
                in r.stderr)


class TestMergeTablesFormat:
    """--tables-format merge: output tables stored as hash-bucketed
    ParquetMergeTable snapshots so append refresh I/O is proportional
    to the diff (touched buckets), not the table — the plain format
    rewrites every output table in full per append."""

    def _both(self, tmp_path):
        src = tmp_path / "in.opl"
        src.write_text(OPL)
        osc = tmp_path / "change.osc"
        osc.write_text(OSC)
        outs = {}
        for fmt in ("plain", "merge"):
            out = tmp_path / fmt
            args = [str(src), str(out)]
            if fmt == "merge":
                args += ["--tables-format", "merge"]
            r = _run(args)
            assert r.returncode == 0, r.stderr[-2000:]
            r = _run([str(osc), str(out), "--append"])
            assert r.returncode == 0, r.stderr[-2000:]
            outs[fmt] = out
        return outs

    @pytest.mark.slow
    def test_append_matches_plain_format(self, tmp_path, spark):
        from osm2pgsql_spark.streaming.merge_sink import ParquetMergeTable

        outs = self._both(tmp_path)
        for table in ("points", "lines", "polygons"):
            plain = spark.read.parquet(
                str(outs["plain"] / "tables" / table))
            merged = ParquetMergeTable(
                str(outs["merge"] / "tables" / table), id_col="osm_id"
            ).read(spark)
            key = [c for c in plain.columns if c != "geom"]
            a = sorted(tuple(r) for r in plain.select(*key).collect())
            b = sorted(tuple(r) for r in merged.select(*key).collect())
            assert a == b, table
            # geometries byte-equal too, keyed by osm_id
            ga = {r["osm_id"]: bytes(r["geom"]) for r in plain.collect()
                  if r["geom"] is not None}
            gb = {r["osm_id"]: bytes(r["geom"]) for r in merged.collect()
                  if r["geom"] is not None}
            assert ga == gb, table

    @pytest.mark.slow
    def test_append_rewrites_only_touched_buckets(self, tmp_path, spark):
        outs = self._both(tmp_path)
        r = _run([str(tmp_path / "change.osc"), str(outs["merge"]),
                  "--append"])
        assert r.returncode == 0, r.stderr[-2000:]
        # the tool reports per-table bucket counts; with a 2-object
        # diff they must be far below the 16-bucket table width
        import re

        merged = {
            m.group(1): int(m.group(2))
            for m in re.finditer(r"table (\w+): merged (\d+) bucket", r.stdout)
        }
        assert merged, r.stdout
        assert all(n <= 4 for n in merged.values()), merged


def test_pgsql_output_merge_tables_format(tmp_path, spark):
    """-O pgsql with --tables-format merge: the bucketed snapshot
    append equals a fresh plain import of the merged data for all
    four planet tables (same twin as the incremental test, different
    storage/refresh path)."""
    from osm2pgsql_spark.streaming.merge_sink import ParquetMergeTable

    style_args = ["-O", "pgsql", "-S", DEFAULT_STYLE]
    src = tmp_path / "in.opl"
    src.write_text(PGSQL_OPL)
    out = tmp_path / "db"
    r = _run([str(src), str(out), *style_args, "--tables-format", "merge"])
    assert r.returncode == 0, r.stderr[-2000:]
    osc = tmp_path / "diff.osc"
    osc.write_text(PGSQL_OSC)
    r = _run([str(osc), str(out), "--append", *style_args])
    assert r.returncode == 0, r.stderr[-2000:]
    assert "merged" in r.stdout  # the pruned path actually ran

    merged = tmp_path / "merged.opl"
    merged.write_text(
        "n1 Tamenity=pub,name=A x9.0 y50.0\n"
        "n2 x9.0012 y50.0002\n"
        "n3 x9.001 y50.001\n"
        "n4 x9.0 y50.001\n"
        "n20 Tamenity=cafe x9.3 y50.3\n"
        "w100 Thighway=residential,name=Main Nn1,n2\n"
        "w101 Tnatural=water Nn1,n2,n3,n4,n1\n"
    )
    twin_out = tmp_path / "twin"
    r = _run([str(merged), str(twin_out), *style_args])
    assert r.returncode == 0, r.stderr[-2000:]

    for t in ("planet_osm_point", "planet_osm_line", "planet_osm_polygon",
              "planet_osm_roads"):
        a = ParquetMergeTable(
            str(out / "tables" / t), id_col="osm_id").read(spark)
        b = spark.read.parquet(str(twin_out / "tables" / t))
        assert sorted(a.columns) == sorted(b.columns), t
        a = a.select(*sorted(a.columns))
        b = b.select(*sorted(a.columns))
        assert a.exceptAll(b).count() == 0, t
        assert b.exceptAll(a).count() == 0, t


class TestProjectionFlags:
    """-E/--proj, -m/--merc, -l mutual exclusion and arbitrary-EPSG
    output (command-line-parser.cpp:182-186, 397-440)."""

    def test_only_one_projection_flag(self, tmp_path):
        src = tmp_path / "in.opl"
        src.write_text(OPL)
        r = _run([str(src), str(tmp_path / "db"), "-O", "pgsql",
                  "-S", DEFAULT_STYLE, "-l", "-E", "25833"])
        assert r.returncode != 0
        assert ("You can only use one of --latlong, -l, --merc, -m, "
                "--proj, and -E") in r.stderr

    def test_proj_epsg_25833_matches_direct_transform(self, tmp_path, spark):
        """pgsql output at EPSG:25833 (ETRS89 / UTM 33N): point
        coordinates equal the registry forward transform applied
        directly — the -E path really projects, not a silently-kept
        latlong."""
        src = tmp_path / "in.opl"
        src.write_text(OPL)
        out = tmp_path / "db"
        r = _run([str(src), str(out), "-O", "pgsql", "-S", DEFAULT_STYLE,
                  "-E", "25833"])
        assert r.returncode == 0, r.stderr[-2000:]
        import numpy as np

        from osm2pgsql_spark.functions import projection as PJ

        pts = {row["osm_id"]: (row["lon"], row["lat"]) for row in
               spark.read.parquet(
                   str(out / "tables" / "planet_osm_point")).collect()}
        p = PJ.epsg_params(25833)
        for osm_id, (lon, lat) in {1: (9.0, 50.0), 10: (9.2, 50.2)}.items():
            x, y = PJ.forward_xy(np.array([lon]), np.array([lat]), p)
            assert pts[osm_id] == (float(x[0]), float(y[0])), osm_id

    def test_proj_round10_registry_tail_e2e(self, tmp_path, spark):
        """-E 31370 (Belgian Lambert 72, LCC 2SP) and -E 2056 (Swiss
        LV95, Hotine Oblique Mercator B) — the r9 VERDICT's named
        registry-gap codes — import end-to-end and match the direct
        registry transform."""
        import numpy as np

        from osm2pgsql_spark.functions import projection as PJ

        src = tmp_path / "in.opl"
        src.write_text(OPL)
        for code in (31370, 2056):
            out = tmp_path / f"db{code}"
            r = _run([str(src), str(out), "-O", "pgsql",
                      "-S", DEFAULT_STYLE, "-E", str(code)])
            assert r.returncode == 0, r.stderr[-2000:]
            pts = {row["osm_id"]: (row["lon"], row["lat"]) for row in
                   spark.read.parquet(
                       str(out / "tables" / "planet_osm_point")).collect()}
            p = PJ.epsg_params(code)
            for osm_id, (lon, lat) in {1: (9.0, 50.0),
                                       10: (9.2, 50.2)}.items():
                x, y = PJ.forward_xy(np.array([lon]), np.array([lat]), p)
                assert pts[osm_id] == (float(x[0]), float(y[0])), \
                    (code, osm_id)

    def test_proj_krovak_5514_e2e(self, tmp_path, spark):
        """-E 5514 (S-JTSK / Krovak East North — every Czech/Slovak
        import, EPSG method 9819) imports end-to-end and matches the
        direct registry transform; the coordinates land in the
        negative-easting/northing belt the CRS defines."""
        import numpy as np

        from osm2pgsql_spark.functions import projection as PJ

        src = tmp_path / "in.opl"
        src.write_text(OPL)
        out = tmp_path / "db5514"
        r = _run([str(src), str(out), "-O", "pgsql",
                  "-S", DEFAULT_STYLE, "-E", "5514"])
        assert r.returncode == 0, r.stderr[-2000:]
        pts = {row["osm_id"]: (row["lon"], row["lat"]) for row in
               spark.read.parquet(
                   str(out / "tables" / "planet_osm_point")).collect()}
        p = PJ.epsg_params(5514)
        for osm_id, (lon, lat) in {1: (9.0, 50.0), 10: (9.2, 50.2)}.items():
            x, y = PJ.forward_xy(np.array([lon]), np.array([lat]), p)
            assert pts[osm_id] == (float(x[0]), float(y[0])), osm_id
            assert pts[osm_id][0] < 0 and pts[osm_id][1] < 0

    def test_merc_flag_equals_default(self, tmp_path, spark):
        src = tmp_path / "in.opl"
        src.write_text(OPL)
        a, b = tmp_path / "a", tmp_path / "b"
        style = ["-O", "pgsql", "-S", DEFAULT_STYLE]
        assert _run([str(src), str(a), *style]).returncode == 0
        assert _run([str(src), str(b), *style, "-m"]).returncode == 0
        pa = spark.read.parquet(str(a / "tables" / "planet_osm_point"))
        pb = spark.read.parquet(str(b / "tables" / "planet_osm_point"))
        assert pa.exceptAll(pb).count() == 0
        assert pb.exceptAll(pa).count() == 0

    def test_expire_requires_mercator(self, tmp_path):
        src = tmp_path / "in.opl"
        src.write_text(OPL)
        r = _run([str(src), str(tmp_path / "db"), "-O", "pgsql",
                  "-S", DEFAULT_STYLE, "-l", "--expire-tiles", "12"])
        assert r.returncode != 0
        assert ("Expire has been enabled (with -e or --expire-tiles) "
                "but target SRS is not Mercator (EPSG:3857)") in r.stderr


# a ~0.5 x 0.5 degree water polygon (~55 km x 35 km at lat 50): its
# 3857 bbox exceeds the 20000 m default --expire-bbox-size, so hybrid
# mode expires the boundary only; node 8 is nudged in the diff
BIG_POLY_OPL = """n5 x9.0 y50.0
n6 x9.5 y50.0
n7 x9.5 y50.5
n8 x9.0 y50.5
w200 Tnatural=water Nn5,n6,n7,n8,n5
"""

BIG_POLY_OSC = """<?xml version='1.0'?>
<osmChange version="0.6">
  <modify><node id="8" lat="50.501" lon="9.0"/></modify>
</osmChange>
"""


class TestExpireBboxSize:
    """--expire-bbox-size: hybrid full-area/boundary-only switch
    (expire-config.hpp:16-45, expire-tiles.cpp:116-135; default 20000,
    options.hpp:99)."""

    @pytest.fixture(scope="class")
    def tiles(self, tmp_path_factory):
        """The diff's dirty tiles under the default, 0 and 100000
        --expire-bbox-size: one create, then one append per setting on
        a copy of the created database."""
        import shutil

        d = tmp_path_factory.mktemp("bbox")
        src = d / "in.opl"
        src.write_text(BIG_POLY_OPL)
        base = d / "db"
        r = _run([str(src), str(base)])
        assert r.returncode == 0, r.stderr[-2000:]
        osc = d / "diff.osc"
        osc.write_text(BIG_POLY_OSC)
        out = {}
        for size in ("default", "0", "100000"):
            db = d / f"db-{size}"
            shutil.copytree(base, db)
            expire = d / f"dirty-{size}.list"
            extra = [] if size == "default" else ["--expire-bbox-size", size]
            r = _run([str(osc), str(db), "--append", "--expire-tiles", "12",
                      "--expire-output", str(expire), *extra])
            assert r.returncode == 0, r.stderr[-2000:]
            out[size] = {t for t in expire.read_text().strip().splitlines() if t}
        return out

    def test_hybrid_default_expires_boundary_only(self, tiles):
        hybrid = tiles["default"]
        full = tiles["0"]
        # boundary tiles are a strict subset of the filled block: the
        # polygon spans ~6 x ~5 z12 tiles, so the interior is non-empty
        assert hybrid < full
        assert len(full) - len(hybrid) >= 4

    def test_threshold_above_bbox_keeps_full_area(self, tiles):
        # limit larger than the polygon bbox -> full-area fill again
        full = tiles["0"]
        big = tiles["100000"]
        assert big == full


class TestHstoreIndexAndMiddleNodes:
    def test_hstore_add_index_writes_ddl(self, tmp_path, spark):
        src = tmp_path / "in.opl"
        src.write_text(OPL)
        out = tmp_path / "db"
        r = _run([str(src), str(out), "-O", "pgsql", "-S", DEFAULT_STYLE,
                  "-k", "-z", "name:", "--hstore-add-index"])
        assert r.returncode == 0, r.stderr[-2000:]
        ddl = (out / "indexes.sql").read_text()
        assert "CREATE INDEX ON planet_osm_point USING GIN (tags);" in ddl
        # prefix column name under the ':'->'_' parquet convention
        assert ('CREATE INDEX ON planet_osm_line USING GIN ("name_");'
                in ddl)
        # and the column really exists in the written table, distinct
        # from the style's plain "name" data column
        cols = spark.read.parquet(
            str(out / "tables" / "planet_osm_point")).columns
        assert "name_" in cols and "name" in cols

    @pytest.mark.slow
    def test_hstore_add_index_ignored_without_hstore(self, tmp_path):
        src = tmp_path / "in.opl"
        src.write_text(OPL)
        out = tmp_path / "db"
        r = _run([str(src), str(out), "-O", "pgsql", "-S", DEFAULT_STYLE,
                  "--hstore-add-index"])
        assert r.returncode == 0, r.stderr[-2000:]
        assert ("--hstore-add-index only makes sense with hstore "
                "enabled; ignored.") in r.stderr
        assert not (out / "indexes.sql").exists()

    @pytest.mark.slow
    def test_hstore_match_only_ignored_without_hstore(self, tmp_path):
        src = tmp_path / "in.opl"
        src.write_text(OPL)
        r = _run([str(src), str(tmp_path / "db"), "-O", "pgsql",
                  "-S", DEFAULT_STYLE, "--hstore-match-only"])
        assert r.returncode == 0, r.stderr[-2000:]
        assert ("--hstore-match-only only makes sense with --hstore, "
                "--hstore-all, or --hstore-column; ignored.") in r.stderr

    @pytest.mark.slow
    def test_middle_with_nodes_accepted(self, tmp_path, spark):
        src = tmp_path / "in.opl"
        src.write_text(OPL)
        out = tmp_path / "db"
        r = _run([str(src), str(out), "--middle-with-nodes"])
        assert r.returncode == 0, r.stderr[-2000:]
        # the parquet middle always stores tagged nodes (the flag's
        # guarantee): n1's tags are present in middle/nodes
        rows = {row["id"]: row for row in spark.read.parquet(
            str(out / "middle" / "nodes")).collect()}
        assert dict(rows[1]["tags"]).get("amenity") == "pub"


@pytest.mark.slow
def test_expire_zoom_clamped_to_31(tmp_path):
    src = tmp_path / "in.opl"
    src.write_text(OPL)
    out = tmp_path / "db"
    r = _run([str(src), str(out)])
    assert r.returncode == 0, r.stderr[-2000:]
    osc = tmp_path / "diff.osc"
    osc.write_text(OSC)
    r = _run([str(osc), str(out), "--append", "--expire-tiles", "40",
              "--expire-output", str(tmp_path / "d.list")])
    assert r.returncode == 0, r.stderr[-2000:]
    assert ("Maximum zoom level for tile expiry is too large and has "
            "been set to 31.") in r.stderr
    txt = (tmp_path / "d.list").read_text().strip().splitlines()
    assert txt and all(t.startswith("31/") for t in txt)
