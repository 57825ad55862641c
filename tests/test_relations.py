"""Relation assembly tests — FIXTURES.md F3 (multipolygon with hole)
and F4 (route relation -> merged multilinestring), mirroring the
reference BDD features (area.feature, route relations)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from osm2pgsql_spark.functions import geometry as G
from osm2pgsql_spark.model import NODE_SCHEMA, RELATION_SCHEMA, WAY_SCHEMA
from osm2pgsql_spark.operators.relations import (
    assemble_multipolygon,
    relation_multilinestrings,
    relation_multipolygons,
)


def test_assemble_simple_square():
    ring = np.asarray([(0, 0), (4, 0), (4, 4), (0, 4), (0, 0)], dtype="f8")
    g = assemble_multipolygon([ring])
    assert g[0] == "multipolygon"
    assert G.area(g) == pytest.approx(16.0)


def test_assemble_outer_with_hole():
    outer = np.asarray([(0, 0), (4, 0), (4, 4), (0, 4), (0, 0)], dtype="f8")
    inner = np.asarray([(1, 1), (2, 1), (2, 2), (1, 2), (1, 1)], dtype="f8")
    g = assemble_multipolygon([outer, inner])
    assert len(g[1]) == 1  # one polygon
    assert len(g[1][0]) == 2  # outer + inner
    assert G.area(g) == pytest.approx(15.0)


def test_assemble_from_open_ways():
    # square split into two open ways (endpoint stitching)
    w1 = np.asarray([(0, 0), (4, 0), (4, 4)], dtype="f8")
    w2 = np.asarray([(4, 4), (0, 4), (0, 0)], dtype="f8")
    g = assemble_multipolygon([w1, w2])
    assert G.area(g) == pytest.approx(16.0)


def test_assemble_reversed_member():
    w1 = np.asarray([(0, 0), (4, 0), (4, 4)], dtype="f8")
    w2 = np.asarray([(0, 0), (0, 4), (4, 4)], dtype="f8")  # runs backwards
    g = assemble_multipolygon([w1, w2])
    assert G.area(g) == pytest.approx(16.0)


def test_assemble_two_disjoint_outers():
    sq = lambda dx: np.asarray(
        [(dx, 0), (dx + 1, 0), (dx + 1, 1), (dx, 1), (dx, 0)], dtype="f8"
    )
    g = assemble_multipolygon([sq(0), sq(5)])
    assert len(g[1]) == 2
    assert G.area(g) == pytest.approx(2.0)


def test_assemble_dangling_dropped():
    ring = np.asarray([(0, 0), (4, 0), (4, 4), (0, 4), (0, 0)], dtype="f8")
    dangling = np.asarray([(10, 10), (11, 11)], dtype="f8")
    g = assemble_multipolygon([ring, dangling])
    assert G.area(g) == pytest.approx(16.0)


@pytest.fixture()
def rel_fixture(spark):
    def n(i, dx, dy):
        return (i, 50.0 + 0.1 * dy, 9.0 + 0.1 * dx, {}, None, None, None, None, None, None)

    # outer square nodes 1-4, inner square nodes 5-8, route nodes 10-13
    nodes = spark.createDataFrame(
        [
            n(1, 0, 0), n(2, 4, 0), n(3, 4, 4), n(4, 0, 4),
            n(5, 1, 1), n(6, 2, 1), n(7, 2, 2), n(8, 1, 2),
            n(10, 0, 0), n(11, 1, 0), n(12, 2, 0), n(13, 5, 5),
        ],
        NODE_SCHEMA,
    )
    w = lambda i, refs: (i, refs, {}, None, None, None, None, None, None)
    ways = spark.createDataFrame(
        [
            w(100, [1, 2, 3]),          # half of outer
            w(101, [3, 4, 1]),          # other half
            w(102, [5, 6, 7, 8, 5]),    # inner ring (closed)
            w(200, [10, 11]),           # route part a
            w(201, [11, 12]),           # route part b (connects to a)
            w(202, [13, 12]),           # route part c (connects, reversed)
        ],
        WAY_SCHEMA,
    )
    r = lambda i, members, tags: (i, members, tags, None, None, None, None, None, None)
    relations = spark.createDataFrame(
        [
            r(1000, [("w", 100, "outer"), ("w", 101, "outer"), ("w", 102, "inner")],
              {"type": "multipolygon", "natural": "water"}),
            r(2000, [("w", 200, ""), ("w", 201, ""), ("w", 202, "")],
              {"type": "route", "route": "bicycle"}),
        ],
        RELATION_SCHEMA,
    )
    return nodes, ways, relations


def test_relation_multipolygon_spark(spark, rel_fixture):
    nodes, ways, relations = rel_fixture
    mp = relation_multipolygons(
        relations.where(F.col("tags")["type"] == "multipolygon"), ways, nodes
    )
    rows = {r["rel_id"]: r for r in mp.collect()}
    g = G.from_wkb(rows[1000]["geom"])
    assert g[0] == "multipolygon"
    # outer 0.4x0.4 deg minus inner 0.1x0.1 deg
    assert G.area(g) == pytest.approx(0.16 - 0.01, rel=1e-6)


def test_relation_multilinestring_spark(spark, rel_fixture):
    nodes, ways, relations = rel_fixture
    ml = relation_multilinestrings(
        relations.where(F.col("tags")["type"] == "route"), ways, nodes
    )
    rows = {r["rel_id"]: r for r in ml.collect()}
    g = G.from_wkb(rows[2000]["geom"])
    assert g[0] == "multilinestring"
    assert len(g[1]) == 1  # all three parts merge into one chain
    assert g[1][0].shape[0] == 4


# ---- multipoint / geometrycollection vectors ported from reference
# tests/test-geom-multipoints.cpp and tests/test-geom-collections.cpp


def test_create_multipoint_vectors():
    import numpy as np
    from osm2pgsql_spark.functions import geometry as G

    # 4 valid nodes -> MULTIPOINT, order preserved, centroid (2, 1)
    g = G.create_multipoint([(1, 0), (1, 1), (3, 2), (3, 1)])
    assert G.geometry_type(g) == "MULTIPOINT"
    assert G.num_geometries(g) == 4
    assert G.n_points(g) == 4
    assert g[1][0] == (1.0, 0.0) and g[1][3] == (3.0, 1.0)
    assert G.area(g) == 0.0 and G.length(g) == 0.0
    assert G.centroid(g) == ("point", (2.0, 1.0))

    # single point (directly, or via missing locations) -> plain POINT
    assert G.create_multipoint([(1, 0)]) == ("point", (1.0, 0.0))
    assert G.create_multipoint([(1, 0), None]) == ("point", (1.0, 0.0))
    # nothing valid -> null geometry
    assert G.create_multipoint([]) is None
    assert G.create_multipoint([None, None]) is None


def test_create_collection_vectors():
    import math
    import numpy as np
    from osm2pgsql_spark.functions import geometry as G

    ring = np.asarray([(1, 1), (2, 1), (2, 2), (1, 2), (1, 1)], dtype="f8")
    seg = np.asarray([(10, 10), (10, 11)], dtype="f8")
    g = G.create_collection(
        [("point", (1.0, 1.0)), ("linestring", ring), ("linestring", seg)]
    )
    assert G.geometry_type(g) == "GEOMETRYCOLLECTION"
    assert G.num_geometries(g) == 3
    assert G.n_points(g) == 8
    assert G.area(g) == 0.0
    assert math.isclose(G.length(g), 5.0)
    # dimension-priority centroid: lines only, length-weighted
    c = G.centroid(g)
    assert math.isclose(c[1][0], 3.2) and math.isclose(c[1][1], 3.3)

    # skipped members don't count; empty -> null
    assert G.create_collection([None, None]) is None
    g1 = G.create_collection([None, ("point", (1.0, 1.0))])
    assert G.num_geometries(g1) == 1
    # WKB round-trip
    back = G.from_wkb(G.to_wkb(g))
    assert G.geometry_type(back) == "GEOMETRYCOLLECTION"
    assert G.n_points(back) == 8

    # mixed point + line collection centroid from the unit tests:
    # point(1,1), line (1,1)-(2,2), point(2,2) -> line centroid
    g2 = G.create_collection(
        [
            ("point", (1.0, 1.0)),
            ("linestring", np.asarray([(1, 1), (2, 2)], dtype="f8")),
            ("point", (2.0, 2.0)),
        ]
    )
    assert G.n_points(g2) == 4
    assert math.isclose(G.length(g2), math.sqrt(2), rel_tol=1e-5)
    c2 = G.centroid(g2)
    assert math.isclose(c2[1][0], 1.5) and math.isclose(c2[1][1], 1.5)


def test_relation_multipoint_and_collection_spark(spark):
    from osm2pgsql_spark.functions import geometry as G
    from osm2pgsql_spark.model import NODE_SCHEMA, RELATION_SCHEMA, WAY_SCHEMA
    from osm2pgsql_spark.operators.relations import (
        relation_collections,
        relation_multipoints,
    )

    def n(i, lat, lon):
        return (i, lat, lon, {}, None, None, None, None, None, None)

    nodes = spark.createDataFrame(
        [n(1, 0.0, 1.0), n(2, 1.0, 1.0), n(3, 2.0, 3.0), n(4, 1.0, 3.0)], NODE_SCHEMA
    )
    ways = spark.createDataFrame(
        [(20, [1, 2], {}, None, None, None, None, None, None)], WAY_SCHEMA
    )
    rels = spark.createDataFrame(
        [
            # 4 node members, one ref missing (999 -> skipped)
            (30, [("n", 1, ""), ("n", 2, ""), ("n", 999, ""), ("n", 3, ""), ("n", 4, "")], {},
             None, None, None, None, None, None),
            # single resolvable node -> POINT
            (31, [("n", 1, ""), ("n", 999, "")], {}, None, None, None, None, None, None),
            # mixed node + way members -> collection
            (32, [("n", 1, ""), ("w", 20, "")], {}, None, None, None, None, None, None),
        ],
        RELATION_SCHEMA,
    )
    got = {r.rel_id: G.from_wkb(bytes(r.geom)) for r in relation_multipoints(rels, nodes).collect()}
    assert G.geometry_type(got[30]) == "MULTIPOINT" and G.n_points(got[30]) == 4
    assert G.geometry_type(got[31]) == "POINT"

    cg = {r.rel_id: G.from_wkb(bytes(r.geom)) for r in relation_collections(rels, ways, nodes).collect()}
    g32 = cg[32]
    assert G.geometry_type(g32) == "GEOMETRYCOLLECTION"
    assert G.num_geometries(g32) == 2
    assert G.n_points(g32) == 3


def test_relation_polygon_parts_split_and_empty(spark, rel_fixture):
    """relation_polygon_parts: split rows carry hole-subtracted areas;
    a relation whose members don't close drops out entirely (the
    osmium area-assembler failure path, incl. the empty grouped-map
    frame)."""
    from osm2pgsql_spark.operators.relations import relation_polygon_parts

    nodes, ways, relations = rel_fixture
    broken = spark.createDataFrame(
        [(3000, [("w", 200, "outer")], {"type": "multipolygon"},
          None, None, None, None, None, None)],
        RELATION_SCHEMA,
    )
    rels = relations.where(F.col("tags")["type"] == "multipolygon").union(broken)
    rows = relation_polygon_parts(rels, ways, nodes).collect()
    assert {r["rel_id"] for r in rows} == {1000}
    assert len(rows) == 1
    assert rows[0]["area"] == pytest.approx(0.16 - 0.01, rel=1e-6)
    g = G.from_wkb(bytes(rows[0]["wkb"]))
    assert g[0] == "polygon" and len(g[1]) == 2  # outer + 1 hole


def test_mega_relation_at_member_cap(spark):
    """Skew pin: ONE relation with exactly 32767 members — the
    reference's hard cap (osmdata.cpp:151) — through both assembly
    kernels.  The cap is the scale contract: per-relation work in the
    groupBy(rel_id) kernel is bounded by 32767 members regardless of
    planet size, and the exploded member join keys on way_id (distinct
    ids — no hot key), so neither side needs special-casing beyond
    AQE.  Asserts correctness of the stitched ring + a generous wall
    bound so an accidental O(n^2) regression in the stitching kernel
    fails loudly."""
    import math
    import time

    from osm2pgsql_spark.model import (
        MAX_RELATION_MEMBERS,
        NODE_SCHEMA,
        RELATION_SCHEMA,
        WAY_SCHEMA,
    )
    from osm2pgsql_spark.operators.relations import (
        relation_multilinestrings,
        relation_multipolygons,
    )

    n = MAX_RELATION_MEMBERS  # 32767 ways -> a closed ring of n nodes
    assert n == 32767
    nodes = spark.createDataFrame(
        [(i, 50.0 + 0.1 * math.sin(2 * math.pi * i / n),
          9.0 + 0.1 * math.cos(2 * math.pi * i / n),
          None, None, None, None, None, None, None)
         for i in range(1, n + 1)],
        NODE_SCHEMA,
    )
    ways = spark.createDataFrame(
        [(1000 + i, [i, i % n + 1], {"highway": "path"},
          None, None, None, None, None, None) for i in range(1, n + 1)],
        WAY_SCHEMA,
    )
    rels = spark.createDataFrame(
        [(77, [("w", 1000 + i, "outer") for i in range(1, n + 1)],
          {"type": "multipolygon"},
          None, None, None, None, None, None)],
        RELATION_SCHEMA,
    )
    t0 = time.time()
    polys = relation_multipolygons(rels, ways, nodes).collect()
    lines = relation_multilinestrings(rels, ways, nodes).collect()
    elapsed = time.time() - t0
    assert len(polys) == 1
    g = G.from_wkb(bytes(polys[0]["geom"]))
    assert g[0] == "multipolygon"
    assert sum(len(p) for p in g[1]) == 1          # one stitched ring
    assert g[1][0][0].shape[0] == n + 1            # all 32767 segments
    assert len(lines) == 1
    # bounded: the cap keeps the single hot group near-linear (the
    # validity check sweeps instead of all-pairs since round 8); a
    # quadratic regression would blow far past this
    assert elapsed < 60, elapsed


def test_polygon_parts_kernel_evaluated_once(spark):
    """r14: the split-polygon kernel runs a full ring assembly per
    relation; the pushed-down parts-IS-NOT-NULL filter (and
    InferFiltersFromGenerate's size guard) used to duplicate the
    ArrowEvalPython below its own output filter — two assembly passes
    for one result.  asNondeterministic pins a single evaluation."""
    from osm2pgsql_spark.operators.relations import relation_polygon_parts

    coords = {1: (0.0, 0.0), 2: (1.0, 0.0), 3: (1.0, 1.0), 4: (0.0, 1.0)}
    nodes = spark.createDataFrame(
        [(i, y, x, None, None, None, None, None, None, None)
         for i, (x, y) in coords.items()],
        NODE_SCHEMA,
    )
    ways = spark.createDataFrame(
        [(10, [1, 2, 3, 4, 1], {"building": "yes"},
          None, None, None, None, None, None)],
        WAY_SCHEMA,
    )
    rels = spark.createDataFrame(
        [(77, [("w", 10, "outer")], {"type": "multipolygon"},
          None, None, None, None, None, None)],
        RELATION_SCHEMA,
    )
    df = relation_polygon_parts(rels, ways, nodes)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # count Python-eval NODES that invoke the parts kernel, not raw
    # substring hits — UDF-name rendering inside a node may change
    # across Spark versions (0 or >1 occurrences per node)
    n_kernel_evals = sum(
        1
        for line in plan.splitlines()
        if "EvalPython" in line and "wkbs(" in line
    )
    assert n_kernel_evals == 1, f"parts kernel evaluated {n_kernel_evals}x:\n{plan}"


def test_multilinestring_ring_start_independent_of_row_order(spark):
    """A closed boundary ring is stitched in member order: it starts
    at the first node of its lowest-member_pos member, whatever order
    the member rows reach the per-relation aggregation in (collect_list
    after a shuffle follows row-arrival order, and line_merge starts a
    closed loop at its first part)."""
    coords = {1: (0.0, 0.0), 2: (2.0, 0.0), 3: (3.0, 1.0),
              4: (2.0, 2.0), 5: (0.0, 2.0), 6: (-1.0, 1.0)}
    node_rows = [(i, y, x, None, None, None, None, None, None, None)
                 for i, (x, y) in coords.items()]
    # way ids run against member order, so an id-ordered join hands
    # the members over last-first
    way_rows = [
        (30, [1, 2, 3], {}, None, None, None, None, None, None),
        (20, [3, 4, 5], {}, None, None, None, None, None, None),
        (10, [5, 6, 1], {}, None, None, None, None, None, None),
    ]
    rels = spark.createDataFrame(
        [(9, [("w", 30, ""), ("w", 20, ""), ("w", 10, "")],
          {"type": "boundary"}, None, None, None, None, None, None)],
        RELATION_SCHEMA,
    )

    def geom(nodes, ways, **kw):
        rows = relation_multilinestrings(rels, ways, nodes, **kw).collect()
        assert len(rows) == 1
        return bytes(rows[0]["geom"])

    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")  # sort-merge joins: rows leave in way-id order
    try:
        a = geom(spark.createDataFrame(node_rows, NODE_SCHEMA),
                 spark.createDataFrame(way_rows, WAY_SCHEMA))
        b = geom(spark.createDataFrame(node_rows[::-1], NODE_SCHEMA).repartition(3),
                 spark.createDataFrame(way_rows[::-1], WAY_SCHEMA).repartition(3),
                 kernel_partitions=3)
    finally:
        spark.conf.set(key, old)
    assert a == b
    kind, parts = G.from_wkb(a)
    assert kind == "multilinestring" and len(parts) == 1
    ring = parts[0]
    assert ring.shape[0] == 7 and tuple(ring[0]) == tuple(ring[-1])
    assert tuple(ring[0]) == coords[1]
    assert tuple(ring[1]) == coords[2]
