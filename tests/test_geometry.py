"""Geometry kernel unit tests.

Mirrors the reference's Catch2 vectors: tests/test-geom-points.cpp,
-linestrings.cpp, -polygons.cpp, -transform.cpp (conceptually; values
recomputed independently here)."""

import math

import numpy as np
import pytest

from osm2pgsql_spark.functions import geometry as G


def test_wkb_roundtrip_point():
    g = G.make_point(1.5, -2.25)
    assert G.from_wkb(G.to_wkb(g)) == g


def test_wkb_roundtrip_linestring():
    g = G.make_linestring([(0, 0), (1, 1), (2, 0)])
    back = G.from_wkb(G.to_wkb(g))
    assert back[0] == "linestring"
    np.testing.assert_array_equal(back[1], g[1])


def test_wkb_roundtrip_polygon_with_hole():
    outer = [(0, 0), (4, 0), (4, 4), (0, 4), (0, 0)]
    inner = [(1, 1), (2, 1), (2, 2), (1, 2), (1, 1)]
    g = ("polygon", [np.asarray(outer, dtype="f8"), np.asarray(inner, dtype="f8")])
    back = G.from_wkb(G.to_wkb(g))
    assert back[0] == "polygon" and len(back[1]) == 2
    assert G.area(back) == pytest.approx(16 - 1)


def test_wkb_roundtrip_multipolygon():
    sq = lambda dx: np.asarray([(dx, 0), (dx + 1, 0), (dx + 1, 1), (dx, 1), (dx, 0)], dtype="f8")
    g = ("multipolygon", [[sq(0)], [sq(5)]])
    back = G.from_wkb(G.to_wkb(g))
    assert G.area(back) == pytest.approx(2.0)


def test_linestring_dedups_consecutive_points():
    # reference invariant: src/geom.hpp:147-149
    g = G.make_linestring([(0, 0), (0, 0), (1, 0), (1, 0), (2, 0)])
    assert g[1].shape[0] == 3
    assert G.length(g) == pytest.approx(2.0)


def test_linestring_single_point_is_null():
    assert G.make_linestring([(0, 0)]) is None
    assert G.make_linestring([(0, 0), (0, 0)]) is None


def test_polygon_requires_closed_ring():
    assert G.make_polygon_from_way([(0, 0), (1, 0), (1, 1)]) is None
    g = G.make_polygon_from_way([(0, 0), (1, 0), (1, 1), (0, 1), (0, 0)])
    assert g is not None
    assert G.area(g) == pytest.approx(1.0)


def test_centroid_square():
    g = G.make_polygon_from_way([(0, 0), (2, 0), (2, 2), (0, 2), (0, 0)])
    c = G.centroid(g)
    assert c[1][0] == pytest.approx(1.0) and c[1][1] == pytest.approx(1.0)


def test_centroid_linestring_weighted():
    g = G.make_linestring([(0, 0), (2, 0), (2, 1)])
    c = G.centroid(g)
    # segments: len 2 mid (1,0); len 1 mid (2,0.5) -> ((2+2)/3, .5/3)
    assert c[1][0] == pytest.approx(4 / 3)
    assert c[1][1] == pytest.approx(1 / 6)


def test_simplify_removes_collinear():
    g = G.make_linestring([(0, 0), (1, 0.001), (2, 0), (3, 2), (4, 0)])
    s = G.simplify(g, 0.01)
    assert s[1].shape[0] == 4  # middle of first straight stretch removed
    s2 = G.simplify(g, 10.0)
    assert s2[1].shape[0] == 2


def test_simplify_non_linestring_is_null():
    g = G.make_polygon_from_way([(0, 0), (1, 0), (1, 1), (0, 1), (0, 0)])
    assert G.simplify(g, 0.1) is None  # reference: src/geom-functions.cpp:873-888


def test_segmentize():
    """Reference vectors (tests/test-geom-linestrings.cpp:167-235):
    output pieces are SEPARATE sub-linestrings each <= split length."""
    # no split needed -> one piece, unchanged
    g = G.make_linestring([(0, 0), (1, 2), (2, 2)])
    s = G.segmentize(g, 10.0)
    assert s[0] == "multilinestring" and len(s[1]) == 1
    np.testing.assert_array_equal(s[1][0], g[1])

    # split 0.5 over a unit segment -> two pieces
    s = G.segmentize(G.make_linestring([(0, 0), (1, 0)]), 0.5)
    assert len(s[1]) == 2
    np.testing.assert_allclose(s[1][0], [(0, 0), (0.5, 0)])
    np.testing.assert_allclose(s[1][1], [(0.5, 0), (1, 0)])

    # split 0.4 -> three pieces, remainder short
    s = G.segmentize(G.make_linestring([(0, 0), (1, 0)]), 0.4)
    assert len(s[1]) == 3
    np.testing.assert_allclose(s[1][0], [(0, 0), (0.4, 0)])
    np.testing.assert_allclose(s[1][1], [(0.4, 0), (0.8, 0)])
    np.testing.assert_allclose(s[1][2], [(0.8, 0), (1, 0)])

    # split 1.0 with vertices mid-piece -> exact unit pieces
    s = G.segmentize(G.make_linestring([(0, 0), (2, 0), (3, 0), (4, 0)]), 1.0)
    assert len(s[1]) == 4
    for i, part in enumerate(s[1]):
        np.testing.assert_allclose(part[0], (i, 0))
        np.testing.assert_allclose(part[-1], (i + 1, 0))
        assert G.length(("linestring", part)) == pytest.approx(1.0)


def test_reverse():
    g = G.make_linestring([(0, 0), (1, 0), (1, 1)])
    r = G.reverse(g)
    np.testing.assert_array_equal(r[1], g[1][::-1])


def test_transform_3857_roundtrip():
    g = G.make_point(13.4, 52.5)  # Berlin-ish
    m = G.transform_4326_to_3857(g)
    assert m[1][0] == pytest.approx(13.4 * math.pi / 180 * G.EARTH_RADIUS)
    back = G.transform_3857_to_4326(m)
    assert back[1][0] == pytest.approx(13.4)
    assert back[1][1] == pytest.approx(52.5)


def test_spherical_length_equator_degree():
    g = G.make_linestring([(0, 0), (1, 0)])
    # one degree of longitude at the equator on the sphere
    assert G.spherical_length(g) == pytest.approx(G.EARTH_RADIUS * math.pi / 180, rel=1e-9)


def test_spherical_area_small_square():
    # 0.1 x 0.1 degree square at the equator on the WGS84 ellipsoid:
    # ~ M(0)*N(0)*(pi/180*0.1)^2 = a^2(1-e^2)(pi/180*0.1)^2
    d = 0.1
    g = G.make_polygon_from_way([(0, 0), (d, 0), (d, d), (0, d), (0, 0)])
    expect = G.WGS84_A**2 * (1 - G.WGS84_E2) * (math.pi / 180 * d) ** 2
    assert G.spherical_area(g) == pytest.approx(expect, rel=1e-4)


def test_ellipsoidal_area_reference_vectors():
    """Catch2 vectors from the reference (tests/test-geom-polygons.cpp
    :29,:47,:72 and tests/test-geom-multipolygons.cpp:33,:65) — the
    boost geographic/Vincenty areas, matched to <=1e-6 relative.
    Edges are ellipsoidal geodesics (NOT parallel arcs)."""
    sq = G.make_polygon_from_way([(0, 0), (0, 1), (1, 1), (1, 0), (0, 0)])
    assert G.spherical_area(sq) == pytest.approx(12308778361.469454, rel=1e-6)
    # reversed ring orientation: same area
    sq_r = G.make_polygon_from_way([(0, 0), (1, 0), (1, 1), (0, 1), (0, 0)])
    assert G.spherical_area(sq_r) == pytest.approx(12308778361.469454, rel=1e-6)
    import numpy as np

    holed = (
        "polygon",
        [
            np.asarray([(0, 0), (0, 3), (3, 3), (3, 0), (0, 0)], dtype="f8"),
            np.asarray([(1, 1), (2, 1), (2, 2), (1, 2), (1, 1)], dtype="f8"),
        ],
    )
    assert G.spherical_area(holed) == pytest.approx(98452667625.52686, rel=1e-6)
    two = (
        "multipolygon",
        [
            [np.asarray([(0, 0), (0, 1), (1, 1), (1, 0), (0, 0)], dtype="f8")],
            [
                np.asarray([(2, 2), (2, 5), (5, 5), (5, 2), (2, 2)], dtype="f8"),
                np.asarray([(3, 3), (4, 3), (4, 4), (3, 4), (3, 3)], dtype="f8"),
            ],
        ],
    )
    assert G.spherical_area(two) == pytest.approx(110615268622.783, rel=1e-6)


def test_bbox_and_npoints():
    g = G.make_linestring([(0, -1), (2, 5), (-3, 2)])
    assert G.get_bbox(g) == (-3.0, -1.0, 2.0, 5.0)
    assert G.n_points(g) == 3


def test_split_multi_and_geometry_n():
    g = ("multilinestring", [np.asarray([(0, 0), (1, 0)], dtype="f8"),
                             np.asarray([(5, 5), (6, 5)], dtype="f8")])
    parts = G.split_multi(g)
    assert len(parts) == 2 and parts[0][0] == "linestring"
    assert G.geometry_n(g, 2)[1][0][0] == 5
    assert G.geometry_n(g, 3) is None
    assert G.num_geometries(g) == 2


def test_line_merge_two_chains():
    # reference semantics: src/geom-functions.cpp:594-767
    ls = lambda *pts: np.asarray(pts, dtype="f8")
    g = ("multilinestring", [ls((0, 0), (1, 0)), ls((1, 0), (2, 0)), ls((5, 5), (6, 6))])
    m = G.line_merge(g)
    assert m[0] == "multilinestring"
    lens = sorted(p.shape[0] for p in m[1])
    assert len(m[1]) == 2
    assert lens == [2, 3]


def test_line_merge_respects_junctions():
    ls = lambda *pts: np.asarray(pts, dtype="f8")
    # three lines meeting at (0,0): degree-3 junction, no merge through it
    g = ("multilinestring", [ls((0, 0), (1, 0)), ls((0, 0), (0, 1)), ls((0, 0), (-1, 0))])
    m = G.line_merge(g)
    assert len(m[1]) == 3


def test_line_merge_closed_loop():
    ls = lambda *pts: np.asarray(pts, dtype="f8")
    g = ("multilinestring", [ls((0, 0), (1, 0)), ls((1, 0), (1, 1)), ls((1, 1), (0, 0))])
    m = G.line_merge(g)
    assert len(m[1]) == 1
    assert m[1][0].shape[0] == 4


def test_line_merge_reversed_segment():
    ls = lambda *pts: np.asarray(pts, dtype="f8")
    # second segment runs backwards; merge must flip it
    g = ("multilinestring", [ls((0, 0), (1, 0)), ls((2, 0), (1, 0))])
    m = G.line_merge(g)
    assert len(m[1]) == 1
    assert m[1][0].shape[0] == 3


def test_distance():
    a = G.make_point(0, 0)
    b = G.make_point(3, 4)
    assert G.distance(a, b) == pytest.approx(5.0)
    # point to segment interior (closest point not a vertex)
    line = G.make_linestring([(0, 1), (10, 1)])
    assert G.distance(G.make_point(5, 5), line) == pytest.approx(4.0)
    poly = G.make_polygon_from_way([(2, 0), (4, 0), (4, 2), (2, 2), (2, 0)])
    assert G.distance(G.make_point(0, 1), poly) == pytest.approx(2.0)


def test_interpolate():
    line = G.make_linestring([(0, 0), (10, 0), (10, 10)])
    assert G.interpolate(line, 0.0)[1] == (0.0, 0.0)
    assert G.interpolate(line, 0.5)[1] == (10.0, 0.0)
    p = G.interpolate(line, 0.75)
    assert p[1][0] == pytest.approx(10.0) and p[1][1] == pytest.approx(5.0)
    assert G.interpolate(line, 1.0)[1] == (10.0, 10.0)


def test_geodesic_length_reference_vectors():
    """Vincenty geodesic length vectors from the reference
    (tests/test-geom-linestrings.cpp:61,:371,:378,:385)."""
    import numpy as np

    def ls(*pts):
        return ("linestring", np.asarray(pts, dtype="f8"))

    assert G.geodesic_length(ls((1, 1), (2, 2))) == pytest.approx(
        156876.14940188668, rel=1e-7
    )
    assert G.geodesic_length(ls((0, 0), (180, 0))) == pytest.approx(
        20003931.458625447, rel=1e-7
    )
    assert G.geodesic_length(ls((0, -90), (0, 90))) == pytest.approx(
        20003931.458625447, rel=1e-7
    )
    assert G.geodesic_length(
        ls((20, 19.8), (20.1, 19.8), (20.2, 19.9))
    ) == pytest.approx(25718.175297824535, rel=1e-7)


def test_distance_point_inside_polygon_is_zero():
    poly = G.make_polygon_from_way([(0, 0), (4, 0), (4, 4), (0, 4), (0, 0)])
    assert G.distance(poly, G.make_point(2, 2)) == 0.0
    assert G.distance(G.make_point(2, 2), poly) == 0.0
    # outside: boundary distance
    assert G.distance(poly, G.make_point(5, 2)) == pytest.approx(1.0)
    # line with a vertex inside the polygon
    line = G.make_linestring([(2, 2), (10, 2)])
    assert G.distance(poly, line) == 0.0


# ------------------------------------------------- batch WKB kernels

def _flat(pts):
    if pts is None:
        return None
    return [c for p in pts for c in p]


def test_linestring_batch_kernel_matches_scalar_path():
    """The vectorized assembly kernel must stay byte-exact with
    to_wkb(make_linestring(...)) — same dedupe, same <2-points->null,
    no dedupe bleeding across row boundaries."""
    import pandas as pd
    from osm2pgsql_spark.operators.assembly import _linestring_kernel

    rows = [
        [(0.0, 0.0), (1.0, 1.0), (2.0, 0.0)],          # plain
        [(0.0, 0.0), (0.0, 0.0), (1.0, 1.0)],          # consecutive dup
        [(3.0, 3.0)],                                   # <2 points -> null
        [(2.0, 2.0), (2.0, 2.0)],                       # dups collapse -> null
        None,                                           # null row
        [],                                             # empty row
        [(5.0, 5.0), (5.0, 6.0)],                       # row after null/empty
        [(5.0, 6.0), (7.0, 8.0)],                       # equal boundary points
        [(float("nan"), 1.0), (float("nan"), 1.0)],     # NaN never dedupes
    ]
    got = _linestring_kernel(pd.Series([_flat(r) for r in rows], dtype=object))
    want = [
        G.to_wkb(G.make_linestring(r)) if r is not None and len(r) else None
        for r in rows
    ]
    assert list(got) == want


def test_polygon_batch_kernel_matches_scalar_path():
    import pandas as pd
    from osm2pgsql_spark.operators.assembly import _polygon_kernel

    sq = [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0), (0.0, 0.0)]
    bow = [(0.0, 0.0), (2.0, 2.0), (2.0, 0.0), (0.0, 2.0), (0.0, 0.0)]
    rows = [sq, bow, sq[:-1], None, []]
    got = _polygon_kernel(pd.Series([_flat(r) for r in rows], dtype=object))
    want = [
        G.to_wkb(G.make_polygon_from_way(r)) if r is not None and len(r) else None
        for r in rows
    ]
    assert list(got) == want


def test_polygon_batch_kernel_adversarial_equivalence():
    """The vectorized polygon kernel's quad self-intersection test and
    closed/>=4-point checks must match make_polygon_from_way exactly,
    including collinear-overlap rejections, vertex-touching
    acceptances, larger rings (scalar sweep fallback) and NaN
    coordinates."""
    import pandas as pd
    from osm2pgsql_spark.operators.assembly import _polygon_kernel

    rows = [
        # valid squares / rectangles
        [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0), (0.0, 0.0)],
        [(1.0, 1.0), (9.0, 1.0), (9.0, 2.0), (1.0, 2.0), (1.0, 1.0)],
        # bowtie / figure-eight: proper crossing -> null
        [(0.0, 0.0), (2.0, 2.0), (2.0, 0.0), (0.0, 2.0), (0.0, 0.0)],
        [(0.0, 0.0), (4.0, 4.0), (4.0, 0.0), (0.0, 4.0), (0.0, 0.0)],
        # collinear overlap (spike ring) -> null
        [(0.0, 0.0), (4.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 0.0)],
        # degenerate zero-area ring (full collinear overlap) -> null
        [(0.0, 0.0), (4.0, 0.0), (2.0, 0.0), (3.0, 0.0), (0.0, 0.0)],
        # not closed -> null
        [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0), (0.0, 1.0)],
        # < 4 points after dedup -> null
        [(0.0, 0.0), (4.0, 0.0), (4.0, 0.0), (0.0, 0.0), (0.0, 0.0)],
        # triangle (4 pts closed, m=3: no self-int test possible)
        [(0.0, 0.0), (4.0, 0.0), (2.0, 3.0), (0.0, 0.0)],
        # consecutive dup collapses to a valid square
        [(0.0, 0.0), (4.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0), (0.0, 0.0)],
        # hexagon (scalar fallback path) valid + self-intersecting
        [(0.0, 0.0), (2.0, -1.0), (4.0, 0.0), (4.0, 3.0), (2.0, 4.0),
         (0.0, 3.0), (0.0, 0.0)],
        [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (2.0, -1.0), (0.0, 4.0),
         (2.0, 2.0), (0.0, 0.0)],
        # NaN coordinate
        [(0.0, 0.0), (float("nan"), 0.0), (4.0, 4.0), (0.0, 4.0), (0.0, 0.0)],
        None,
        [],
    ]
    got = _polygon_kernel(pd.Series([_flat(r) for r in rows], dtype=object))
    want = [
        G.to_wkb(G.make_polygon_from_way(r)) if r is not None and len(r) else None
        for r in rows
    ]
    assert list(got) == want
    # randomized quads: batch verdict must equal the scalar verdict
    rng = np.random.RandomState(12)
    quads = []
    for _ in range(300):
        p = [tuple(q) for q in rng.randint(-3, 4, (4, 2)).astype(float)]
        quads.append(p + [p[0]])
    got = _polygon_kernel(pd.Series([_flat(r) for r in quads], dtype=object))
    want = [G.to_wkb(G.make_polygon_from_way(r)) for r in quads]
    assert list(got) == want


def test_pts_3857_kernels_match_scalar_path():
    """The merc-fused line/polygon kernels must equal
    make_* -> transform_4326_to_3857 -> to_wkb byte-exactly."""
    import pandas as pd
    from osm2pgsql_spark.operators.geom_udfs import KERNELS

    _pts_line_3857 = KERNELS["pts_linestring_wkb_3857"].fn
    _pts_poly_3857 = KERNELS["pts_polygon_wkb_3857"].fn

    sq = [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0), (0.0, 0.0)]
    bow = [(0.0, 0.0), (2.0, 2.0), (2.0, 0.0), (0.0, 2.0), (0.0, 0.0)]
    lines = [[(0.0, 0.0), (3.0, 4.0)], [(1.0, 1.0)], sq, None, []]
    got = _pts_line_3857(pd.Series([_flat(r) for r in lines], dtype=object))
    want = []
    for r in lines:
        if r is None or not len(r):
            want.append(None)
            continue
        g = G.make_linestring(r)
        if g is not None:
            g = G.transform_4326_to_3857(g)
        want.append(G.to_wkb(g))
    assert list(got) == want

    polys = [sq, bow, sq[:-1], None, []]
    got = _pts_poly_3857(pd.Series([_flat(r) for r in polys], dtype=object))
    want = []
    for r in polys:
        if r is None or not len(r):
            want.append(None)
            continue
        g = G.make_polygon_from_way(r)
        if g is not None:
            g = G.transform_4326_to_3857(g)
        want.append(G.to_wkb(g))
    assert list(got) == want
