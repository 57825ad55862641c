"""Pure-python/numpy geometry kernels over WKB.

This is the engine's equivalent of the reference's geometry layer:

- geometry variant type:   /root/reference/src/geom.hpp:433-437
  (nullgeom | point | linestring | polygon | multipoint |
   multilinestring | multipolygon | collection), SRID attached.
- WKB serialization:       /root/reference/src/wkb.cpp:573-579
- scalar functions:        /root/reference/src/geom-functions.cpp
  (area :351, spherical_area :394, length :439, centroid :812,
   simplify :873-888, segmentize :324-342, line_merge :594-767,
   reverse :514-557, transform :227-237, split_multi :497)
- constructors from OSM:   /root/reference/src/geom-from-osm.cpp

Kernels run inside Arrow-batched pandas UDFs (never row-at-a-time
Python UDFs): WKB bytes in -> WKB bytes / scalars out.  shapely is
not available in this container, so everything is implemented here;
the implementations are deliberately small, vectorized with numpy
where the math allows.

Geometries are represented in python as:
    None                                  null geometry
    ("point", (x, y))
    ("linestring", ndarray[N,2])
    ("polygon", [ring0, ring1, ...])      rings are ndarray[N,2], first=outer
    ("multipoint", [point payloads])
    ("multilinestring", [ndarray[N,2]])
    ("multipolygon", [polygon payloads])
    ("collection", [(kind, payload), ...])
"""

from __future__ import annotations

import math
import struct
from typing import Iterable

import numpy as np

# WKB geometry type codes
_WKB_POINT = 1
_WKB_LINESTRING = 2
_WKB_POLYGON = 3
_WKB_MULTIPOINT = 4
_WKB_MULTILINESTRING = 5
_WKB_MULTIPOLYGON = 6
_WKB_COLLECTION = 7

_KIND_TO_CODE = {
    "point": _WKB_POINT,
    "linestring": _WKB_LINESTRING,
    "polygon": _WKB_POLYGON,
    "multipoint": _WKB_MULTIPOINT,
    "multilinestring": _WKB_MULTILINESTRING,
    "multipolygon": _WKB_MULTIPOLYGON,
    "collection": _WKB_COLLECTION,
}
_CODE_TO_KIND = {v: k for k, v in _KIND_TO_CODE.items()}

EARTH_RADIUS = 6378137.0


# ---------------------------------------------------------------- WKB IO

def _pts_bytes(pts: np.ndarray) -> bytes:
    a = np.asarray(pts, dtype="<f8").reshape(-1, 2)
    return struct.pack("<I", a.shape[0]) + a.tobytes()


def to_wkb(geom) -> bytes | None:
    """Serialize to little-endian ISO WKB (reference geom_to_ewkb,
    src/wkb.cpp:573 — we emit plain WKB; SRID travels out-of-band)."""
    if geom is None:
        return None
    kind, payload = geom
    code = _KIND_TO_CODE[kind]
    head = b"\x01" + struct.pack("<I", code)
    if kind == "point":
        return head + struct.pack("<dd", float(payload[0]), float(payload[1]))
    if kind == "linestring":
        return head + _pts_bytes(payload)
    if kind == "polygon":
        body = struct.pack("<I", len(payload))
        for ring in payload:
            body += _pts_bytes(ring)
        return head + body
    if kind in ("multipoint", "multilinestring", "multipolygon"):
        sub = {"multipoint": "point", "multilinestring": "linestring", "multipolygon": "polygon"}[kind]
        body = struct.pack("<I", len(payload))
        for part in payload:
            body += to_wkb((sub, part))
        return head + body
    if kind == "collection":
        body = struct.pack("<I", len(payload))
        for part in payload:
            body += to_wkb(part)
        return head + body
    raise ValueError(f"unknown geometry kind {kind!r}")


def _read_pts(buf: memoryview, off: int) -> tuple[np.ndarray, int]:
    (n,) = struct.unpack_from("<I", buf, off)
    off += 4
    a = np.frombuffer(buf, dtype="<f8", count=2 * n, offset=off).reshape(n, 2)
    return a.copy(), off + 16 * n


def _parse(buf: memoryview, off: int):
    byte_order = buf[off]
    fmt = "<" if byte_order == 1 else ">"
    (code,) = struct.unpack_from(fmt + "I", buf, off + 1)
    off += 5
    srid = None
    if code & 0x20000000:  # EWKB SRID flag
        (srid,) = struct.unpack_from(fmt + "I", buf, off)
        off += 4
        code &= ~0x20000000
    code &= 0xFF
    kind = _CODE_TO_KIND[code]
    if kind == "point":
        x, y = struct.unpack_from(fmt + "dd", buf, off)
        return ("point", (x, y)), off + 16, srid
    if kind == "linestring":
        pts, off = _read_pts(buf, off)
        return ("linestring", pts), off, srid
    if kind == "polygon":
        (nrings,) = struct.unpack_from(fmt + "I", buf, off)
        off += 4
        rings = []
        for _ in range(nrings):
            ring, off = _read_pts(buf, off)
            rings.append(ring)
        return ("polygon", rings), off, srid
    # multi / collection
    (nparts,) = struct.unpack_from(fmt + "I", buf, off)
    off += 4
    parts = []
    for _ in range(nparts):
        sub, off, _ = _parse(buf, off)
        parts.append(sub if kind == "collection" else sub[1])
    return (kind, parts), off, srid


def from_wkb(wkb: bytes | None):
    if wkb is None or len(wkb) == 0:
        return None
    geom, _, _ = _parse(memoryview(wkb), 0)
    return geom


# ------------------------------------------------------- constructors

def make_point(x: float, y: float):
    return ("point", (float(x), float(y)))


def dedupe_consecutive(a: np.ndarray) -> np.ndarray:
    """Consecutive-duplicate removal (invariant of the reference
    point_list_t, src/geom.hpp:124-150) over an (n,2) float array."""
    if a.shape[0] >= 2:
        keep = np.ones(a.shape[0], dtype=bool)
        keep[1:] = (a[1:] != a[:-1]).any(axis=1)
        a = a[keep]
    return a


def make_linestring_from_array(a: np.ndarray):
    """make_linestring over an already-built (n,2) float array."""
    a = dedupe_consecutive(np.asarray(a, dtype="f8").reshape(-1, 2))
    if a.shape[0] < 2:
        return None
    return ("linestring", a)


def make_linestring(pts: Iterable[tuple[float, float]]):
    """Linestring with consecutive-duplicate removal; null if <2 points
    remain (src/geom-from-osm.cpp:53-67 skip-missing semantics)."""
    return make_linestring_from_array(
        np.asarray(list(pts), dtype="f8").reshape(-1, 2)
    )


def create_multipoint(points: Iterable[tuple[float, float] | None]):
    """Relation node members -> point/multipoint (reference
    create_multipoint, src/geom-from-osm.cpp:136-170): invalid (None)
    locations are skipped; 0 points -> null geometry; exactly 1 point
    collapses to a plain POINT."""
    pts = [(float(p[0]), float(p[1])) for p in points if p is not None]
    if not pts:
        return None
    if len(pts) == 1:
        return ("point", pts[0])
    return ("multipoint", pts)


def create_collection(items: Iterable):
    """Relation members -> geometrycollection (reference
    create_collection, src/geom-from-osm.cpp:253-279): node members as
    points, way members as linestrings; unresolvable members skipped;
    empty -> null geometry.  No single-part collapse (unlike
    multipoint/multilinestring)."""
    parts = [g for g in items if g is not None]
    if not parts:
        return None
    return ("collection", parts)


def _seg_pair_hit(p, q, d, i: int, js: np.ndarray) -> bool:
    """Exact pair test of anchor segment i against candidate segments
    js: proper crossing, or collinear overlap beyond a point.  The ONE
    shared implementation of the pair semantics for both the small-ring
    all-pairs path and the large-ring sweep path."""
    c, e = p[js], d[js]
    # cross(d_i, c-p_i) and cross(d_i, c+e-p_i): sides of segment i
    r1 = np.cross(d[i], c - p[i])
    r2 = np.cross(d[i], c + e - p[i])
    # sides of each candidate segment for segment i's endpoints
    r3 = np.cross(e, p[i] - c)
    r4 = np.cross(e, q[i] - c)
    proper = ((r1 > 0) != (r2 > 0)) & ((r3 > 0) != (r4 > 0))
    if proper.any():
        return True
    # collinear overlap: all four cross products zero and the
    # segments' projections onto segment i overlap beyond a point
    col = (r1 == 0) & (r2 == 0) & (r3 == 0) & (r4 == 0)
    if col.any():
        t0 = ((c - p[i]) @ d[i])[col]
        t1 = ((c + e - p[i]) @ d[i])[col]
        lo = np.minimum(t0, t1)
        hi = np.maximum(t0, t1)
        dd = float(d[i] @ d[i])
        if np.any((hi > 0) & (lo < dd)):
            return True
    return False


_SWEEP_MIN_SEGMENTS = 1024


def ring_self_intersects(a: np.ndarray) -> bool:
    """True when a closed ring (first==last) has a proper
    self-intersection or a collinear segment overlap — the geometries
    the osmium area assembler rejects (bowties, figure-eights;
    tests/bdd/flex/invalid-geometries.feature 'self-intersection').

    Strict crossing test: segments that merely share their common
    ring vertex (adjacent segments) are skipped, so touching at
    vertices alone does not flag.  Small rings (< 1024 segments, the
    overwhelming majority) take a vectorized all-pairs path; larger
    rings — up to the 32767-member reference cap — take an x-interval
    sweep that only pair-tests bbox-overlapping segments, near-linear
    on real ring shapes where the all-pairs path is quadratic (the
    osmium assembler the reference wraps is likewise sweep-based)."""
    p = a[:-1]
    m = p.shape[0]
    if m < 4:
        return False
    q = np.roll(p, -1, axis=0)  # segment i = p[i] -> q[i]
    d = q - p
    if m < _SWEEP_MIN_SEGMENTS:
        for i in range(m - 2):
            j0 = i + 2
            j1 = m if i > 0 else m - 1  # segment m-1 is adjacent to 0
            if j0 >= j1:
                continue
            if _seg_pair_hit(p, q, d, i, np.arange(j0, j1)):
                return True
        return False

    # sweep path: candidates = later-starting segments whose x interval
    # begins before this one ends, then a y-bbox overlap filter; the
    # exact pair test is the same _seg_pair_hit
    lo = np.minimum(p, q)
    hi = np.maximum(p, q)
    order = np.argsort(lo[:, 0], kind="stable")
    sminx = lo[order, 0]
    for ii in range(m):
        i = int(order[ii])
        j_hi = np.searchsorted(sminx, hi[i, 0], side="right")
        if j_hi <= ii + 1:
            continue
        cand = order[ii + 1:j_hi]
        # drop ring-adjacent segments (shared vertex is not a crossing)
        cand = cand[(cand != (i + 1) % m) & (cand != (i - 1) % m)]
        if cand.size == 0:
            continue
        # y-bbox overlap filter
        cand = cand[(lo[cand, 1] <= hi[i, 1]) & (hi[cand, 1] >= lo[i, 1])]
        if cand.size == 0:
            continue
        if _seg_pair_hit(p, q, d, i, cand):
            return True
    return False


def make_polygon_from_array(a: np.ndarray):
    """make_polygon_from_way over an already-built (n,2) float array."""
    ls = make_linestring_from_array(a)
    if ls is None:
        return None
    a = ls[1]
    if a.shape[0] < 4 or not np.array_equal(a[0], a[-1]):
        return None
    if ring_self_intersects(a):
        return None
    return ("polygon", [a])


def make_polygon_from_way(pts: Iterable[tuple[float, float]]):
    """Closed-way polygon (reference src/geom-from-osm.cpp:104-133):
    way must be closed (first==last) and have >=4 points after dedup;
    self-intersecting rings are rejected like the osmium area
    assembler does (invalid-geometries.feature)."""
    return make_polygon_from_array(
        np.asarray(list(pts), dtype="f8").reshape(-1, 2)
    )


# ------------------------------------------------------------ measures

_SPLIT = 134217729.0  # 2**27 + 1, Dekker's split constant


def _shoelace_exact(x: np.ndarray, y: np.ndarray) -> float:
    """Exactly-rounded shoelace sum over a closed relative-coordinate
    ring: every cross term is expanded with Dekker's error-free
    two-product (vectorized), then the products and their exact error
    terms are summed with math.fsum, which is exactly rounded."""
    a = np.concatenate([x[:-1], -x[1:]])
    b = np.concatenate([y[1:], y[:-1]])
    p = a * b
    ah = a * _SPLIT
    ah = ah - (ah - a)
    al = a - ah
    bh = b * _SPLIT
    bh = bh - (bh - b)
    bl = b - bh
    e = ((ah * bh - p) + ah * bl + al * bh) + al * bl
    return math.fsum(np.concatenate([p, e]))


def _ring_area2(ring: np.ndarray) -> float:
    """Twice the signed shoelace area.

    Coordinates are taken relative to the first vertex before the
    shoelace: far-from-origin rings otherwise lose precision to
    catastrophic cancellation.  Intrinsically ill-conditioned rings
    (huge extent, near-zero area: |sum| small vs sum of |terms|) still
    lose ~extent^2/area digits to the float64 products themselves, so
    those fall back to an exactly-rounded two-product + fsum kernel
    (found by the hypothesis translation-invariance property; the
    reference's naive boost::geometry shoelace,
    src/geom-functions.cpp:351-364, is strictly less accurate here).
    Well-conditioned rings keep the plain vectorized dot, whose result
    is bit-identical to the previous implementation."""
    x = ring[:, 0] - ring[0, 0]
    y = ring[:, 1] - ring[0, 1]
    yr = np.roll(y, -1)
    xr = np.roll(x, -1)
    s = float(np.dot(x, yr) - np.dot(xr, y))
    scale = float(np.dot(np.abs(x), np.abs(yr)) + np.dot(np.abs(xr), np.abs(y)))
    if abs(s) >= 1e-7 * scale:
        return s
    return _shoelace_exact(x, y)


def area(geom) -> float:
    """Planar area (reference geom::area, src/geom-functions.cpp:351):
    polygons and multipolygons; 0 for other types.  Outer minus inner
    rings, absolute value per ring orientation handling."""
    if geom is None:
        return 0.0
    kind, payload = geom
    if kind == "polygon":
        total = abs(_ring_area2(payload[0])) / 2.0
        for ring in payload[1:]:
            total -= abs(_ring_area2(ring)) / 2.0
        return total
    if kind == "multipolygon":
        return sum(area(("polygon", p)) for p in payload)
    if kind == "collection":
        return sum(area(g) for g in payload)
    return 0.0


# WGS84 ellipsoid constants (public values)
WGS84_A = 6378137.0
WGS84_F = 1.0 / 298.257223563
WGS84_E2 = WGS84_F * (2.0 - WGS84_F)
_E = math.sqrt(WGS84_E2)


def _authalic_q(sinphi: np.ndarray) -> np.ndarray:
    """Snyder's q(phi): maps geodetic latitude to the equal-area
    (authalic) sphere."""
    es = _E * sinphi
    return (1.0 - WGS84_E2) * (
        sinphi / (1.0 - WGS84_E2 * sinphi * sinphi)
        - (1.0 / (2.0 * _E)) * np.log((1.0 - es) / (1.0 + es))
    )


_QP = float(_authalic_q(np.asarray([1.0]))[0])  # q at the pole
AUTHALIC_RADIUS = WGS84_A * math.sqrt(_QP / 2.0)  # ~6371007.18 m
WGS84_B = WGS84_A * (1.0 - WGS84_F)


class _VincentyNoConvergence(Exception):
    """Near-antipodal input: the lambda iteration does not converge."""


def _vincenty_inverse(lat1, lon1, lat2, lon2):
    """Vincenty (1975) inverse: (distance m, fwd azimuth rad) on
    WGS84, or None for coincident points.  Public-domain algorithm.
    Raises _VincentyNoConvergence near the antipodal singularity."""
    if lat2 == -lat1 and abs(abs(lon2 - lon1) % 360.0 - 180.0) < 1e-12:
        raise _VincentyNoConvergence()  # exact antipode
    L = math.radians(lon2 - lon1)
    U1 = math.atan((1.0 - WGS84_F) * math.tan(math.radians(lat1)))
    U2 = math.atan((1.0 - WGS84_F) * math.tan(math.radians(lat2)))
    sU1, cU1 = math.sin(U1), math.cos(U1)
    sU2, cU2 = math.sin(U2), math.cos(U2)
    lam = L
    ss = cs = sig = sa = ca2 = c2m = 0.0
    converged = False
    for _ in range(100):
        sl, cl = math.sin(lam), math.cos(lam)
        ss = math.hypot(cU2 * sl, cU1 * sU2 - sU1 * cU2 * cl)
        if ss == 0.0:
            return None
        cs = sU1 * sU2 + cU1 * cU2 * cl
        sig = math.atan2(ss, cs)
        sa = cU1 * cU2 * sl / ss
        ca2 = 1.0 - sa * sa
        c2m = cs - 2.0 * sU1 * sU2 / ca2 if ca2 != 0.0 else 0.0
        C = WGS84_F / 16.0 * ca2 * (4.0 + WGS84_F * (4.0 - 3.0 * ca2))
        lam_new = L + (1.0 - C) * WGS84_F * sa * (
            sig + C * ss * (c2m + C * cs * (-1.0 + 2.0 * c2m * c2m))
        )
        converged = abs(lam_new - lam) < 1e-14
        lam = lam_new
        if converged:
            break
    if not converged:
        # Vincenty fails near-antipodal; signal the caller
        raise _VincentyNoConvergence()
    u2 = ca2 * (WGS84_A**2 - WGS84_B**2) / WGS84_B**2
    aa = 1.0 + u2 / 16384.0 * (4096.0 + u2 * (-768.0 + u2 * (320.0 - 175.0 * u2)))
    bb = u2 / 1024.0 * (256.0 + u2 * (-128.0 + u2 * (74.0 - 47.0 * u2)))
    dsig = bb * ss * (
        c2m
        + bb / 4.0 * (
            cs * (-1.0 + 2.0 * c2m * c2m)
            - bb / 6.0 * c2m * (-3.0 + 4.0 * ss * ss) * (-3.0 + 4.0 * c2m * c2m)
        )
    )
    s = WGS84_B * aa * (sig - dsig)
    a1 = math.atan2(cU2 * math.sin(lam), cU1 * sU2 - sU1 * cU2 * math.cos(lam))
    return s, a1


def _vincenty_direct(lat1, lon1, a1, s):
    """Vincenty (1975) direct: point (lat, lon) at azimuth a1 and
    distance s from (lat1, lon1) on WGS84."""
    U1 = math.atan((1.0 - WGS84_F) * math.tan(math.radians(lat1)))
    sU1, cU1 = math.sin(U1), math.cos(U1)
    sa1, ca1 = math.sin(a1), math.cos(a1)
    sig1 = math.atan2(math.tan(U1), ca1)
    sa = cU1 * sa1
    ca2 = 1.0 - sa * sa
    u2 = ca2 * (WGS84_A**2 - WGS84_B**2) / WGS84_B**2
    aa = 1.0 + u2 / 16384.0 * (4096.0 + u2 * (-768.0 + u2 * (320.0 - 175.0 * u2)))
    bb = u2 / 1024.0 * (256.0 + u2 * (-128.0 + u2 * (74.0 - 47.0 * u2)))
    sig = s / (WGS84_B * aa)
    for _ in range(100):
        s2m = 2.0 * sig1 + sig
        dsig = bb * math.sin(sig) * (
            math.cos(s2m)
            + bb / 4.0 * (
                math.cos(sig) * (-1.0 + 2.0 * math.cos(s2m) ** 2)
                - bb / 6.0 * math.cos(s2m)
                * (-3.0 + 4.0 * math.sin(sig) ** 2)
                * (-3.0 + 4.0 * math.cos(s2m) ** 2)
            )
        )
        sig_new = s / (WGS84_B * aa) + dsig
        done = abs(sig_new - sig) < 1e-14
        sig = sig_new
        if done:
            break
    ssig, csig = math.sin(sig), math.cos(sig)
    lat2 = math.atan2(
        sU1 * csig + cU1 * ssig * ca1,
        (1.0 - WGS84_F) * math.hypot(sa, sU1 * ssig - cU1 * csig * ca1),
    )
    lam = math.atan2(ssig * sa1, cU1 * csig - sU1 * ssig * ca1)
    C = WGS84_F / 16.0 * ca2 * (4.0 + WGS84_F * (4.0 - 3.0 * ca2))
    s2m = 2.0 * sig1 + sig
    L = lam - (1.0 - C) * WGS84_F * sa * (
        sig + C * ssig * (math.cos(s2m) + C * csig * (-1.0 + 2.0 * math.cos(s2m) ** 2))
    )
    return math.degrees(lat2), lon1 + math.degrees(L)


# edges longer than this (degrees of lon/lat span) are densified along
# the geodesic before the equal-area mapping
_GEODESIC_DENSIFY_DEG = 0.05
_GEODESIC_STEP_DEG = 0.125


def _densify_geodesic(ring: np.ndarray) -> np.ndarray:
    """Insert intermediate geodesic points (Vincenty direct) on long
    edges so the authalic-sphere great-circle boundary converges to
    the image of the true ellipsoidal geodesic."""
    out: list = []
    n = ring.shape[0]
    for i in range(n - 1):
        x1, y1 = float(ring[i, 0]), float(ring[i, 1])
        x2, y2 = float(ring[i + 1, 0]), float(ring[i + 1, 1])
        out.append((x1, y1))
        span = max(abs(x2 - x1), abs(y2 - y1))
        if span <= _GEODESIC_DENSIFY_DEG:
            continue
        k = min(64, int(math.ceil(span / _GEODESIC_STEP_DEG)))
        if k < 2:
            continue
        try:
            inv = _vincenty_inverse(y1, x1, y2, x2)
        except _VincentyNoConvergence:
            inv = None
        if inv is None:
            continue
        s, a1 = inv
        for j in range(1, k):
            la, lo = _vincenty_direct(y1, x1, a1, s * j / k)
            out.append((lo, la))
    out.append((float(ring[-1, 0]), float(ring[-1, 1])))
    return np.asarray(out, dtype="f8")


def spherical_area(geom, ellipsoid: bool = True) -> float:
    """Geodesic area in m^2 for 4326 polygons (reference
    geom::spherical_area, src/geom-functions.cpp:373-394, Boost's
    geographic area with the Vincenty strategy).

    Implementation: the authalic (Snyder equal-area) projection maps
    the ellipsoid to a sphere EXACTLY area-preserving, so polygon area
    equals the spherical excess of the boundary's image.  Edges are
    densified along the true Vincenty geodesic first, making the
    great-circle boundary converge to the geodesic's image; the excess
    per edge uses the exact Danielsen formula
    tan(E/2) = tan(dLam/2) sin(phi_m) / cos(dPhi/2).  Agrees with the
    reference's Catch2 area vectors to <1e-7 relative
    (tests/test-geom-polygons.cpp, test-geom-multipolygons.cpp).

    ellipsoid=False skips the authalic mapping and densification
    (pure sphere of the same radius, great-circle edges)."""
    if geom is None:
        return 0.0
    kind, payload = geom
    if kind == "multipolygon":
        return sum(spherical_area(("polygon", p), ellipsoid) for p in payload)
    if kind == "collection":
        return sum(spherical_area(g, ellipsoid) for g in payload)
    if kind != "polygon":
        return 0.0

    def ring_solid_angle(ring: np.ndarray) -> float:
        if ellipsoid:
            ring = _densify_geodesic(ring)
        lam = np.radians(ring[:, 0])
        phi = np.radians(ring[:, 1])
        if ellipsoid:
            phi = np.arcsin(
                np.clip(_authalic_q(np.sin(phi)) / _QP, -1.0, 1.0)
            )
        dl = lam[1:] - lam[:-1]
        # a great-circle edge always takes the short way round: wrap
        # |dl| > pi so tan(dl/2) cannot blow up for rings crossing the
        # antimeridian.  Conditional (not a blanket remainder) so
        # in-range deltas stay bit-identical for the SQL oracle twin.
        dl = np.where(np.abs(dl) > np.pi, dl - np.sign(dl) * 2.0 * np.pi, dl)
        mid = (phi[1:] + phi[:-1]) / 2.0
        half = (phi[1:] - phi[:-1]) / 2.0
        excess = 2.0 * np.arctan(np.tan(dl / 2.0) * np.sin(mid) / np.cos(half))
        return abs(float(excess.sum()))

    total = ring_solid_angle(payload[0])
    for ring in payload[1:]:
        total -= ring_solid_angle(ring)
    return total * AUTHALIC_RADIUS * AUTHALIC_RADIUS


def length(geom) -> float:
    """Planar length (reference geom::length, src/geom-functions.cpp:439)."""
    if geom is None:
        return 0.0
    kind, payload = geom
    if kind == "linestring":
        d = np.diff(payload, axis=0)
        return float(np.sum(np.hypot(d[:, 0], d[:, 1])))
    if kind == "multilinestring":
        return sum(length(("linestring", p)) for p in payload)
    if kind == "collection":
        return sum(length(g) for g in payload)
    return 0.0


def geodesic_length(geom) -> float:
    """Ellipsoidal (Vincenty) length in meters for 4326 linestrings —
    the reference's spherical_length strategy exactly
    (src/geom-functions.cpp:381-389, boost vincenty distance).
    Antipodal segments fall back to pi*(a+b)/2, matching boost's
    degenerate behavior (verified against tests/test-geom-linestrings
    long-line vectors)."""
    if geom is None:
        return 0.0
    kind, payload = geom
    if kind == "multilinestring":
        return sum(geodesic_length(("linestring", p)) for p in payload)
    if kind == "collection":
        return sum(geodesic_length(g) for g in payload)
    if kind != "linestring":
        return 0.0
    total = 0.0
    a = payload
    for i in range(a.shape[0] - 1):
        x1, y1 = float(a[i, 0]), float(a[i, 1])
        x2, y2 = float(a[i + 1, 0]), float(a[i + 1, 1])
        if x1 == x2 and y1 == y2:
            continue
        try:
            inv = _vincenty_inverse(y1, x1, y2, x2)
        except _VincentyNoConvergence:
            inv = None
        if inv is None:
            # distinct but (near-)antipodal points: the shortest
            # geodesic runs over the pole — half the meridian length
            # (Bessel n-series; matches boost to sub-micron)
            n = WGS84_F / (2.0 - WGS84_F)
            total += math.pi * WGS84_A / (1.0 + n) * (
                1.0 + n * n / 4.0 + n**4 / 64.0
            )
            continue
        total += inv[0]
    return total


def spherical_length(geom, radius: float = EARTH_RADIUS) -> float:
    """Great-circle (haversine) length in meters for 4326 linestrings
    (reference uses Vincenty; haversine is within 0.5%)."""
    if geom is None:
        return 0.0
    kind, payload = geom
    if kind == "multilinestring":
        return sum(spherical_length(("linestring", p), radius) for p in payload)
    if kind != "linestring":
        return 0.0
    lam = np.radians(payload[:, 0])
    phi = np.radians(payload[:, 1])
    dlam = np.diff(lam)
    dphi = np.diff(phi)
    h = np.sin(dphi / 2) ** 2 + np.cos(phi[:-1]) * np.cos(phi[1:]) * np.sin(dlam / 2) ** 2
    return float(radius * np.sum(2 * np.arcsin(np.sqrt(np.clip(h, 0, 1)))))


def centroid(geom):
    """Geometric centroid (reference geom::centroid,
    src/geom-functions.cpp:812, boost::geometry semantics):
    points: the point; linestrings: length-weighted; polygons:
    area-weighted."""
    if geom is None:
        return None
    kind, payload = geom
    if kind == "point":
        return geom
    if kind == "linestring":
        a = payload
        d = np.diff(a, axis=0)
        w = np.hypot(d[:, 0], d[:, 1])
        if w.sum() == 0:
            return ("point", (float(a[0, 0]), float(a[0, 1])))
        mid = (a[:-1] + a[1:]) / 2.0
        c = (mid * w[:, None]).sum(axis=0) / w.sum()
        return ("point", (float(c[0]), float(c[1])))
    if kind == "polygon":
        cx = cy = aa = 0.0
        for i, ring in enumerate(payload):
            x, y = ring[:, 0], ring[:, 1]
            cross = x[:-1] * y[1:] - x[1:] * y[:-1]
            a2 = cross.sum()
            if a2 == 0:
                continue
            rx = ((x[:-1] + x[1:]) * cross).sum() / (3.0 * a2)
            ry = ((y[:-1] + y[1:]) * cross).sum() / (3.0 * a2)
            sgn_area = abs(a2) / 2.0
            if i > 0:
                sgn_area = -sgn_area
            cx += rx * sgn_area
            cy += ry * sgn_area
            aa += sgn_area
        if aa == 0:
            return ("point", (float(payload[0][0, 0]), float(payload[0][0, 1])))
        return ("point", (cx / aa, cy / aa))
    if kind in ("multipoint", "multilinestring", "multipolygon"):
        sub = {"multipoint": "point", "multilinestring": "linestring", "multipolygon": "polygon"}[kind]
        pts = [centroid((sub, p)) for p in payload]
        # weight by measure of each part
        if kind == "multipolygon":
            ws = [area(("polygon", p)) for p in payload]
        elif kind == "multilinestring":
            ws = [length(("linestring", p)) for p in payload]
        else:
            ws = [1.0] * len(payload)
        tw = sum(ws)
        if tw == 0:
            return pts[0] if pts else None
        cx = sum(p[1][0] * w for p, w in zip(pts, ws)) / tw
        cy = sum(p[1][1] * w for p, w in zip(pts, ws)) / tw
        return ("point", (cx, cy))
    if kind == "collection":
        # dimension-priority like boost::geometry: only the parts of
        # the highest dimension present contribute, weighted by their
        # measure (verified against reference test-geom-collections)
        def _dim(g) -> int:
            k = g[0]
            if k in ("point", "multipoint"):
                return 0
            if k in ("linestring", "multilinestring"):
                return 1
            if k == "collection":
                return max((_dim(p) for p in g[1]), default=0)
            return 2
        d = max(_dim(p) for p in payload)
        use = [p for p in payload if _dim(p) == d]
        if d == 0:
            ws = [float(n_points(p)) for p in use]
        elif d == 1:
            ws = [length(p) for p in use]
        else:
            ws = [area(p) for p in use]
        cs = [centroid(p) for p in use]
        tw = sum(ws)
        if tw == 0:
            return cs[0] if cs else None
        cx = sum(c[1][0] * w for c, w in zip(cs, ws)) / tw
        cy = sum(c[1][1] * w for c, w in zip(cs, ws)) / tw
        return ("point", (cx, cy))
    return None


# ------------------------------------------------------------ transforms

def _dp_mask(pts: np.ndarray, tol: float) -> np.ndarray:
    """Iterative Douglas-Peucker keep-mask."""
    n = pts.shape[0]
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[-1] = True
    stack = [(0, n - 1)]
    tol2 = tol * tol
    while stack:
        i, j = stack.pop()
        if j <= i + 1:
            continue
        seg = pts[j] - pts[i]
        rel = pts[i + 1 : j] - pts[i]
        seg_len2 = float(seg @ seg)
        if seg_len2 == 0.0:
            d2 = (rel * rel).sum(axis=1)
        else:
            t = np.clip((rel @ seg) / seg_len2, 0.0, 1.0)
            proj = np.outer(t, seg)
            diff = rel - proj
            d2 = (diff * diff).sum(axis=1)
        k = int(np.argmax(d2))
        if d2[k] > tol2:
            keep[i + 1 + k] = True
            stack.append((i, i + 1 + k))
            stack.append((i + 1 + k, j))
    return keep


def simplify(geom, tolerance: float):
    """Douglas-Peucker simplification, linestrings only, may produce
    invalid output — exactly the reference's restriction
    (src/geom-functions.cpp:873-888: non-linestrings -> null geometry)."""
    if geom is None:
        return None
    kind, payload = geom
    if kind != "linestring":
        return None
    pts = payload
    if pts.shape[0] <= 2:
        return geom
    out = pts[_dp_mask(pts, tolerance)]
    if out.shape[0] < 2:
        return None
    return ("linestring", out)


def _split_linestring(pts: np.ndarray, split_at: float, parts: list) -> None:
    """Faithful port of the reference split_linestring
    (src/geom-functions.cpp:271-320): walk the line accumulating
    length; whenever adding the next vertex would push the current
    piece over split_at, emit interpolated split points and start new
    pieces, so EVERY output piece is <= split_at long."""
    dist = 0.0
    prev = np.array(pts[0], dtype="f8")
    cur: list = [prev.copy()]
    for idx in range(1, pts.shape[0]):
        this = np.array(pts[idx], dtype="f8")
        delta = math.hypot(this[0] - prev[0], this[1] - prev[1])
        if dist + delta > split_at:
            splits = int(math.floor((dist + delta) / split_at))
            ipoint = prev
            for j in range(splits):
                frac = ((j + 1) * split_at - dist) / delta
                ipoint = frac * (this - prev) + prev
                if frac != 0.0:
                    cur.append(ipoint.copy())
                parts.append(np.asarray(cur))
                cur = [ipoint.copy()]
            if this[0] == ipoint[0] and this[1] == ipoint[1]:
                dist = 0.0
                prev = this
                continue
            dist = math.hypot(this[0] - ipoint[0], this[1] - ipoint[1])
        else:
            dist += delta
        cur.append(this.copy())
        prev = this
    if len(cur) > 1:
        parts.append(np.asarray(cur))


def segmentize(geom, max_segment_length: float):
    """Split linestring/multilinestring into a multilinestring whose
    every piece is <= max_segment_length long (reference segmentize,
    src/geom-functions.cpp:324-342 via split_linestring :271-320);
    other geometry types -> null."""
    if geom is None:
        return None
    kind, payload = geom
    parts: list = []
    if kind == "linestring":
        _split_linestring(payload, max_segment_length, parts)
    elif kind == "multilinestring":
        for line in payload:
            _split_linestring(line, max_segment_length, parts)
    else:
        return None
    return ("multilinestring", parts)


def reverse(geom):
    """Reverse point order of every part (src/geom-functions.cpp:514-557)."""
    if geom is None:
        return None
    kind, payload = geom
    if kind == "point":
        return geom
    if kind in ("linestring",):
        return (kind, payload[::-1].copy())
    if kind == "polygon":
        return (kind, [r[::-1].copy() for r in payload])
    if kind == "multipoint":
        return (kind, list(payload))
    if kind in ("multilinestring",):
        return (kind, [p[::-1].copy() for p in payload])
    if kind == "multipolygon":
        return (kind, [[r[::-1].copy() for r in p] for p in payload])
    if kind == "collection":
        return (kind, [reverse(g) for g in payload])
    return None


def mercator_forward(a: np.ndarray) -> np.ndarray:
    """Web-mercator forward projection of an (N, 2) lon/lat array
    (reference has hand-rolled 4326/3857, src/reprojection.cpp:17-102)."""
    x = np.radians(a[:, 0]) * EARTH_RADIUS
    y = np.log(np.tan(np.pi / 4.0 + np.radians(a[:, 1]) / 2.0)) * EARTH_RADIUS
    return np.column_stack([x, y])


def mercator_inverse(a: np.ndarray) -> np.ndarray:
    """Inverse of mercator_forward: (N, 2) x/y -> lon/lat."""
    lon = np.degrees(a[:, 0] / EARTH_RADIUS)
    lat = np.degrees(2.0 * np.arctan(np.exp(a[:, 1] / EARTH_RADIUS)) - np.pi / 2.0)
    return np.column_stack([lon, lat])


def transform_4326_to_3857(geom):
    """Built-in web-mercator forward projection."""
    return _map_coords(geom, mercator_forward)


def transform_3857_to_4326(geom):
    return _map_coords(geom, mercator_inverse)


def _map_coords(geom, f):
    if geom is None:
        return None
    kind, payload = geom
    if kind == "point":
        out = f(np.asarray([payload], dtype="f8"))
        return ("point", (float(out[0, 0]), float(out[0, 1])))
    if kind == "linestring":
        return (kind, f(payload))
    if kind == "polygon":
        return (kind, [f(r) for r in payload])
    if kind == "multipoint":
        out = f(np.asarray(payload, dtype="f8"))
        return (kind, [tuple(p) for p in out])
    if kind == "multilinestring":
        return (kind, [f(p) for p in payload])
    if kind == "multipolygon":
        return (kind, [[f(r) for r in p] for p in payload])
    if kind == "collection":
        return (kind, [_map_coords(g, f) for g in payload])
    return None


# ----------------------------------------------------------- accessors

def geometry_type(geom) -> str | None:
    """Uppercase type name as the reference's geometry_type
    (src/flex-lua-geom.cpp:146-230 exposes e.g. 'LINESTRING';
    collections are 'GEOMETRYCOLLECTION', tests/test-geom-collections)."""
    if geom is None:
        return "NULL"
    if geom[0] == "collection":
        return "GEOMETRYCOLLECTION"
    return geom[0].upper()


def num_geometries(geom) -> int:
    if geom is None:
        return 0
    kind, payload = geom
    if kind in ("multipoint", "multilinestring", "multipolygon", "collection"):
        return len(payload)
    return 1


def geometry_n(geom, n: int):
    """1-based part extraction (reference src/geom-functions.cpp:40-140)."""
    if geom is None:
        return None
    kind, payload = geom
    if kind in ("multipoint", "multilinestring", "multipolygon", "collection"):
        if not (1 <= n <= len(payload)):
            return None
        if kind == "collection":
            return payload[n - 1]
        sub = {"multipoint": "point", "multilinestring": "linestring", "multipolygon": "polygon"}[kind]
        return (sub, payload[n - 1])
    return geom if n == 1 else None


def split_multi(geom) -> list:
    """Explode a multi-geometry into its parts
    (reference src/geom-functions.cpp:497)."""
    if geom is None:
        return []
    kind, payload = geom
    if kind == "collection":
        return list(payload)
    if kind in ("multipoint", "multilinestring", "multipolygon"):
        sub = {"multipoint": "point", "multilinestring": "linestring", "multipolygon": "polygon"}[kind]
        return [(sub, p) for p in payload]
    return [geom]


def n_points(geom) -> int:
    if geom is None:
        return 0
    kind, payload = geom
    if kind == "point":
        return 1
    if kind == "linestring":
        return int(payload.shape[0])
    if kind == "polygon":
        return int(sum(r.shape[0] for r in payload))
    if kind == "multipoint":
        return len(payload)
    if kind in ("multilinestring",):
        return int(sum(p.shape[0] for p in payload))
    if kind == "multipolygon":
        return int(sum(sum(r.shape[0] for r in p) for p in payload))
    if kind == "collection":
        return sum(n_points(g) for g in payload)
    return 0


def get_bbox(geom) -> tuple[float, float, float, float] | None:
    """(min_x, min_y, max_x, max_y) — reference src/geom-box.cpp,
    Lua get_bbox (src/flex-lua-geom.cpp:290-305)."""
    pts = _all_points(geom)
    if pts is None or pts.shape[0] == 0:
        return None
    return (
        float(pts[:, 0].min()),
        float(pts[:, 1].min()),
        float(pts[:, 0].max()),
        float(pts[:, 1].max()),
    )


def _all_points(geom) -> np.ndarray | None:
    if geom is None:
        return None
    kind, payload = geom
    if kind == "point":
        return np.asarray([payload], dtype="f8")
    if kind == "linestring":
        return payload
    if kind == "polygon":
        return np.vstack(payload) if payload else None
    if kind == "multipoint":
        return np.asarray(payload, dtype="f8")
    if kind == "multilinestring":
        return np.vstack(payload) if payload else None
    if kind == "multipolygon":
        rings = [r for p in payload for r in p]
        return np.vstack(rings) if rings else None
    if kind == "collection":
        parts = [_all_points(g) for g in payload]
        parts = [p for p in parts if p is not None]
        return np.vstack(parts) if parts else None
    return None


def _point_in_polygon_payload(pt, rings) -> bool:
    """Even-odd test over a polygon's rings (outer + holes)."""
    x, y = float(pt[0]), float(pt[1])
    inside = False
    for ring in rings:
        x0, y0 = ring[:-1, 0], ring[:-1, 1]
        x1, y1 = ring[1:, 0], ring[1:, 1]
        cross = (y0 > y) != (y1 > y)
        with np.errstate(divide="ignore", invalid="ignore"):
            xin = x0 + (y - y0) / (y1 - y0) * (x1 - x0)
        if np.count_nonzero(cross & (x < xin)) % 2:
            inside = not inside
    return inside


def _any_point_inside(poly_geom, pts: np.ndarray) -> bool:
    kind, payload = poly_geom
    polys = [payload] if kind == "polygon" else payload
    for p in polys:
        for q in pts:
            if _point_in_polygon_payload(q, p):
                return True
    return False


def distance(a, b) -> float:
    """Minimum planar distance between two geometries (reference
    geom::distance, src/geom-functions.cpp:25) — point/vertex based
    plus point-to-segment for line/polygon boundaries, with a
    containment short-circuit: any vertex of one geometry inside the
    other's polygon interior -> 0.0.  Caveat: two linestrings that
    cross without either's vertex near the other still report the
    (positive) boundary distance."""
    if a is None or b is None:
        return float("inf")

    pa = _all_points(a)
    pb = _all_points(b)
    if pa is None or pb is None:
        return float("inf")
    for poly, pts in ((a, pb), (b, pa)):
        if poly[0] in ("polygon", "multipolygon") and _any_point_inside(poly, pts):
            return 0.0
    # vertex-vertex distances (vectorized)
    d2 = ((pa[:, None, :] - pb[None, :, :]) ** 2).sum(axis=2)
    best = float(np.sqrt(d2.min()))

    def seg_point_min(pts_line: np.ndarray, pts: np.ndarray) -> float:
        if pts_line.shape[0] < 2:
            return float("inf")
        p0 = pts_line[:-1]
        p1 = pts_line[1:]
        d = p1 - p0
        seg2 = (d * d).sum(axis=1)
        out = float("inf")
        for q in pts:
            w = q - p0
            with np.errstate(divide="ignore", invalid="ignore"):
                t = np.clip(np.where(seg2 > 0, (w * d).sum(axis=1) / seg2, 0.0), 0, 1)
            proj = p0 + t[:, None] * d
            dd = ((q - proj) ** 2).sum(axis=1)
            out = min(out, float(np.sqrt(dd.min())))
        return out

    for g1, g2, pts in ((a, b, pb), (b, a, pa)):
        kind = g1[0]
        if kind in ("linestring", "polygon", "multilinestring", "multipolygon"):
            lines = []
            if kind == "linestring":
                lines = [g1[1]]
            elif kind == "multilinestring":
                lines = list(g1[1])
            elif kind == "polygon":
                lines = list(g1[1])
            else:
                lines = [r for p in g1[1] for r in p]
            for ln in lines:
                best = min(best, seg_point_min(ln, pts))
    return best


def interpolate(geom, fraction: float):
    """Point at `fraction` [0,1] of a linestring's length (reference
    geom::interpolate, src/geom-functions.cpp:32)."""
    if geom is None or geom[0] != "linestring":
        return None
    pts = geom[1]
    seg = np.diff(pts, axis=0)
    lens = np.hypot(seg[:, 0], seg[:, 1])
    total = lens.sum()
    if total == 0:
        return ("point", (float(pts[0, 0]), float(pts[0, 1])))
    target = min(max(fraction, 0.0), 1.0) * total
    acc = 0.0
    for i, ln in enumerate(lens):
        if acc + ln >= target:
            t = (target - acc) / ln if ln > 0 else 0.0
            p = pts[i] + t * seg[i]
            return ("point", (float(p[0]), float(p[1])))
        acc += ln
    return ("point", (float(pts[-1, 0]), float(pts[-1, 1])))


# -------------------------------------------------------- containment

def point_in_ring(x: float, y: float, ring: np.ndarray) -> bool:
    """Even-odd crossing test against a closed ring."""
    x0, y0 = ring[:-1, 0], ring[:-1, 1]
    x1, y1 = ring[1:, 0], ring[1:, 1]
    cross = (y0 > y) != (y1 > y)
    with np.errstate(divide="ignore", invalid="ignore"):
        xin = x0 + (y - y0) / (y1 - y0) * (x1 - x0)
    return bool(np.count_nonzero(cross & (x < xin)) % 2)


def contains_point(geom, x: float, y: float) -> bool:
    """Point-in-(multi)polygon with hole handling — the exact check
    behind the locator's R-tree probe
    (/root/reference/src/locator.hpp:36-151)."""
    if geom is None:
        return False
    kind, payload = geom
    if kind == "polygon":
        if not point_in_ring(x, y, payload[0]):
            return False
        return not any(point_in_ring(x, y, r) for r in payload[1:])
    if kind == "multipolygon":
        return any(contains_point(("polygon", p), x, y) for p in payload)
    return False


# ----------------------------------------------------------- line_merge

def line_merge(geom):
    """Stitch multilinestring parts that share endpoints into maximal
    chains (reference src/geom-functions.cpp:594-767: connects at
    shared endpoints only, walking from degree-1 endpoints first).

    Returns a multilinestring; null geometry for empty input."""
    if geom is None:
        return None
    kind, payload = geom
    if kind == "linestring":
        parts = [payload]
    elif kind == "multilinestring":
        parts = list(payload)
    else:
        return None
    if not parts:
        return None

    def key(pt) -> tuple[float, float]:
        return (float(pt[0]), float(pt[1]))

    # endpoint -> list of (part index, is_start)
    from collections import defaultdict

    endpoints: dict[tuple[float, float], list[tuple[int, bool]]] = defaultdict(list)
    for i, p in enumerate(parts):
        endpoints[key(p[0])].append((i, True))
        endpoints[key(p[-1])].append((i, False))

    used = [False] * len(parts)
    out = []

    def walk(start_idx: int, from_start: bool) -> np.ndarray:
        chain = parts[start_idx] if from_start else parts[start_idx][::-1]
        chain = [chain]
        used[start_idx] = True
        cur = key(chain[-1][-1])
        while True:
            nxt = [(i, s) for (i, s) in endpoints[cur] if not used[i]]
            if len(nxt) != 1 or len(endpoints[cur]) != 2:
                # junction (degree > 2) or dead end: stop — the
                # reference only merges unambiguous degree-2 joins.
                break
            i, at_start = nxt[0]
            seg = parts[i] if at_start else parts[i][::-1]
            used[i] = True
            chain.append(seg[1:])
            cur = key(seg[-1])
        return np.vstack(chain)

    # first pass: start walks at degree-1 (or odd/junction) endpoints
    for i, p in enumerate(parts):
        if used[i]:
            continue
        for from_start, pt in ((True, p[0]), (False, p[-1])):
            k = key(pt)
            if len(endpoints[k]) != 2:
                if not used[i]:
                    out.append(walk(i, from_start))
                break
    # second pass: remaining parts form closed loops
    for i, p in enumerate(parts):
        if not used[i]:
            out.append(walk(i, True))

    if not out:
        return None
    return ("multilinestring", out)
