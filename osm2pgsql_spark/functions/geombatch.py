"""Batch fast paths for the scalar WKB measure/transform kernels.

The scalar kernels in operators/geom_udfs.py parse full WKB per row
(functions/geometry.py from_wkb) just to take a length, a bbox or a
point count.  These twins do one light header scan per row (no numpy
allocation per row), gather every fast row's coordinate bytes into ONE
contiguous matrix for the whole Arrow batch, and run the math over the
batch at once (guide §4.2 — hand whole batches to vectorized numpy).

Bit-exactness contract (pinned by tests/test_geombatch.py): for every
row the result is IDENTICAL to the scalar path, including float
reduction semantics.  Three empirically-pinned reduction facts carry
the design (test_reduction_identities):

- elementwise stages (diff, hypot, radians, trig) are position-
  independent, so they run batch-wide;
- ``M.sum(axis=-1)`` over a C-contiguous gather applies numpy's
  pairwise summation to each row's contiguous run — bit-identical to
  ``np.sum`` of that row's own slice (np.add.reduceat is NOT: it
  reduces strictly sequentially and differs even for tiny arrays);
- min/max reductions are order-robust in every numpy path (no
  identity element, NaN propagates, signed zeros resolve the same),
  so gathered ``M.min(axis=1)`` equals the scalar per-row ``.min()``.

Rows are grouped by point count so each distinct count costs one
gather + one vectorized reduction; per-row Python work is limited to
the header scan and (for multi-part rows) the same part-by-part
``sum()`` the scalar path does.

Fast rows are little-endian plain-WKB point / linestring / polygon /
multipoint / multilinestring.  Anything else (big-endian, EWKB SRID
flag, multipolygons, collections, malformed buffers, degenerate rows
whose scalar twin raises) falls back row-by-row to the scalar kernels,
so semantics — including raised errors on malformed input — stay owned
by functions/geometry.py.
"""

from __future__ import annotations

import struct
from typing import Sequence

import numpy as np
import pandas as pd

from osm2pgsql_spark.functions import geometry as G

_U32 = struct.Struct("<I")

# row classes produced by _Scan (fast classes reuse the WKB type code:
# 1 point, 2 linestring, 3 polygon, 4 multipoint, 5 multilinestring)
_NULL = -1      # w is None
_EMPTY = 0      # len(w) == 0 -> from_wkb returns the null geometry
_FALLBACK = -2  # anything the fast path does not handle


class _Scan:
    """One light header pass over a batch of WKB buffers.

    coords holds the concatenated (N, 2) coordinate matrix of every
    fast line/polygon/multipoint/multilinestring row, in row order,
    parts back-to-back; part_* describe each part (a linestring, one
    polygon ring, or one multipoint member) and row_part_start /
    row_part_count map a row to its parts.  row_start / row_end give
    each row's full [start, end) range into coords (0, 0 when the row
    has no parts).  Point rows keep their xy in pt_xy instead."""

    __slots__ = (
        "n", "cls", "coords", "part_counts", "part_starts",
        "row_part_start", "row_part_count", "row_start", "row_end",
        "pt_xy", "fallback_rows",
    )

    def __init__(self, vals: Sequence, need_coords: bool = True):
        n = len(vals)
        self.n = n
        cls = [_FALLBACK] * n
        pieces: list = []
        part_counts: list = []
        row_part_start = np.zeros(n, dtype=np.int64)
        row_part_count = np.zeros(n, dtype=np.int64)
        pt_xy = None
        fallback_rows: list = []
        unpack = _U32.unpack_from
        for i, w in enumerate(vals):
            if w is None:
                cls[i] = _NULL
                continue
            L = len(w)
            if L == 0:
                cls[i] = _EMPTY
                continue
            if L < 9 or w[0] != 1:
                fallback_rows.append(i)
                continue
            code = unpack(w, 1)[0]
            if code == 1:
                if L < 21:
                    fallback_rows.append(i)
                    continue
                if pt_xy is None:
                    pt_xy = np.full((n, 2), np.nan)
                pt_xy[i, 0], pt_xy[i, 1] = struct.unpack_from("<dd", w, 5)
                cls[i] = 1
                continue
            if code == 2:
                npts = unpack(w, 5)[0]
                end = 9 + 16 * npts
                if L < end:
                    fallback_rows.append(i)
                    continue
                row_part_start[i] = len(part_counts)
                row_part_count[i] = 1
                part_counts.append(npts)
                if need_coords:
                    pieces.append(w[9:end])
                cls[i] = 2
                continue
            if code in (3, 4, 5):
                # polygon rings / multipoint members / multiline parts
                nparts = unpack(w, 5)[0]
                off = 9
                start = len(part_counts)
                ok = True
                for _ in range(nparts):
                    if code == 3:  # ring: 4-byte count + raw points
                        if L < off + 4:
                            ok = False
                            break
                        npts = unpack(w, off)[0]
                        off += 4
                    else:  # sub-geometry with its own 1+4 byte header
                        if L < off + 5 or w[off] != 1:
                            ok = False
                            break
                        sub = unpack(w, off + 1)[0]
                        if sub != code - 3:  # point under 4, line under 5
                            ok = False
                            break
                        if code == 4:
                            npts = 1
                            off += 5
                        else:
                            if L < off + 9:
                                ok = False
                                break
                            npts = unpack(w, off + 5)[0]
                            off += 9
                    end = off + 16 * npts
                    if L < end:
                        ok = False
                        break
                    part_counts.append(npts)
                    if need_coords:
                        pieces.append(w[off:end])
                    off = end
                if not ok:
                    del part_counts[start:]
                    del pieces[start:]
                    fallback_rows.append(i)
                    continue
                row_part_start[i] = start
                row_part_count[i] = nparts
                cls[i] = code
                continue
            fallback_rows.append(i)

        self.cls = cls
        self.pt_xy = pt_xy
        self.fallback_rows = fallback_rows
        pc = np.asarray(part_counts, dtype=np.int64)
        self.part_counts = pc
        starts = np.zeros(len(pc), dtype=np.int64)
        if len(pc) > 1:
            np.cumsum(pc[:-1], out=starts[1:])
        self.part_starts = starts
        self.row_part_start = row_part_start
        self.row_part_count = row_part_count
        # vectorized [start, end) per row over all of the row's parts
        has = row_part_count > 0
        rs = np.zeros(n, dtype=np.int64)
        re_ = np.zeros(n, dtype=np.int64)
        if has.any() and len(pc):
            first = row_part_start[has]
            last = first + row_part_count[has] - 1
            rs[has] = starts[first]
            re_[has] = starts[last] + pc[last]
        self.row_start = rs
        self.row_end = re_
        if pieces:
            buf = b"".join(pieces)
            self.coords = np.frombuffer(buf, dtype="<f8").reshape(-1, 2)
        else:
            self.coords = np.empty((0, 2), dtype="f8")

    def rows_of_class(self, *codes: int) -> np.ndarray:
        c = np.asarray(self.cls)
        m = np.zeros(self.n, dtype=bool)
        for k in codes:
            m |= c == k
        return np.nonzero(m)[0]


def _scalar_rows(vals, rows, fn):
    """Apply the scalar kernel to the given row indices."""
    return {i: fn(G.from_wkb(vals[i])) for i in rows}


def _batch_diff_hypot(C: np.ndarray) -> np.ndarray:
    """Elementwise segment lengths over the whole coordinate matrix;
    entries that straddle a row/part boundary are garbage and must be
    excluded by per-row/part slicing."""
    if C.shape[0] > 1:
        D = C[1:] - C[:-1]
        return np.hypot(D[:, 0], D[:, 1])
    return np.empty(0)


def _group_sums(V: np.ndarray, starts: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """sums[i] bit-identical to np.sum(V[starts[i] : starts[i]+counts[i]]):
    rows grouped by count; each group is one contiguous gather + one
    sum(axis=1), which applies the same pairwise summation np.sum uses
    on the slice (pinned by test_reduction_identities)."""
    out = np.zeros(len(starts))
    for c in np.unique(counts):
        sel = np.nonzero(counts == c)[0]
        if c <= 0:
            continue  # np.sum of an empty slice is 0.0
        M = V[starts[sel][:, None] + np.arange(c)[None, :]]
        out[sel] = M.sum(axis=1)
    return out


# ------------------------------------------------------------- measures

def _length_like(vals: Sequence, seg_vals_of, scale: float, scalar_fn) -> pd.Series:
    """Shared frame for batch_length / batch_spherical_length: scalar
    result = scale * np.sum(per-segment values) per linestring, Python
    sum over parts for multilinestrings, 0.0 for the other kinds."""
    sc = _Scan(vals)
    out = np.full(sc.n, np.nan)
    S = seg_vals_of(sc.coords)
    cls = np.asarray(sc.cls)
    # zero-measure kinds: null geom, point, polygon, multipoint
    zero = (cls == _EMPTY) | (cls == 1) | (cls == 3) | (cls == 4)
    out[zero] = 0.0
    lines = np.nonzero(cls == 2)[0]
    if len(lines):
        starts = sc.row_start[lines]
        counts = np.maximum(sc.row_end[lines] - starts - 1, 0)
        sums = _group_sums(S, starts, counts)
        out[lines] = scale * sums if scale != 1.0 else sums
    multis = np.nonzero(cls == 5)[0]
    if len(multis):
        pstarts = sc.part_starts
        pcounts = np.maximum(sc.part_counts - 1, 0)
        psums = _group_sums(S, pstarts, pcounts)
        if scale != 1.0:
            psums = scale * psums
        pl = psums.tolist()
        p0s = sc.row_part_start
        pks = sc.row_part_count
        for i in multis.tolist():
            p0 = p0s[i]
            total = 0
            for p in range(p0, p0 + pks[i]):
                total += pl[p]
            out[i] = total
    for i, v in _scalar_rows(vals, sc.fallback_rows, scalar_fn).items():
        out[i] = v
    return pd.Series(out, dtype="float64")


def batch_length(vals: Sequence) -> pd.Series:
    """Twin of _measure(G.length): None -> null, else planar length."""
    return _length_like(vals, _batch_diff_hypot, 1.0, G.length)


def batch_spherical_length(vals: Sequence) -> pd.Series:
    """Twin of _measure(G.spherical_length) (haversine)."""

    def seg_vals(C: np.ndarray) -> np.ndarray:
        if C.shape[0] <= 1:
            return np.empty(0)
        lam = np.radians(C[:, 0])
        phi = np.radians(C[:, 1])
        dlam = lam[1:] - lam[:-1]
        dphi = phi[1:] - phi[:-1]
        h = (
            np.sin(dphi / 2) ** 2
            + np.cos(phi[:-1]) * np.cos(phi[1:]) * np.sin(dlam / 2) ** 2
        )
        return 2 * np.arcsin(np.sqrt(np.clip(h, 0, 1)))

    return _length_like(vals, seg_vals, G.EARTH_RADIUS, G.spherical_length)


def batch_npoints(vals: Sequence) -> pd.Series:
    """Twin of _npoints: None and null geom -> 0."""
    sc = _Scan(vals, need_coords=False)
    cls = np.asarray(sc.cls)
    out = np.where(
        cls == 1, 1, np.where(cls >= 2, sc.row_end - sc.row_start, 0)
    ).astype(np.int64)
    for i, v in _scalar_rows(vals, sc.fallback_rows, G.n_points).items():
        out[i] = v
    return pd.Series(out, dtype="int64")


def batch_ngeoms(vals: Sequence) -> pd.Series:
    """Twin of _ngeoms: None -> 0; multi kinds -> part count; else 1."""
    sc = _Scan(vals, need_coords=False)
    cls = np.asarray(sc.cls)
    out = np.where(
        (cls >= 1) & (cls <= 3), 1, np.where(cls >= 4, sc.row_part_count, 0)
    ).astype(np.int64)
    for i, v in _scalar_rows(vals, sc.fallback_rows, G.num_geometries).items():
        out[i] = v
    return pd.Series(out, dtype="int64")


_TYPE_NAMES = {
    _NULL: "NULL", _EMPTY: "NULL", _FALLBACK: None,
    1: "POINT", 2: "LINESTRING", 3: "POLYGON", 4: "MULTIPOINT",
    5: "MULTILINESTRING",
}


def batch_geom_type(vals: Sequence) -> pd.Series:
    """Twin of _geom_type: None and null geom -> 'NULL'."""
    sc = _Scan(vals, need_coords=False)
    names = _TYPE_NAMES
    out = [names[c] for c in sc.cls]
    for i, v in _scalar_rows(vals, sc.fallback_rows, G.geometry_type).items():
        out[i] = v
    return pd.Series(out, dtype=object)


def batch_multi_part_stats(vals: Sequence) -> pd.DataFrame:
    """Fused twin of split_multi + per-part n_points + (count, max):
    per row the number of split parts and the max point count over
    them, straight off the header scan — no part WKBs are built, no
    explode, no aggregation shuffle.  (None, None) when the split
    yields no parts (None/empty geometry, empty multi), matching the
    rows the old explode dropped; a downstream isNotNull filter on
    n_parts reproduces the explode's row drop exactly."""
    sc = _Scan(vals, need_coords=False)
    n_parts: list = [None] * sc.n
    max_pts: list = [None] * sc.n
    pc = sc.part_counts
    p0s = sc.row_part_start
    pks = sc.row_part_count
    for i, c in enumerate(sc.cls):
        if c == _NULL or c == _EMPTY:
            continue  # split -> [] -> explode drops the row
        if c == 1:
            n_parts[i], max_pts[i] = 1, 1
        elif c == 2:
            n_parts[i] = 1
            max_pts[i] = int(pc[p0s[i]])
        elif c == 3:
            # a single polygon splits to itself: one part whose
            # n_points is the sum over its rings
            n_parts[i] = 1
            k = pks[i]
            p0 = p0s[i]
            max_pts[i] = int(pc[p0 : p0 + k].sum()) if k else 0
        elif c == 4:
            k = int(pks[i])
            if k:
                n_parts[i], max_pts[i] = k, 1
        elif c == 5:
            k = int(pks[i])
            if k:
                p0 = p0s[i]
                n_parts[i] = k
                max_pts[i] = int(pc[p0 : p0 + k].max())
    for i in sc.fallback_rows:
        parts = G.split_multi(G.from_wkb(bytes(vals[i])))
        if not parts:
            continue
        n_parts[i] = len(parts)
        max_pts[i] = max(G.n_points(p) for p in parts)
    return pd.DataFrame(
        {
            "n_parts": pd.array(n_parts, dtype="Int64"),
            "part_points": pd.array(max_pts, dtype="Int64"),
        }
    )


def batch_bbox(vals: Sequence) -> pd.DataFrame:
    """Twin of _bbox (struct<min_x,min_y,max_x,max_y>).  min/max over
    the row's contiguous coordinate gather — min/max reductions are
    order-robust (test_reduction_identities), and the scalar path's
    vstack of rings/parts is exactly this concatenation."""
    sc = _Scan(vals)
    mn = np.full((sc.n, 2), np.nan)
    mx = np.full((sc.n, 2), np.nan)
    if sc.pt_xy is not None:
        pts = sc.rows_of_class(1)
        mn[pts] = sc.pt_xy[pts]
        mx[pts] = sc.pt_xy[pts]
    rows = sc.rows_of_class(2, 3, 4, 5)
    if len(rows):
        starts = sc.row_start[rows]
        counts = sc.row_end[rows] - starts
        C = sc.coords
        for c in np.unique(counts):
            if c <= 0:
                continue  # 0-point rows keep NaN (scalar bbox None)
            sel = rows[counts == c]
            M = C[sc.row_start[sel][:, None] + np.arange(c)[None, :]]
            mn[sel] = M.min(axis=1)
            mx[sel] = M.max(axis=1)
    for i, b in _scalar_rows(vals, sc.fallback_rows, G.get_bbox).items():
        if b is not None:
            mn[i, 0], mn[i, 1], mx[i, 0], mx[i, 1] = b
    return pd.DataFrame(
        {"min_x": mn[:, 0], "min_y": mn[:, 1], "max_x": mx[:, 0], "max_y": mx[:, 1]},
        dtype="float64",
    )


def batch_centroid_xy(vals: Sequence) -> pd.DataFrame:
    """Twin of _centroid_xy; point/linestring rows on the fast path
    (length-weighted midpoints, reductions grouped by count),
    polygon/multi rows through the scalar centroid."""
    sc = _Scan(vals)
    xs = np.full(sc.n, np.nan)
    ys = np.full(sc.n, np.nan)
    C = sc.coords
    H = _batch_diff_hypot(C)
    fb = list(sc.fallback_rows)
    if sc.pt_xy is not None:
        pts = sc.rows_of_class(1)
        xs[pts] = sc.pt_xy[pts, 0]
        ys[pts] = sc.pt_xy[pts, 1]
    lines = sc.rows_of_class(2)
    if len(lines):
        counts = sc.row_end[lines] - sc.row_start[lines]
        for c in np.unique(counts):
            sel = lines[counts == c]
            if c < 1:
                fb.extend(sel.tolist())  # scalar raises on a 0-pt line
                continue
            starts = sc.row_start[sel]
            if c == 1:
                xs[sel] = C[starts, 0]
                ys[sel] = C[starts, 1]
                continue
            M = C[starts[:, None] + np.arange(c)[None, :]]      # (R, c, 2)
            W = H[starts[:, None] + np.arange(c - 1)[None, :]]  # (R, c-1)
            tw = W.sum(axis=1)
            mid = (M[:, :-1] + M[:, 1:]) / 2.0
            with np.errstate(divide="ignore", invalid="ignore"):
                cc = (mid * W[:, :, None]).sum(axis=1) / tw[:, None]
            deg = tw == 0
            if deg.any():
                cc[deg] = M[deg, 0]  # zero-length line -> first point
            xs[sel] = cc[:, 0]
            ys[sel] = cc[:, 1]
    fb.extend(sc.rows_of_class(3, 4, 5).tolist())
    for i, c in _scalar_rows(vals, fb, G.centroid).items():
        if c is not None:
            xs[i] = c[1][0]
            ys[i] = c[1][1]
    return pd.DataFrame({"x": xs, "y": ys}, dtype="float64")


# ------------------------------------------------------- transformers

_PT_HDR = b"\x01\x01\x00\x00\x00"


def batch_reverse(vals: Sequence) -> pd.Series:
    """Twin of _unary_geom(G.reverse) for point/linestring rows."""
    sc = _Scan(vals)
    out: list = [None] * sc.n
    C = sc.coords
    fb = list(sc.fallback_rows)
    rs = sc.row_start.tolist()
    re_ = sc.row_end.tolist()
    for i, c in enumerate(sc.cls):
        if c == _NULL or c == _EMPTY:
            continue  # to_wkb(reverse(None)) is None
        if c == 1:
            out[i] = _PT_HDR + bytes(vals[i][5:21])
        elif c == 2:
            s, e = rs[i], re_[i]
            out[i] = bytes(vals[i][:9]) + np.ascontiguousarray(C[s:e][::-1]).tobytes()
        elif c >= 3:
            fb.append(i)
    for i, g in _scalar_rows(vals, fb, G.reverse).items():
        out[i] = G.to_wkb(g)
    return pd.Series(out, dtype=object)


def batch_point_wkb(lon: pd.Series, lat: pd.Series, srid: pd.Series) -> pd.Series:
    """(lon, lat, srid) -> point WKB, nulls kept: the batch twin of
    to_wkb(make_point(lon, lat)) [+ transform_4326_to_3857]."""
    n = len(lon)
    bad = (lon.isna() | lat.isna()).to_numpy()
    x = lon.to_numpy(dtype="f8", na_value=np.nan, copy=True)
    y = lat.to_numpy(dtype="f8", na_value=np.nan, copy=True)
    x[bad] = 0.0
    y[bad] = 0.0
    code = pd.to_numeric(srid).to_numpy()
    A = np.column_stack([x, y])
    is3857 = code == 3857
    if is3857.any():
        A = np.where(is3857[:, None], G.mercator_forward(A), A)
    A = np.ascontiguousarray(A, dtype="<f8")
    buf = A.tobytes()
    out: list = [None] * n
    for i in range(n):
        if not bad[i]:
            out[i] = _PT_HDR + buf[16 * i : 16 * i + 16]
    return pd.Series(out, dtype=object)


def _transform_batch(vals: Sequence, fwd: bool) -> pd.Series:
    """Twin of _unary_geom(G.transform_4326_to_3857 / _3857_to_4326)
    for point/linestring/polygon/multipoint/multilinestring rows."""
    sc = _Scan(vals)
    out: list = [None] * sc.n
    C = sc.coords
    f = G.mercator_forward if fwd else G.mercator_inverse
    TB = np.ascontiguousarray(f(C), dtype="<f8").tobytes() if C.shape[0] else b""
    # all point rows transformed in one call (same elementwise formula
    # the scalar path applies to each row's (1,2) array)
    PB = b""
    pt_pos = {}
    if sc.pt_xy is not None:
        pts = sc.rows_of_class(1)
        PB = np.ascontiguousarray(f(sc.pt_xy[pts]), dtype="<f8").tobytes()
        pt_pos = {int(r): k for k, r in enumerate(pts)}
    fallback = list(sc.fallback_rows)
    rs = sc.row_start.tolist()
    re_ = sc.row_end.tolist()
    p0s = sc.row_part_start.tolist()
    pks = sc.row_part_count.tolist()
    pstarts = sc.part_starts.tolist()
    pcounts = sc.part_counts.tolist()
    for i, c in enumerate(sc.cls):
        if c == _NULL or c == _EMPTY:
            continue
        if c == 1:
            k = pt_pos[i]
            out[i] = _PT_HDR + PB[16 * k : 16 * k + 16]
        elif c == 2:
            s, e = rs[i], re_[i]
            out[i] = bytes(vals[i][:9]) + TB[16 * s : 16 * e]
        elif c >= 3:
            if c == 4 and pks[i] == 0:
                # scalar _map_coords raises on an empty multipoint
                fallback.append(i)
                continue
            # splice transformed coordinates between the original
            # header/count bytes (identical to what to_wkb re-emits)
            w = vals[i]
            parts = [bytes(w[:9])]
            off = 9
            hdr_len = 4 if c == 3 else (5 if c == 4 else 9)
            p0 = p0s[i]
            for p in range(p0, p0 + pks[i]):
                npts = pcounts[p]
                parts.append(bytes(w[off : off + hdr_len]))
                off += hdr_len
                s = pstarts[p]
                parts.append(TB[16 * s : 16 * (s + npts)])
                off += 16 * npts
            out[i] = b"".join(parts)
    for i, g in _scalar_rows(
        vals,
        fallback,
        G.transform_4326_to_3857 if fwd else G.transform_3857_to_4326,
    ).items():
        out[i] = G.to_wkb(g)
    return pd.Series(out, dtype=object)


def batch_transform_3857(vals: Sequence) -> pd.Series:
    return _transform_batch(vals, fwd=True)


def batch_transform_4326(vals: Sequence) -> pd.Series:
    return _transform_batch(vals, fwd=False)


# ---------------------------------------------- simplify / segmentize

def batch_simplify(vals: Sequence, tol: pd.Series) -> pd.Series:
    """Twin of _simplify (Douglas-Peucker, linestrings only -> else
    null).  Fast path: 2-point lines are returned unchanged and
    3-point lines evaluate the single DP distance test vectorized —
    the elementwise products replicate the scalar path's 2-element
    dot products bitwise (no FMA; pinned by test_reduction_identities'
    sibling test_small_dot_identity).  Longer lines recurse in the
    scalar kernel."""
    sc = _Scan(vals)
    out: list = [None] * sc.n
    C = sc.coords
    tolv = tol.to_numpy(dtype="f8")
    fb = []
    three = []
    for i, c in enumerate(sc.cls):
        if c == _NULL or c == _EMPTY or c in (1, 3, 4, 5):
            continue  # non-linestrings simplify to the null geometry
        if c == _FALLBACK:
            fb.append(i)
            continue
        n = sc.row_end[i] - sc.row_start[i]
        if n <= 2:
            # scalar returns the geometry unchanged (even 0/1-point
            # lines); to_wkb re-emits exactly the first 9+16n bytes
            out[i] = bytes(vals[i][: 9 + 16 * n])
        elif n == 3:
            three.append(i)
        else:
            fb.append(i)
    if three:
        rows = np.asarray(three, dtype=np.int64)
        s = sc.row_start[rows]
        p0 = C[s]
        p1 = C[s + 1]
        p2 = C[s + 2]
        seg = p2 - p0                    # _dp_mask: seg = pts[j] - pts[i]
        rel = p1 - p0
        seg_len2 = seg[:, 0] * seg[:, 0] + seg[:, 1] * seg[:, 1]
        rel2 = rel[:, 0] * rel[:, 0] + rel[:, 1] * rel[:, 1]
        with np.errstate(divide="ignore", invalid="ignore"):
            t = np.clip((rel[:, 0] * seg[:, 0] + rel[:, 1] * seg[:, 1]) / seg_len2, 0.0, 1.0)
        diff = rel - t[:, None] * seg    # proj = outer(t, seg)
        d2 = np.where(
            seg_len2 == 0.0, rel2, diff[:, 0] * diff[:, 0] + diff[:, 1] * diff[:, 1]
        )
        keep_mid = d2 > tolv[rows] * tolv[rows]
        for k, i in enumerate(three):
            w = vals[i]
            if keep_mid[k]:
                out[i] = bytes(w[:57])  # 9 + 3*16, unchanged
            else:
                out[i] = bytes(w[:5]) + _U32.pack(2) + bytes(w[9:25]) + bytes(w[41:57])
    for i in fb:
        out[i] = G.to_wkb(G.simplify(G.from_wkb(vals[i]), float(tolv[i])))
    return pd.Series(out, dtype=object)


_SEG_SUBHDR = np.frombuffer(b"\x01\x02\x00\x00\x00" + _U32.pack(2), dtype=np.uint8)


def batch_segmentize(vals: Sequence, maxlen: pd.Series) -> pd.Series:
    """Twin of _segmentize for 2-POINT linestrings (the common shape:
    a straight edge split into <=maxlen pieces, every output piece a
    2-point line).  Replicates _split_linestring exactly: the segment
    length uses math.hypot per row (math.hypot and np.hypot differ in
    the last ulp), split points are frac*(b-a)+a with
    frac=(j+1)*maxlen/delta, and the final piece is dropped when the
    last split point equals the endpoint valuewise.  Everything else
    falls back to the scalar kernel."""
    import math

    sc = _Scan(vals)
    out: list = [None] * sc.n
    C = sc.coords
    tolv = maxlen.to_numpy(dtype="f8")
    fb = []
    rows_l = []
    for i, c in enumerate(sc.cls):
        if c == _NULL or c == _EMPTY or c in (1, 3, 4):
            continue  # non-(multi)linestrings segmentize to null
        if (
            c == 2
            and sc.row_end[i] - sc.row_start[i] == 2
            and tolv[i] > 0.0  # scalar raises ZeroDivisionError at 0
        ):
            rows_l.append(i)
        else:
            fb.append(i)
    if rows_l:
        rows = np.asarray(rows_l, dtype=np.int64)
        s = sc.row_start[rows]
        A = C[s]
        B = C[s + 1]
        split_at = tolv[rows]
        # per-row math.hypot, exactly like _split_linestring's delta
        dx = (B[:, 0] - A[:, 0]).tolist()
        dy = (B[:, 1] - A[:, 1]).tolist()
        delta = np.asarray([math.hypot(a, b) for a, b in zip(dx, dy)])
        cond = delta > split_at
        with np.errstate(divide="ignore", invalid="ignore"):
            ratio = np.where(cond, delta / split_at, 0.0)
        k = np.floor(ratio).astype(np.int64)
        R = len(rows)
        kcum = np.zeros(R, dtype=np.int64)
        np.cumsum(k[:-1], out=kcum[1:])
        total_i = int(k.sum())
        row_of = np.repeat(np.arange(R), k)
        j = np.arange(total_i) - np.repeat(kcum, k)
        frac = ((j + 1) * split_at[row_of]) / delta[row_of]
        I = frac[:, None] * (B[row_of] - A[row_of]) + A[row_of]
        # last split point per row with k>0; drop the final piece when
        # it equals the endpoint valuewise (scalar: this == ipoint)
        has_k = k > 0
        skip_final = np.zeros(R, dtype=bool)
        if has_k.any():
            last_idx = kcum[has_k] + k[has_k] - 1
            li = I[last_idx]
            tb = B[has_k]
            skip_final[has_k] = (tb[:, 0] == li[:, 0]) & (tb[:, 1] == li[:, 1])
        m = np.where(k == 0, 1, k + (~skip_final))
        has_this = (k == 0) | (~skip_final)
        # chain per row: A, interps..., [B]; pieces are adjacent pairs
        clen = m + 1
        cs = np.zeros(R, dtype=np.int64)
        np.cumsum(clen[:-1], out=cs[1:])
        chain = np.empty((int(clen.sum()), 2))
        chain[cs] = A
        chain[cs[row_of] + 1 + j] = I
        chain[(cs + m)[has_this]] = B[has_this]
        ps = np.zeros(R, dtype=np.int64)
        np.cumsum(m[:-1], out=ps[1:])
        total_p = int(m.sum())
        prow = np.repeat(np.arange(R), m)
        pj = np.arange(total_p) - np.repeat(ps, m)
        PA = chain[cs[prow] + pj]
        PB_ = chain[cs[prow] + pj + 1]
        U = np.empty((total_p, 41), dtype=np.uint8)
        U[:, :9] = _SEG_SUBHDR
        U[:, 9:25] = np.ascontiguousarray(PA, dtype="<f8").view(np.uint8)
        U[:, 25:41] = np.ascontiguousarray(PB_, dtype="<f8").view(np.uint8)
        buf = U.tobytes()
        counts = m.astype("<u4").tobytes()
        hdr = b"\x01\x05\x00\x00\x00"  # little-endian MULTILINESTRING
        psl = ps.tolist()
        ml = m.tolist()
        for r, i in enumerate(rows_l):
            p = psl[r]
            out[i] = hdr + counts[4 * r : 4 * r + 4] + buf[41 * p : 41 * (p + ml[r])]
    for i in fb:
        out[i] = G.to_wkb(G.segmentize(G.from_wkb(vals[i]), float(tolv[i])))
    return pd.Series(out, dtype=object)


# ------------------------------------------- interpolate / distance

def batch_interpolate_xy(vals: Sequence, frac: pd.Series) -> pd.DataFrame:
    """Twin of _interpolate_xy for 2-point linestrings (the dominant
    shape: interpolating along a straight diagonal).  Replicates
    G.interpolate exactly: total = np.sum of the single np.hypot
    segment length, target = min(max(f,0),1) * total, and the same
    zero-length / fell-through-loop (NaN target) branches.  Longer
    lines go through the scalar kernel."""
    sc = _Scan(vals)
    xs = np.full(sc.n, np.nan)
    ys = np.full(sc.n, np.nan)
    C = sc.coords
    fv = frac.to_numpy(dtype="f8")
    fb = []
    two = []
    for i, c in enumerate(sc.cls):
        if c == _FALLBACK:
            fb.append(i)
        elif c == 2:
            if sc.row_end[i] - sc.row_start[i] == 2:
                two.append(i)
            else:
                fb.append(i)
        # null/empty/non-linestring rows -> NaN (scalar returns None)
    if two:
        rows = np.asarray(two, dtype=np.int64)
        s = sc.row_start[rows]
        A = C[s]
        B = C[s + 1]
        seg = B - A                         # np.diff row
        ln = np.hypot(seg[:, 0], seg[:, 1])
        total = 0.0 + ln                    # np.sum of the 1-elem array
        # exact twin of Python's min(max(fraction, 0.0), 1.0): keep the
        # original value unless strictly outside (NaN and -0.0 pass
        # through, unlike np.minimum/np.maximum)
        fr = fv[rows]
        f = np.where(0.0 > fr, 0.0, fr)
        f = np.where(f > 1.0, 1.0, f)
        target = f * total
        with np.errstate(divide="ignore", invalid="ignore"):
            t = (target - 0.0) / ln
        P = A + t[:, None] * seg
        hit = ln >= target                  # acc(0) + ln >= target
        zero = total == 0
        px = np.where(zero, A[:, 0], np.where(hit, P[:, 0], B[:, 0]))
        py = np.where(zero, A[:, 1], np.where(hit, P[:, 1], B[:, 1]))
        xs[rows] = px
        ys[rows] = py
    for i in fb:
        p = G.interpolate(G.from_wkb(bytes(vals[i])), float(fv[i]))
        if p is not None:
            xs[i] = p[1][0]
            ys[i] = p[1][1]
    return pd.DataFrame({"x": xs, "y": ys}, dtype="float64")


def batch_distance(va: Sequence, vb: Sequence) -> pd.Series:
    """Twin of _distance for point-point rows: the vertex-distance
    formula with the same square/sum/sqrt staging.  Every other
    combination goes through the scalar G.distance."""
    sa = _Scan(va, need_coords=False)
    sb = _Scan(vb, need_coords=False)
    n = sa.n
    out = np.full(n, np.nan)
    fb = []
    pts = []
    for i in range(n):
        ca, cb = sa.cls[i], sb.cls[i]
        if ca == _NULL or cb == _NULL:
            pass  # wrapper emits null when either side is None
        elif ca == 1 and cb == 1:
            pts.append(i)
        else:
            fb.append(i)
    if pts:
        rows = np.asarray(pts, dtype=np.int64)
        A = sa.pt_xy[rows]
        B = sb.pt_xy[rows]
        D = (A - B) ** 2
        out[rows] = np.sqrt(0.0 + D[:, 0] + D[:, 1])  # sum from 0.0
    for i in fb:
        out[i] = G.distance(G.from_wkb(bytes(va[i])), G.from_wkb(bytes(vb[i])))
    res = pd.Series(out, dtype="float64")
    return res


def batch_split_multi(vals: Sequence) -> pd.Series:
    """Twin of _split_multi (explode a multi-geometry into part WKBs).
    For little-endian multipoint/multilinestring rows the sub-WKBs are
    rebuilt from the scanned parts — constant header + count + the
    part's own coordinate bytes, exactly what to_wkb re-emits.  Plain
    point/linestring/polygon rows split to themselves (re-emitted at
    canonical length); everything else falls back to the scalar path."""
    sc = _Scan(vals)
    out: list = [None] * sc.n
    fb = list(sc.fallback_rows)
    C = sc.coords
    buf = np.ascontiguousarray(C, dtype="<f8").tobytes() if C.shape[0] else b""
    line_hdr = b"\x01\x02\x00\x00\x00"
    for i, c in enumerate(sc.cls):
        if c == _NULL or c == _EMPTY:
            out[i] = []
        elif c == 1:
            out[i] = [_PT_HDR + bytes(vals[i][5:21])]
        elif c == 2:
            s, e = sc.row_start[i], sc.row_end[i]
            out[i] = [bytes(vals[i][:9]) + buf[16 * s : 16 * e]]
        elif c == 3:
            # single polygon splits to itself; re-emit via the scalar
            # path (cheap relative to its ring structure)
            fb.append(i)
        elif c == 4:
            p0 = sc.row_part_start[i]
            parts = []
            for p in range(p0, p0 + sc.row_part_count[i]):
                s = int(sc.part_starts[p])
                parts.append(_PT_HDR + buf[16 * s : 16 * s + 16])
            out[i] = parts
        elif c == 5:
            p0 = sc.row_part_start[i]
            parts = []
            for p in range(p0, p0 + sc.row_part_count[i]):
                s = int(sc.part_starts[p])
                cnt = int(sc.part_counts[p])
                parts.append(
                    line_hdr + _U32.pack(cnt) + buf[16 * s : 16 * (s + cnt)]
                )
            out[i] = parts
    for i in fb:
        out[i] = [G.to_wkb(g) for g in G.split_multi(G.from_wkb(vals[i]))]
    return pd.Series(out, dtype=object)


def batch_spherical_area_sphere(vals: Sequence) -> pd.Series:
    """Twin of _measure(spherical_area(ellipsoid=False)): the
    Danielsen excess sum over great-circle edges, per polygon ring.
    Every stage is elementwise except the per-ring np.sum, which runs
    grouped by ring point count (same pairwise reduction).  The
    ellipsoid mode (Vincenty densification + authalic mapping, an
    iterative per-edge algorithm) and the planar shoelace (np.dot,
    whose BLAS accumulation batch ops cannot reproduce bitwise) stay
    scalar."""
    sc = _Scan(vals)
    out = np.full(sc.n, np.nan)
    C = sc.coords
    if C.shape[0] > 1:
        lam = np.radians(C[:, 0])
        phi = np.radians(C[:, 1])
        dl = lam[1:] - lam[:-1]
        dl = np.where(np.abs(dl) > np.pi, dl - np.sign(dl) * 2.0 * np.pi, dl)
        mid = (phi[1:] + phi[:-1]) / 2.0
        half = (phi[1:] - phi[:-1]) / 2.0
        with np.errstate(invalid="ignore", divide="ignore", over="ignore"):
            E = 2.0 * np.arctan(np.tan(dl / 2.0) * np.sin(mid) / np.cos(half))
    else:
        E = np.empty(0)
    # per-ring |excess sums| over rings' edge runs (count-1 edges)
    rsums = np.abs(
        _group_sums(E, sc.part_starts, np.maximum(sc.part_counts - 1, 0))
    )
    rl = rsums.tolist()
    R = G.AUTHALIC_RADIUS
    fb = list(sc.fallback_rows)
    for i, c in enumerate(sc.cls):
        if c == _NULL:
            continue
        if c == _EMPTY or c in (1, 2, 4, 5):
            out[i] = 0.0
        elif c == 3:
            k = sc.row_part_count[i]
            if k == 0:
                # scalar: 0 rings -> total starts from ring0 -> raises
                fb.append(i)
                continue
            p0 = sc.row_part_start[i]
            total = rl[p0]
            for p in range(p0 + 1, p0 + k):
                total -= rl[p]
            # same association as the scalar: (total * R) * R
            out[i] = total * R * R
    sph = lambda g: G.spherical_area(g, ellipsoid=False)
    for i, v in _scalar_rows(vals, fb, sph).items():
        out[i] = v
    return pd.Series(out, dtype="float64")
