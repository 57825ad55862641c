"""Seeded input generators for the benchmark.

Everything here is single-process, pure Python + numpy/pyarrow, and
deterministic by ``seed``: the same seed writes byte-identical files.

* ``OsmWorld`` builds a synthetic OSM extract on a lon/lat grid
  (tagged and untagged nodes, open ways, closed building/landuse ways,
  route relations with way and stop-node members, multipolygon
  relations with holes, boundary relations), writes it as OPL, and
  derives a sequence of ``.osc`` diffs from it (node moves that
  propagate through way refs and relation members, way tag edits,
  creates, and deletes of all three kinds).  It tracks the post-diff
  state, so it can write that state as OPL too and predict the row
  count of every output table of the generic style.
* ``write_testdata`` writes the TPC-H-ish star schema plus the
  events/documents/embeddings tables that the analytics queries read,
  with the column names, types and value domains of the corpus those
  queries were written against.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field

# ------------------------------------------------------------------ OSM

LON0, LAT0 = 9.0, 50.0
STEP = 0.0005          # grid spacing in degrees (~36 m x 56 m)
JITTER = 0.00008       # node jitter about its home position; small
                       # enough that a building square stays simple

# tag keys the generic style deletes before deciding whether an
# object has tags (a subset of its DELETE_KEYS)
JUNK_KEYS = ("source", "created_by", "note")
# closed ways with one of these keys become polygons (subset of the
# generic style's AREA_KEYS that the generator emits)
AREA_KEYS = ("building", "landuse", "natural", "amenity", "shop")

STREET_NAMES = ("Main", "High", "Park", "Mill", "Church", "Station",
                "Garden", "Lake", "Forest", "Bridge", "Market", "School")
HIGHWAYS = ("residential", "tertiary", "secondary", "service", "unclassified")
POI_TAGS = (("amenity", "bench"), ("amenity", "cafe"), ("shop", "bakery"),
            ("highway", "bus_stop"), ("amenity", "post_box"), ("tourism", "viewpoint"))


def _coord(v: float) -> float:
    """A coordinate on the 1e-7 degree grid whose float survives both
    readers unchanged: the OPL reader takes float(text) and the XML
    reader re-quantizes round(float(text) * 1e7) / 1e7."""
    k = round(v * 1e7)
    while True:
        c = float(f"{k / 1e7:.7f}")
        if round(c * 1e7) / 1e7 == c:
            return c
        k += 1


def _esc(s: str) -> str:
    out = []
    for ch in s:
        if ch.isalnum() or ch in "_:.-":
            out.append(ch)
        else:
            out.append(f"%{ord(ch):x}%")
    return "".join(out)


def _xml_attr(s: str) -> str:
    return (s.replace("&", "&amp;").replace("<", "&lt;")
            .replace(">", "&gt;").replace('"', "&quot;"))


@dataclass
class Obj:
    kind: str                      # 'n' | 'w' | 'r'
    id: int
    tags: dict
    version: int = 1
    lon: float = 0.0
    lat: float = 0.0
    refs: list = field(default_factory=list)      # way node ids
    members: list = field(default_factory=list)   # (type, ref, role)

    def opl(self) -> str:
        head = f"{self.kind}{self.id} v{self.version}"
        tags = ",".join(f"{_esc(k)}={_esc(v)}" for k, v in sorted(self.tags.items()))
        t = f" T{tags}" if tags else " T"
        if self.kind == "n":
            return f"{head}{t} x{self.lon:.7f} y{self.lat:.7f}"
        if self.kind == "w":
            return f"{head}{t} N" + ",".join(f"n{r}" for r in self.refs)
        return f"{head}{t} M" + ",".join(f"{m[0]}{m[1]}@{_esc(m[2])}" for m in self.members)

    def xml(self) -> str:
        tags = "".join(f'<tag k="{_xml_attr(k)}" v="{_xml_attr(v)}"/>'
                       for k, v in sorted(self.tags.items()))
        if self.kind == "n":
            return (f'<node id="{self.id}" version="{self.version}" '
                    f'lat="{self.lat:.7f}" lon="{self.lon:.7f}">{tags}</node>')
        if self.kind == "w":
            nds = "".join(f'<nd ref="{r}"/>' for r in self.refs)
            return f'<way id="{self.id}" version="{self.version}">{nds}{tags}</way>'
        names = {"n": "node", "w": "way", "r": "relation"}
        mem = "".join(f'<member type="{names[m[0]]}" ref="{m[1]}" role="{_xml_attr(m[2])}"/>'
                      for m in self.members)
        return f'<relation id="{self.id}" version="{self.version}">{mem}{tags}</relation>'


def _clean(tags: dict) -> dict:
    return {k: v for k, v in tags.items() if k not in JUNK_KEYS}


class OsmWorld:
    """A seeded synthetic extract plus its diff sequence.

    ``grid`` is the side of the node grid; object counts scale with
    its square.  Object ids: nodes from 1, ways from 10**6, relations
    from 2 * 10**6, diff-created objects above the base ranges."""

    def __init__(self, seed: int, grid: int) -> None:
        # structure (which objects exist, how they connect) depends on
        # the grid only, content (positions, tag values) on the seed:
        # every seed yields the same object and row counts
        self.srng = random.Random(grid)
        self.rng = random.Random(seed * 7919 + grid)
        self.grid = grid
        self.nodes: dict[int, Obj] = {}
        self.ways: dict[int, Obj] = {}
        self.rels: dict[int, Obj] = {}
        self.home: dict[int, tuple] = {}  # node id -> unjittered position
        self.streets: list[int] = []     # highway way ids
        self.buildings: list[int] = []   # building way ids (no relation uses them)
        self.pois: list[int] = []        # tagged nodes nobody references
        self.routes: list[int] = []
        self.stops: list[int] = []       # route stop nodes
        self._next = {"n": 900_000, "w": 1_900_000, "r": 2_900_000}
        self.n_diffs = 0
        self._build()

    # -------------------------------------------------------- base data
    def _nid(self, i: int, j: int) -> int:
        return 1 + i * self.grid + j

    def _new_id(self, kind: str) -> int:
        self._next[kind] += 1
        return self._next[kind]

    def _add(self, o: Obj) -> Obj:
        {"n": self.nodes, "w": self.ways, "r": self.rels}[o.kind][o.id] = o
        if o.kind == "n":
            self.home.setdefault(o.id, (o.lon, o.lat))
        return o

    def _build(self) -> None:
        rng, srng, g = self.rng, self.srng, self.grid
        for i in range(g):
            for j in range(g):
                tags = {}
                u = srng.random()
                if u < 0.06:
                    k, v = rng.choice(POI_TAGS)
                    tags = {k: v}
                    if rng.random() < 0.5:
                        tags["name"] = f"{rng.choice(STREET_NAMES)} {v}"
                elif u < 0.09:
                    tags = {rng.choice(JUNK_KEYS): "survey"}
                nid = self._nid(i, j)
                self.home[nid] = (LON0 + j * STEP, LAT0 + i * STEP)
                self._add(Obj("n", nid, tags,
                              lon=_coord(LON0 + j * STEP + rng.uniform(-JITTER, JITTER)),
                              lat=_coord(LAT0 + i * STEP + rng.uniform(-JITTER, JITTER))))
        # standalone POIs between the grid rows (deletable)
        for _ in range(g * g // 40):
            i, j = srng.randrange(g - 1), srng.randrange(g - 1)
            k, v = rng.choice(POI_TAGS)
            n = self._add(Obj("n", self._new_id("n"), {k: v, "name": f"poi {v}"},
                              lon=_coord(LON0 + (j + 0.5) * STEP),
                              lat=_coord(LAT0 + (i + 0.5) * STEP)))
            self.pois.append(n.id)
        wid = 10**6
        # streets: every 3rd grid row and column, cut into segments
        for axis in (0, 1):
            for line in range(0, g, 3):
                start = 0
                while start < g - 1:
                    ln = srng.randint(4, 12)
                    end = min(g - 1, start + ln)
                    refs = [self._nid(line, c) if axis == 0 else self._nid(c, line)
                            for c in range(start, end + 1)]
                    u = srng.random()
                    if u < 0.8:
                        tags = {"highway": rng.choice(HIGHWAYS),
                                "name": f"{rng.choice(STREET_NAMES)} Street {line}"}
                        if srng.random() < 0.3:
                            tags["source"] = "survey"
                    elif u < 0.9:
                        tags = {"created_by": "editor"}   # cleaned to nothing
                    else:
                        tags = {}
                    wid += 1
                    self._add(Obj("w", wid, tags, refs=refs))
                    if "highway" in tags:
                        self.streets.append(wid)
                    start = end
        # closed ways: buildings on single cells, landuse on 2x2 blocks,
        # in the cells between the street rows/columns
        for i in range(1, g - 2, 3):
            for j in range(1, g - 2, 3):
                u = srng.random()
                if u < 0.55:
                    ring = [self._nid(i, j), self._nid(i, j + 1), self._nid(i + 1, j + 1),
                            self._nid(i + 1, j), self._nid(i, j)]
                    wid += 1
                    tags = {"building": rng.choice(("yes", "house", "garage"))}
                    if srng.random() < 0.2:
                        tags["addr:housenumber"] = str(rng.randint(1, 200))
                    self._add(Obj("w", wid, tags, refs=ring))
                    self.buildings.append(wid)
                elif u < 0.7:
                    ring = [self._nid(i, j), self._nid(i, j + 1), self._nid(i + 1, j + 1),
                            self._nid(i + 1, j), self._nid(i, j)]
                    wid += 1
                    self._add(Obj("w", wid, {"landuse": rng.choice(("grass", "meadow"))},
                                  refs=ring))
        # multipolygons with holes on 7x7-node blocks: outer ring on the
        # block border, inner ring one cell inside it (both untagged)
        rid = 2 * 10**6
        for i in range(0, g - 7, 9):
            for j in range(4, g - 7, 11):
                if srng.random() < 0.5:
                    continue
                outer = self._ring(i, j, 6)
                inner = self._ring(i + 2, j + 2, 2)
                ow, iw = wid + 1, wid + 2
                wid += 2
                self._add(Obj("w", ow, {}, refs=outer))
                self._add(Obj("w", iw, {}, refs=inner))
                rid += 1
                self._add(Obj("r", rid, {"type": "multipolygon",
                                         "natural" if rng.random() < 0.5 else "landuse":
                                         rng.choice(("wood", "forest", "water"))},
                              members=[("w", ow, "outer"), ("w", iw, "inner")]))
        # route relations: a handful of street segments + stop nodes
        street_pool = list(self.streets)
        for _ in range(max(2, g // 8)):
            ways = srng.sample(street_pool, min(5, len(street_pool)))
            stops = []
            for w in ways[:3]:
                stops.append(self.ways[w].refs[0])
            rid += 1
            self._add(Obj("r", rid, {"type": "route", "route": "bus",
                                     "name": f"Line {rid % 100}"},
                          members=[("n", s, "stop") for s in stops]
                          + [("w", w, "") for w in ways]))
            self.routes.append(rid)
            self.stops.extend(stops)
        # boundary relations: the grid border split into four open ways
        for k in range(max(1, g // 40)):
            lo, hi = k, g - 1 - k
            if hi - lo < 4:
                break
            corners = [(lo, lo), (lo, hi), (hi, hi), (hi, lo), (lo, lo)]
            members = []
            for (a, b), (c, d) in zip(corners, corners[1:]):
                refs = self._segment(a, b, c, d)
                wid += 1
                self._add(Obj("w", wid, {}, refs=refs))
                members.append(("w", wid, "outer"))
            rid += 1
            self._add(Obj("r", rid, {"type": "boundary", "boundary": "administrative",
                                     "admin_level": str(8 + k), "name": f"District {k}"},
                          members=members))

    def _ring(self, i: int, j: int, n: int) -> list[int]:
        pts = ([(i, j + c) for c in range(n)] + [(i + r, j + n) for r in range(n)]
               + [(i + n, j + n - c) for c in range(n)] + [(i + n - r, j) for r in range(n)])
        return [self._nid(a, b) for a, b in pts] + [self._nid(i, j)]

    def _segment(self, a: int, b: int, c: int, d: int) -> list[int]:
        n = max(abs(c - a), abs(d - b))
        return [self._nid(a + (c - a) * t // n, b + (d - b) * t // n) for t in range(n + 1)]

    # ------------------------------------------------------------ output
    def counts(self) -> dict:
        return {"nodes": len(self.nodes), "ways": len(self.ways), "rels": len(self.rels)}

    def objects(self) -> int:
        return len(self.nodes) + len(self.ways) + len(self.rels)

    def write_opl(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for table in (self.nodes, self.ways, self.rels):
                for oid in sorted(table):
                    fh.write(table[oid].opl() + "\n")

    def expected_rows(self) -> dict:
        """Row count of each generic-style output table for the current
        state (the style's rules restricted to the tags emitted here)."""
        out = {"points": 0, "lines": 0, "polygons": 0, "routes": 0, "boundaries": 0}
        for n in self.nodes.values():
            out["points"] += bool(_clean(n.tags))
        for w in self.ways.values():
            tags = _clean(w.tags)
            if not tags:
                continue
            closed = len(w.refs) >= 4 and w.refs[0] == w.refs[-1]
            out["polygons" if closed and any(k in tags for k in AREA_KEYS) else "lines"] += 1
        for r in self.rels.values():
            tags = _clean(r.tags)
            rtype = tags.pop("type", None)
            if not tags:
                continue
            if rtype == "route":
                out["routes"] += 1
            elif rtype == "boundary" or (rtype == "multipolygon" and "boundary" in tags):
                out["boundaries"] += 1
            elif rtype == "multipolygon":
                out["polygons"] += 1
        return out

    # -------------------------------------------------------------- diffs
    def _moved(self, n: Obj) -> Obj:
        """n re-jittered around its home position, so repeated moves
        never drift far enough to fold a ring over itself."""
        rng = self.rng
        lon, lat = self.home[n.id]
        return Obj("n", n.id, dict(n.tags), n.version + 1,
                   lon=_coord(lon + rng.uniform(-JITTER, JITTER)),
                   lat=_coord(lat + rng.uniform(-JITTER, JITTER)))

    def make_diff(self, n_moves: int) -> tuple[str, list[dict]]:
        """One .osc document; applies it to the state.  Returns the XML
        and the moved nodes' (old, new) positions for the expiry check."""
        rng = self.rng
        ops: dict[str, list[Obj]] = {"create": [], "modify": [], "delete": []}
        moves = []
        used: set = set()

        def pick(pool: list[int], kind: str) -> int | None:
            for _ in range(50):
                oid = rng.choice(pool)
                if (kind, oid) not in used:
                    used.add((kind, oid))
                    return oid
            return None

        # node moves: street nodes (propagate through way refs and, via
        # those ways, route relations) plus one route stop node
        # (propagates through a relation node member)
        for k in range(n_moves):
            if k == 0 and self.stops:
                nid = pick(self.stops, "n")
            else:
                w = self.ways[rng.choice(self.streets)]
                nid = pick(w.refs, "n")
            if nid is None or nid not in self.nodes:
                continue
            old = self.nodes[nid]
            new = self._moved(old)
            moves.append({"id": nid, "old": (old.lon, old.lat), "new": (new.lon, new.lat)})
            ops["modify"].append(new)
        # way tag edits: a street's class/name, a building's type
        for pool, edit in ((self.streets, "highway"), (self.buildings, "building")):
            wid = pick(pool, "w")
            if wid is None or wid not in self.ways:
                continue
            w = self.ways[wid]
            tags = dict(w.tags)
            if edit == "highway":
                tags["highway"] = rng.choice(HIGHWAYS)
                tags["name"] = f"{rng.choice(STREET_NAMES)} Road {wid % 97}"
            else:
                tags["building"] = rng.choice(("yes", "house", "garage", "shed"))
            ops["modify"].append(Obj("w", wid, tags, w.version + 1, refs=list(w.refs)))
        # creates: a POI, and a service road from two new nodes to an
        # existing street node
        anchor = self.nodes[rng.choice(self.ways[rng.choice(self.streets)].refs)]
        new_nodes = []
        for _ in range(3):
            k, v = rng.choice(POI_TAGS)
            new_nodes.append(Obj("n", self._new_id("n"), {k: v} if not new_nodes else {},
                                 lon=_coord(anchor.lon + rng.uniform(-2, 2) * STEP),
                                 lat=_coord(anchor.lat + rng.uniform(-2, 2) * STEP)))
        road = Obj("w", self._new_id("w"), {"highway": "service"},
                   refs=[new_nodes[1].id, new_nodes[2].id, anchor.id])
        ops["create"].extend(new_nodes + [road])
        # deletes: an unreferenced POI, a building way, a route relation
        poi = pick(self.pois, "n")
        if poi is not None and poi in self.nodes:
            ops["delete"].append(self.nodes[poi])
            self.pois.remove(poi)
        bld = pick(self.buildings, "w") if len(self.buildings) > 1 else None
        if bld is not None:
            ops["delete"].append(self.ways[bld])
            self.buildings.remove(bld)
        self.n_diffs += 1
        if len(self.routes) > 1 and self.n_diffs % 2 == 0:
            rid = self.routes.pop(rng.randrange(len(self.routes)))
            ops["delete"].append(self.rels[rid])

        # apply to the state
        for o in ops["create"] + ops["modify"]:
            self._add(o)
        self.streets.append(road.id)
        for o in ops["delete"]:
            del {"n": self.nodes, "w": self.ways, "r": self.rels}[o.kind][o.id]

        body = ["<?xml version='1.0' encoding='UTF-8'?>", '<osmChange version="0.6">']
        for op in ("create", "modify", "delete"):
            if not ops[op]:
                continue
            items = sorted(ops[op], key=lambda o: ("nwr".index(o.kind), o.id))
            if op == "delete":
                items = [Obj(o.kind, o.id, {}, o.version + 1, lon=o.lon, lat=o.lat)
                         if o.kind == "n" else Obj(o.kind, o.id, {}, o.version + 1)
                         for o in items]
            body.append(f"<{op}>")
            body.extend(o.xml() for o in items)
            body.append(f"</{op}>")
        body.append("</osmChange>")
        return "\n".join(body) + "\n", moves


def write_osm_inputs(seed: int, grid: int, n_diffs: int, n_moves: int, out_dir: str) -> dict:
    """Write base.opl, diff_NNN.osc and post.opl under out_dir; return
    the manifest (object counts, expected table rows before and after,
    moved nodes per diff)."""
    os.makedirs(out_dir, exist_ok=True)
    world = OsmWorld(seed, grid)
    world.write_opl(os.path.join(out_dir, "base.opl"))
    manifest = {"seed": seed, "grid": grid, "objects": world.objects(),
                "counts": world.counts(), "expected_rows": world.expected_rows(),
                "diffs": []}
    for k in range(n_diffs):
        xml, moves = world.make_diff(n_moves)
        path = os.path.join(out_dir, f"diff_{k:03d}.osc")
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(xml)
        manifest["diffs"].append({"path": path, "objects": xml.count(" version="),
                                  "moves": moves})
    world.write_opl(os.path.join(out_dir, "post.opl"))
    manifest["post_expected_rows"] = world.expected_rows()
    manifest["post_objects"] = world.objects()
    with open(os.path.join(out_dir, "manifest.json"), "w", encoding="utf-8") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    return manifest


# ------------------------------------------------------------ testdata

WORDS = ("join hash row batch scan column customer filter small slow merge order "
         "vector line table data agg value key stream window a spark part group "
         "big sort query fast the").split()
LANGS = (("en", 0.44), ("zh", 0.14), ("es", 0.14), ("de", 0.14), ("fr", 0.14))


def write_testdata(seed: int, sf: float, out_dir: str) -> dict:
    """The analytics corpus at scale factor sf (lineitem ~= 6e6 * sf
    rows), one parquet file per table.  Returns the row counts."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    rs = np.random.default_rng(seed)
    n_orders = int(1_500_000 * sf)
    n_cust = int(150_000 * sf)
    n_part = int(200_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_events = int(1_000_000 * sf)
    n_docs = max(100, int(50_000 * sf))
    n_vec = max(200, int(20_000 * sf))
    n_users = max(20, int(15_000 * sf))
    us_day = 86_400 * 1_000_000
    base_1995 = 788_918_400 * 1_000_000   # 1995-01-01 in epoch us
    base_2024 = 1_704_067_200 * 1_000_000  # 2024-01-01

    def write(name: str, cols: dict) -> int:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))
        return len(next(iter(cols.values())))

    def ts(us) -> pa.Array:
        return pa.array(np.asarray(us, dtype="int64"), type=pa.timestamp("us"))

    rows = {}
    rows["region"] = write("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    rows["nation"] = write("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"])
    rows["customer"] = write("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rs.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rs.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rs.integers(0, 5, n_cust)]})
    rows["supplier"] = write("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rs.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rs.uniform(-999.99, 9999.99, n_supp), 2)})
    adj = ["small", "red", "blue", "hot", "cold", "large", "new", "old"]
    noun = ["ring", "widget", "bolt", "gear", "anvil", "gizmo", "plate", "rod"]
    ptypes = np.array(["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"])
    rows["part"] = write("part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rs.integers(0, 8, n_part), rs.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rs.integers(1, 26, n_part)],
        "p_type": ptypes[rs.integers(0, 6, n_part)],
        "p_size": pa.array(rs.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})
    o_date = base_1995 + rs.integers(0, 2404, n_orders) * us_day
    rows["orders"] = write("orders", {
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rs.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": np.array(["P", "F", "O"])[rs.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rs.uniform(1000.0, 500000.0, n_orders), 2),
        "o_orderdate": ts(o_date),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rs.integers(0, 5, n_orders)]})
    n_lines = int(6_000_000 * sf)
    okey = rs.integers(0, n_orders, n_lines)
    order = np.argsort(okey, kind="stable")
    lnum = np.empty(n_lines, dtype=np.int32)
    sorted_keys = okey[order]
    starts = np.r_[0, np.flatnonzero(np.diff(sorted_keys)) + 1]
    run = np.arange(n_lines) - np.repeat(starts, np.diff(np.r_[starts, n_lines]))
    lnum[order] = (run % 7 + 1).astype(np.int32)
    qty = rs.integers(1, 51, n_lines).astype(float)
    rows["lineitem"] = write("lineitem", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rs.integers(0, n_part, n_lines), pa.int64()),
        "l_suppkey": pa.array(rs.integers(0, n_supp, n_lines), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rs.uniform(900.0, 2100.0, n_lines), 2),
        "l_discount": np.round(rs.integers(0, 11, n_lines) * 0.01, 2),
        "l_tax": np.round(rs.integers(0, 9, n_lines) * 0.01, 2),
        "l_returnflag": np.array(["R", "A", "N"])[rs.integers(0, 3, n_lines)],
        "l_linestatus": np.array(["O", "F"])[rs.integers(0, 2, n_lines)],
        "l_shipdate": ts(base_1995 + rs.integers(1, 2499, n_lines) * us_day)})
    ev_ts = np.sort(base_2024 + rs.integers(0, 30 * us_day, n_events))
    rows["events"] = write("events", {
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": ts(ev_ts),
        "user_id": pa.array(rs.integers(0, n_users, n_events), pa.int64()),
        "event_type": np.array(["signup", "error", "click", "view", "purchase"])[
            rs.integers(0, 5, n_events)],
        "value": np.round(np.clip(rs.exponential(50.0, n_events), 0.01, None), 2),
        "props": [f'{{"k": {k}}}' for k in rs.integers(0, 100, n_events)]})
    texts: list[str] = []
    for i in range(n_docs):
        if i > 20 and rs.random() < 0.05:
            texts.append(texts[int(rs.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(WORDS[w] for w in rs.integers(0, len(WORDS),
                                                               int(rs.integers(8, 90)))))
    langs = [lang for lang, _ in LANGS]
    rows["documents"] = write("documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(langs)[rs.choice(5, n_docs, p=[p for _, p in LANGS])],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    centers = rs.normal(0.0, 1.0, (10, 64))
    label = rs.integers(0, 10, n_vec)
    vec = centers[label] + rs.normal(0.0, 0.9, (n_vec, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    rows["embeddings"] = write("embeddings", {
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})
    return rows
