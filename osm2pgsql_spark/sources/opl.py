"""OPL ("object per line") reader — the OSM debug/fixture format.

The reference consumes OPL through libosmium for its BDD fixtures
(e.g. /root/reference/tests/bdd/flex/area.feature:8-15 uses lines
like `w1 Tnatural=water,name=poly Nn1,n2,n4,n3,n1`).  Implementing
it lets reference test cases translate 1:1.

Format (fields space-separated, one-letter prefixes):
  n|w|r<id>  object type + id
  v<version> d<V|D> c<changeset> t<timestamp> i<uid> u<user>
  T<k>=<v>,<k>=<v>   tags (%-escaped)
  x<lon> y<lat>      node location
  N n<id>,n<id>,...  way node refs
  M <t><id>@<role>,...  relation members

The whole file is parsed on the driver, line by line, into three
lists that become the (nodes, ways, relations) trio through
createDataFrame.  Every job that reads the trio unpickles the whole
extract again in the JVM, so the import tool consumes it once, by the
middle write, and reads everything after that from the middle.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from osm2pgsql_spark.model import NODE_SCHEMA, RELATION_SCHEMA, WAY_SCHEMA


# OPL escapes one character as %<hex Unicode codepoint>% (variable
# width, e.g. %20% space, %0a% newline, %e4%/%10348% beyond ASCII) —
# the libosmium OPL format, NOT URL percent-encoding; '%' itself is
# %25%.  tests/bdd/flex/tags.feature pins the control-char cases.
_OPL_ESC = re.compile(r"%([0-9a-fA-F]{1,6})%")


def _unescape(s: str) -> str:
    if "%" not in s:
        return s
    return _OPL_ESC.sub(lambda m: chr(int(m.group(1), 16)), s)


def parse_opl_line(line: str) -> tuple[str, dict] | None:
    line = line.strip()
    if not line or line.startswith("#"):
        return None
    kind = line[0]
    if kind not in "nwr":
        return None
    obj: dict = {
        "tags": {},
        "version": None,
        "ts": None,
        "changeset": None,
        "uid": None,
        "user": None,
        "visible": None,
    }
    parts = line.split(" ")
    obj["id"] = int(parts[0][1:])
    for field in parts[1:]:
        if not field:
            continue
        c, rest = field[0], field[1:]
        if c == "v" and rest:
            obj["version"] = int(rest)
        elif c == "d":
            obj["visible"] = rest != "D"
        elif c == "c" and rest:
            obj["changeset"] = int(rest)
        elif c == "i" and rest:
            obj["uid"] = int(rest)
        elif c == "t" and rest:
            # ISO-8601 Zulu timestamp (OPL t-field)
            from datetime import datetime, timezone

            obj["ts"] = datetime.strptime(
                rest, "%Y-%m-%dT%H:%M:%SZ"
            ).replace(tzinfo=timezone.utc).replace(tzinfo=None)
        elif c == "u":
            obj["user"] = _unescape(rest)
        elif c == "T" and rest:
            for kv in rest.split(","):
                if "=" in kv:
                    k, v = kv.split("=", 1)
                    obj["tags"][_unescape(k)] = _unescape(v)
        elif c == "x" and rest:
            obj["lon"] = float(rest)
        elif c == "y" and rest:
            obj["lat"] = float(rest)
        elif c == "N" and rest:
            obj["refs"] = [int(r.lstrip("n")) for r in rest.split(",") if r]
        elif c == "M" and rest:
            members = []
            for m in rest.split(","):
                if not m:
                    continue
                body, _, role = m.partition("@")
                members.append(
                    {"type": body[0], "ref": int(body[1:]), "role": _unescape(role)}
                )
            obj["members"] = members
    return kind, obj


def read_opl(
    spark: SparkSession, source: str | list[str]
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Parse OPL text (a path or list of lines) into the
    (nodes, ways, relations) DataFrame trio."""
    if isinstance(source, str):
        from osm2pgsql_spark.sources.osm_xml import open_compressed

        with open_compressed(source, "rb") as fh:
            lines = fh.read().decode("utf-8").splitlines(keepends=True)
    else:
        lines = list(source)

    nodes, ways, rels = [], [], []
    for line in lines:
        parsed = parse_opl_line(line)
        if parsed is None:
            continue
        kind, o = parsed
        common = (
            o["tags"], o["version"], o["ts"], o["changeset"], o["uid"], o["user"], o["visible"],
        )
        if kind == "n":
            nodes.append((o["id"], o.get("lat"), o.get("lon"), *common))
        elif kind == "w":
            ways.append((o["id"], o.get("refs", []), *common))
        else:
            rels.append(
                (
                    o["id"],
                    [(m["type"], m["ref"], m["role"]) for m in o.get("members", [])],
                    *common,
                )
            )
    return (
        spark.createDataFrame(nodes, NODE_SCHEMA),
        spark.createDataFrame(ways, WAY_SCHEMA),
        spark.createDataFrame(rels, RELATION_SCHEMA),
    )


def grid_nodes(
    grid: str, origin: tuple[float, float] = (9.0, 50.3), cell: float = 0.1
) -> list[str]:
    """The BDD "grid" notation -> OPL node lines.

    A multi-line string where each token is a node id (or '.' for
    empty); row/column position determines lon/lat, mirroring
    tests/bdd/flex/area.feature:3-7.  Row 0 is the northernmost."""
    out = []
    rows = [r for r in grid.strip().splitlines()]
    for ry, row in enumerate(rows):
        for cx, tok in enumerate(row.split()):
            if tok == ".":
                continue
            nid = int(tok.lstrip("n"))
            lon = origin[0] + cx * cell
            lat = origin[1] - ry * cell
            out.append(f"n{nid} x{lon:.7f} y{lat:.7f}")
    return out
