"""OSM XML (.osm / .osc) reader.

Reference reads XML via libosmium (/root/reference/src/input.cpp:307-336
auto-detects format by suffix).  XML is not splittable, so this reader
parses driver-side (fine for extracts/changesets; planet-scale input
should use PBF or OPL).  .osc change files yield an extra `op` column
(create/modify/delete) per the <create>/<modify>/<delete> sections
(/root/reference/src/osmdata.cpp:55-70 semantics).
"""

from __future__ import annotations

import gzip
import xml.etree.ElementTree as ET
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession

from osm2pgsql_spark.model import trio_frames


def _attrs(el) -> tuple:
    ts = el.get("timestamp")
    return (
        int(el.get("version")) if el.get("version") else None,
        None if ts is None else datetime.fromisoformat(ts),
        int(el.get("changeset")) if el.get("changeset") else None,
        int(el.get("uid")) if el.get("uid") else None,
        el.get("user"),
        el.get("visible") != "false",
    )


def _tags(el) -> dict:
    return {t.get("k"): t.get("v") for t in el.findall("tag")}


def _parse(root, op: str | None):
    nodes, ways, rels = [], [], []
    for el in root:
        tag = el.tag
        if tag == "node":
            # libosmium stores locations fixed-point at 1e-7 degrees
            # (reference src/osmtypes.hpp:31 via osmium::Location);
            # quantizing here reproduces its coordinates bit-for-bit,
            # which matters when tests pin areas to the square meter.
            lat, lon = el.get("lat"), el.get("lon")
            row = (
                int(el.get("id")),
                round(float(lat) * 1e7) / 1e7 if lat else None,
                round(float(lon) * 1e7) / 1e7 if lon else None,
                _tags(el),
                *_attrs(el),
            )
            nodes.append(row if op is None else (*row, op))
        elif tag == "way":
            row = (
                int(el.get("id")),
                [int(nd.get("ref")) for nd in el.findall("nd")],
                _tags(el),
                *_attrs(el),
            )
            ways.append(row if op is None else (*row, op))
        elif tag == "relation":
            row = (
                int(el.get("id")),
                [
                    (m.get("type")[0], int(m.get("ref")), m.get("role") or "")
                    for m in el.findall("member")
                ],
                _tags(el),
                *_attrs(el),
            )
            rels.append(row if op is None else (*row, op))
    return nodes, ways, rels


def open_compressed(path: str, mode: str = "rb"):
    """Open a possibly-compressed OSM file.  libosmium resolves the
    compression from the filename suffix (.gz via zlib, .bz2 via
    libbz2 — reference vendored libosmium io/compression handling);
    here the stdlib gzip/bz2 modules cover the same two formats."""
    if path.endswith(".gz"):
        return gzip.open(path, mode)
    if path.endswith(".bz2"):
        import bz2

        return bz2.open(path, mode)
    return open(path, mode)


def _parse_root(path: str):
    if path.endswith((".gz", ".bz2")):
        with open_compressed(path, "rb") as fh:
            return ET.parse(fh).getroot()
    return ET.parse(path).getroot()


def read_osm_xml(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Parse a .osm(.gz/.bz2) file into the (nodes, ways, relations) trio."""
    return trio_frames(spark, *_parse(_parse_root(path), op=None))


def read_osc_xml(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Parse a .osc(.gz/.bz2) change file; each DataFrame carries `op`
    and `op_seq` (document order, so apply_diff can keep the LAST op
    per id: the reference applies ops sequentially,
    src/osmdata.cpp:55-70)."""
    root = _parse_root(path)
    all_nodes, all_ways, all_rels = [], [], []
    for section in root:
        op = {"create": "create", "modify": "modify", "delete": "delete"}.get(section.tag)
        if op is None:
            continue
        n, w, r = _parse(section, op=op)
        all_nodes.extend(n)
        all_ways.extend(w)
        all_rels.extend(r)
    return trio_frames(spark, all_nodes, all_ways, all_rels, change=True)
