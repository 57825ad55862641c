"""Tag-transform expression library — the engine's cast + z_order
semantics, compiled to JVM-side Catalyst expressions (no Python UDFs:
these run per-object on every input row, the hottest path after the
scan itself).

Semantics mirrored from the reference:
- z_order / roads flag:  /root/reference/src/tagtransform-c.cpp:28-89
- boolean cast:          /root/reference/src/flex-write.cpp:53-69
  ("yes"/"true"/"1" -> true, "no"/"false"/"0" -> false, else NULL)
- direction cast:        /root/reference/src/flex-write.cpp:71-90
  ("yes"/"1" -> 1, "no"/"0" -> 0, "-1" -> -1, else NULL)
- integer cast:          /root/reference/src/flex-write.cpp:92-117
  (strict integer parse, range check per width, else NULL)
- get_bool on tags:      /root/reference/src/osmtypes.hpp:162-177
- wildcard key match:    /root/reference/src/wildcmp.cpp (glob ->
  anchored regex here)
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# (highway value, z_order offset, roads flag) —
# /root/reference/src/tagtransform-c.cpp:28-43
HIGHWAY_LAYERS: list[tuple[str, int, bool]] = [
    ("proposed", 1, False),
    ("construction", 2, False),
    ("steps", 10, False),
    ("cycleway", 10, False),
    ("bridleway", 10, False),
    ("footway", 10, False),
    ("path", 10, False),
    ("track", 11, False),
    ("service", 15, False),
    ("tertiary_link", 24, False),
    ("secondary_link", 25, True),
    ("primary_link", 27, True),
    ("trunk_link", 28, True),
    ("motorway_link", 29, True),
    ("raceway", 30, False),
    ("pedestrian", 31, False),
    ("living_street", 32, False),
    ("road", 33, False),
    ("unclassified", 33, False),
    ("residential", 33, False),
    ("tertiary", 34, False),
    ("secondary", 36, True),
    ("primary", 37, True),
    ("trunk", 38, True),
    ("motorway", 39, True),
]


def cast_boolean(v: Column) -> Column:
    return (
        F.when(v.isin("yes", "true", "1"), F.lit(True))
        .when(v.isin("no", "false", "0"), F.lit(False))
        .otherwise(F.lit(None).cast("boolean"))
    )


def tag_bool(v: Column, default: bool = False) -> Column:
    """taglist get_bool with default (src/osmtypes.hpp:162-177):
    missing/unrecognized values keep the default."""
    if default:
        return F.when(v.isin("no", "false", "0"), F.lit(False)).otherwise(F.lit(True))
    return F.when(v.isin("yes", "true", "1"), F.lit(True)).otherwise(F.lit(False))


def cast_direction(v: Column) -> Column:
    return (
        F.when(v.isin("yes", "1"), F.lit(1))
        .when(v.isin("no", "0"), F.lit(0))
        .when(v == "-1", F.lit(-1))
        .otherwise(F.lit(None).cast("int"))
        .cast("smallint")
    )


_INT_RANGES = {"int2": 15, "int4": 31, "int8": 63}


def cast_integer(v: Column, width: str = "int8") -> Column:
    """Strict parse + range check -> NULL on failure/overflow
    (src/flex-write.cpp:92-117).  `v` is a string column."""
    bits = _INT_RANGES[width]
    lo, hi = -(1 << bits), (1 << bits) - 1
    parsed = F.when(v.rlike(r"^[+-]?\d+$"), v.cast("decimal(38,0)"))
    in_range = (parsed >= F.lit(lo)) & (parsed <= F.lit(hi))
    target = {"int2": "smallint", "int4": "int", "int8": "bigint"}[width]
    return F.when(in_range, parsed.cast(target)).otherwise(F.lit(None).cast(target))


def cast_double(v: Column) -> Column:
    """strtod-style: full-string numeric parse else NULL
    (src/flex-write.cpp:119-138)."""
    return F.when(
        v.rlike(r"^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$"), v.cast("double")
    ).otherwise(F.lit(None).cast("double"))


def _by_highway(highway: Column, values: dict) -> Column:
    """values[highway] as one literal-map lookup, null for other
    values.  One reference to `highway`: a per-class `when` chain
    copies the highway expression (often a whole tag-map expression)
    into every branch once Catalyst inlines it."""
    return F.create_map(*[F.lit(x) for kv in values.items() for x in kv])[highway]


def z_order(
    highway: Column,
    layer: Column | None = None,
    bridge: Column | None = None,
    tunnel: Column | None = None,
    railway: Column | None = None,
) -> Column:
    """z_order per the reference algorithm
    (src/tagtransform-c.cpp:45-89): 100*layer + highway offset
    + 35 if railway + 100 bridge - 100 tunnel."""
    z: Column = F.lit(0)
    if layer is not None:
        z = z + F.coalesce(cast_integer(layer, "int4"), F.lit(0)) * 100
    offset = {name: off for name, off, _roads in HIGHWAY_LAYERS}
    z = z + F.coalesce(_by_highway(highway, offset), F.lit(0))
    if railway is not None:
        z = z + F.when(railway.isNotNull() & (railway != ""), F.lit(35)).otherwise(F.lit(0))
    if bridge is not None:
        z = z + F.when(tag_bool(bridge), F.lit(100)).otherwise(F.lit(0))
    if tunnel is not None:
        z = z - F.when(tag_bool(tunnel), F.lit(100)).otherwise(F.lit(0))
    return z.cast("int").alias("z_order")


def roads_flag(highway: Column, railway: Column | None = None, boundary: Column | None = None) -> Column:
    """The legacy 'roads table' membership flag
    (src/tagtransform-c.cpp:59-77)."""
    is_road = {name: road for name, _off, road in HIGHWAY_LAYERS}
    r = F.coalesce(_by_highway(highway, is_road), F.lit(False))
    if railway is not None:
        r = F.when(railway.isNotNull() & (railway != ""), F.lit(True)).otherwise(r)
    if boundary is not None:
        r = F.when(boundary == "administrative", F.lit(True)).otherwise(r)
    return r


def glob_to_regex(pattern: str) -> str:
    """Reference wildcard matcher (src/wildcmp.cpp) supports '*' and
    '?'; translate to an anchored regex for rlike."""
    out = []
    for ch in pattern:
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        else:
            out.append(re.escape(ch))
    return "^" + "".join(out) + "$"


def filter_tags(tags: Column, keep_keys: list[str] | None = None, delete_patterns: list[str] | None = None) -> Column:
    """Style-file tag filtering on a MAP column
    (src/tagtransform-c.cpp:108-221): drop keys matching delete
    wildcards; if keep_keys given, keep only those."""
    col = tags
    if delete_patterns:
        rx = "|".join(glob_to_regex(p) for p in delete_patterns)
        col = F.map_filter(col, lambda k, _v: ~k.rlike(rx))
    if keep_keys is not None:
        keep = F.array(*[F.lit(k) for k in keep_keys])
        col = F.map_filter(col, lambda k, _v: F.array_contains(keep, k))
    return col
