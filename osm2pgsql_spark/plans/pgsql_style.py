"""Style-driven legacy pgsql output (``-O pgsql``): the reference's
table writer plus its built-in C tag transform, on Catalyst.

``planet_tables`` is the one writer of planet_osm_{point,line,polygon,
roads}.  A tag transform only routes tags: it hands the writer, per
kept object, its out-tags and its polygon/line/roads routing.  Two
transforms feed it: the built-in C transform here
(``planet_tables_styled``) and a user Lua script
(plans/tagtransform.py, ``planet_tables_lua``).

The C transform is driven by a parsed style file
(``style_file.ExportList``):

- per-key keep/delete routing incl. delete wildcards, hstore
  fall-through, ``--hstore-match-only``, ``natural=coastline``
  area-forcing (src/tagtransform-c.cpp:107-221);
- the polygon decision from accumulated FLAG_POLYGON entry flags and
  the ``area`` tag via ``value_to_bool``
  (src/tagtransform-c.cpp:200-213,
  src/osmtypes.hpp:162-177);
- relation routing for type=route/boundary/multipolygon with the
  synthetic route tags (route_name, lcn/rcn/ncn/lwn/rwn/nwn + state,
  route_pref_color, ``*_ref``) and the boundary-vs-polygon decision
  (src/tagtransform-c.cpp:223-343).

The writer owns the rest (output-pgsql.cpp, table.cpp):

- typed columns with the exact INT (``sscanf("%18lld-%18lld")`` with
  range means) and REAL (comma repair, ``ft`` conversion, range mean)
  escapes (src/table.cpp:358-430);
- hstore ``tags`` column in norm/all modes and prefix hstore columns
  (src/table.cpp:285-345);
- way rows: polygon when closed+flagged (invalid rings drop the row),
  otherwise lines segmentized at 1 degree / 100 km and split into one
  row per piece (src/output-pgsql.cpp:89-123);
- relation polygon parts and merged member lines
  (src/output-pgsql.cpp:239-321).

Tag routing is pure Catalyst column expressions over the tags MAP; the
Arrow kernels involved are the shared geometry ones (polygon assembly,
segmentize) reused from the flex path, and ``g_format``.

FLAG_PHSTORE entries behave as nocolumn+polygon (the reference's flag
aliasing, taginfo-impl.hpp:30-31), and in hstore mode 'all' polygon
rows carry the synthetic ``way_area`` tag in the tags hstore with the
reference's ``{:g}`` formatting (output-pgsql.cpp:100-104 +
table.cpp:305-320).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from osm2pgsql_spark.functions import tags as TG
from osm2pgsql_spark.operators import assembly
from osm2pgsql_spark.plans.style_file import (
    FLAG_DELETE,
    FLAG_INT_TYPE,
    FLAG_POLYGON,
    FLAG_REAL_TYPE,
    ExportList,
)

_INT4_MIN = -2147483648
_INT4_MAX = 2147483647

# strtod-ish float token for the REAL escape (common forms; the C
# %lf would additionally accept inf/nan/hex floats, which never
# appear as OSM measurement values)
_FLOAT_RX = r"[+-]?(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?"


_G_FORMAT_UDF = None


def g_format(v: Column) -> Column:
    """C printf ``%g`` of a double (fmt ``{:g}``, the reference's
    util::double_to_buffer_t): 6 significant digits, trailing zeros
    stripped, scientific outside [1e-4, 1e6).  Python's %g is the C
    one, so this Arrow kernel is an exact twin.  (Lazily built: a
    pandas_udf needs an active session to parse its schema.)"""
    global _G_FORMAT_UDF
    if _G_FORMAT_UDF is None:
        @F.pandas_udf("string")
        def _g(s):
            return s.map(
                lambda x: None if x is None or x != x else "%g" % x)

        _G_FORMAT_UDF = _g
    return _G_FORMAT_UDF(v)


def int4_escape(v: Column) -> Column:
    """INT column conversion (table.cpp:362-387): the first number,
    or the truncating mean of an ``a-b`` range, NULL when out of int4
    range or unparseable.  Twin of ``sscanf("%18lld-%18lld")``: at
    most 18 chars (sign included) per number, the range dash must
    immediately follow the consumed chars."""
    ws = F.regexp_extract(v, r"^(\s*)", 1)
    full1 = F.regexp_extract(v, r"^\s*([+-]?\d+)", 1)
    t1 = F.substring(full1, 1, 18)
    n1 = t1.cast("long")
    # the range dash must follow the consumed chars (at most 18)
    offset = (F.length(ws) + F.length(t1)).cast("int")
    rest = F.substr(v, offset + F.lit(1))
    full2 = F.regexp_extract(rest, r"^-\s*([+-]?\d+)", 1)
    t2 = F.substring(full2, 1, 18)
    n2 = t2.cast("long")

    def in_range(x: Column) -> Column:
        return (x >= F.lit(_INT4_MIN)) & (x <= F.lit(_INT4_MAX))

    # C mean with truncating division: from/2 + to/2 + (from%2 + to%2)/2
    mean = (
        _tdiv2(n1) + _tdiv2(n2) + _tdiv2((n1 % F.lit(2)) + (n2 % F.lit(2)))
    )
    one = F.when(in_range(n1), n1.cast("int"))
    both = F.when(in_range(mean), mean.cast("int"))
    return (
        F.when(full1 == "", F.lit(None).cast("int"))
        .when(full2 == "", one)
        .otherwise(both)
    )


def _tdiv2(x: Column) -> Column:
    """C integer division by 2: truncation toward zero, exact on
    longs.  Arithmetic shift floors, so negative odd values get +1
    first: trunc(x/2) == (x + ((x>>63)&1)) >> 1."""
    return F.shiftright(x + F.shiftright(x, 63).bitwiseAND(F.lit(1)), 1)


def real_escape(v: Column) -> Column:
    """REAL column conversion (table.cpp:388-414): ',' repaired to
    '.', first number or mean of an ``a-b`` range, trailing ``ft``
    converts feet to meters, otherwise NULL.  Kept as float (the PG
    column is ``real``)."""
    esc = F.replace(v, F.lit(","), F.lit("."))
    ws = F.regexp_extract(esc, r"^(\s*)", 1)
    full1 = F.regexp_extract(esc, r"^\s*(" + _FLOAT_RX + r")", 1)
    offset = (F.length(ws) + F.length(full1)).cast("int")
    rest = F.substr(esc, offset + F.lit(1))
    full2 = F.regexp_extract(rest, r"^-\s*(" + _FLOAT_RX + r")", 1)
    f1 = full1.cast("double")
    f2 = full2.cast("double")
    ft = (F.length(esc) > 1) & esc.endswith("ft")
    f1c = F.when(ft, f1 * F.lit(0.3048)).otherwise(f1)
    f2c = F.when(ft, f2 * F.lit(0.3048)).otherwise(f2)
    out = (
        F.when(full1 == "", F.lit(None).cast("double"))
        .when(full2 == "", f1c)
        .otherwise((f1c + f2c) / F.lit(2.0))
    )
    return out.cast("float")


class StylePlan:
    """Precomputed, order-resolved view of an ExportList plus the
    hstore options — everything the Catalyst expressions need, fixed
    at plan time on the driver."""

    def __init__(
        self,
        exlist: ExportList,
        *,
        hstore_mode: str = "none",  # none | norm | all
        hstore_columns: tuple[str, ...] = (),
        hstore_match_only: bool = False,
        keep_coastlines: bool = False,
        enable_way_area: bool = True,
    ) -> None:
        import re as _re

        if hstore_mode not in ("none", "norm", "all"):
            raise ValueError(f"unknown hstore mode {hstore_mode!r}")
        # --hstore-match-only is only meaningful with hstore output
        # (command-line-parser.cpp:189-192 silently clears it)
        if hstore_mode == "none" and not hstore_columns:
            hstore_match_only = False
        self.exlist = exlist
        self.hstore_mode = hstore_mode
        self.hstore_columns = tuple(hstore_columns)
        self.hstore_match_only = hstore_match_only
        self.keep_coastlines = keep_coastlines
        self.enable_way_area = enable_way_area

        self._kind: dict[str, dict] = {}
        for kind in ("node", "way"):
            entries = exlist.get(kind)
            deletes: list[tuple[int, str]] = []  # (index, pattern)
            first_keep: dict[str, tuple[int, int]] = {}  # name -> (idx, flags)
            for idx, info in enumerate(entries):
                if info.flags & FLAG_DELETE:
                    deletes.append((idx, info.name))
                elif info.name not in first_keep:
                    first_keep[info.name] = (idx, info.flags)
            # check_key scans entries in order; resolve statically
            # which exact names are kept vs beaten by an earlier
            # delete pattern (tagtransform-c.cpp:107-127)
            del_rx = [
                (di, _re.compile(TG.glob_to_regex(pat))) for di, pat in deletes
            ]
            kept_names: list[str] = []
            kept_flags: dict[str, int] = {}
            for name, (idx, flags) in first_keep.items():
                beaten = any(di < idx and rx.match(name) for di, rx in del_rx)
                if not beaten:
                    kept_names.append(name)
                    kept_flags[name] = flags
            self._kind[kind] = {
                "kept_names": kept_names,
                "polygon_names": [
                    n for n in kept_names if kept_flags[n] & FLAG_POLYGON
                ],
                "delete_rx": "|".join(
                    TG.glob_to_regex(p) for _, p in deletes
                ),
                "columns": exlist.normal_columns(kind),
            }

    # ---- per-key routing (check_key, tagtransform-c.cpp:107-149) ----

    def _key_state(self, kind: str, k: Column) -> tuple[Column, Column]:
        info = self._kind[kind]
        kept = k.isin(info["kept_names"]) if info["kept_names"] else F.lit(False)
        if info["delete_rx"]:
            deleted = ~kept & k.rlike(info["delete_rx"])
        else:
            deleted = F.lit(False)
        return kept, deleted

    def _unmatched_tag_kept(self, k: Column) -> Column:
        """An unmatched key still lands in out-tags when hstore output
        wants it (check_key's fall-through)."""
        if self.hstore_mode != "none":
            return F.lit(True)
        keep = F.lit(False)
        for p in self.hstore_columns:
            keep = keep | k.startswith(p)
        return keep

    def _unmatched_keeps_object(self, k: Column) -> Column:
        """...but only counts as a reason to keep the OBJECT when
        --hstore-match-only is off."""
        if self.hstore_match_only:
            return F.lit(False)
        return self._unmatched_tag_kept(k)

    # ---- object-level filter (filter_tags, tagtransform-c.cpp:152-221) ----

    def filter_tags(
        self, tags: Column, kind: str, *, is_relation: bool = False
    ) -> dict[str, Column]:
        """Returns {'out_tags', 'keep', 'polygon', 'has_coastline'}
        column expressions over a tags MAP column.  ``kind`` selects
        the export list ('way' for relations, like the reference)."""

        def coastline(k: Column, v: Column) -> Column:
            return (k == "natural") & (v == "coastline")

        def tag_kept(k: Column, v: Column) -> Column:
            kept, deleted = self._key_state(kind, k)
            base = kept | (~deleted & self._unmatched_tag_kept(k))
            out = base
            if not self.keep_coastlines:
                out = ~coastline(k, v) & out
            if is_relation:
                out = out | (k == "type")
            return out

        def tag_keeps_object(k: Column, v: Column) -> Column:
            kept, deleted = self._key_state(kind, k)
            base = kept | (~deleted & self._unmatched_keeps_object(k))
            out = base
            # natural=coastline is skipped before check_key unless
            # --keep-coastlines, so it never keeps the object
            if not self.keep_coastlines:
                out = ~coastline(k, v) & out
            if is_relation:
                out = (k != "type") & out
            return out

        info = self._kind[kind]
        poly_names = info["polygon_names"]

        def tag_polygon_flag(k: Column, v: Column) -> Column:
            if not poly_names:
                return F.lit(False)
            hit = k.isin(poly_names)
            if not self.keep_coastlines:
                hit = ~coastline(k, v) & hit
            return hit

        out_tags = F.map_filter(tags, tag_kept)
        has_coastline = F.exists(
            F.map_entries(tags), lambda e: coastline(e["key"], e["value"])
        )
        # add_area_tag: force area=yes into out-tags for coastlines
        out_tags = F.when(
            has_coastline & ~F.map_contains_key(out_tags, "area"),
            F.map_concat(out_tags, F.create_map(F.lit("area"), F.lit("yes"))),
        ).otherwise(out_tags)

        flags_polygon = F.exists(
            F.map_entries(tags), lambda e: tag_polygon_flag(e["key"], e["value"])
        )
        area = tags["area"]
        # taglist_t::value_to_bool(area, flags & FLAG_POLYGON)
        polygon = (
            F.when(has_coastline, F.lit(True))
            .when(area.isNull(), flags_polygon)
            .when(~flags_polygon & area.isin("yes", "true", "1"), F.lit(True))
            .when(flags_polygon & area.isin("no", "false", "0"), F.lit(False))
            .otherwise(flags_polygon)
        )
        keep = F.exists(
            F.map_entries(tags), lambda e: tag_keeps_object(e["key"], e["value"])
        )
        return {
            "out_tags": out_tags,
            "keep": keep,
            "polygon": polygon,
            "has_coastline": has_coastline,
        }

    # ---- table columns ----

    def data_columns(
        self,
        ot: Column,
        kind: str,
        *,
        z_order: Column | None = None,
        way_area: Column | None = None,
    ) -> list[Column]:
        """The typed normal columns in style-file order; the engine
        supplies z_order / way_area values directly instead of
        round-tripping them through tag strings."""
        cols: list[Column] = []
        for info in self._kind[kind]["columns"]:
            dfname = info.name.replace(":", "_")
            if info.name == "z_order":
                v = z_order.cast("int") if z_order is not None else F.lit(None).cast("int")
                cols.append(v.alias(dfname))
                continue
            if info.name == "way_area":
                v = (
                    way_area.cast("float")
                    if way_area is not None and self.enable_way_area
                    else F.lit(None).cast("float")
                )
                cols.append(v.alias(dfname))
                continue
            v = ot[info.name]
            if info.flags & FLAG_INT_TYPE:
                v = int4_escape(v)
            elif info.flags & FLAG_REAL_TYPE:
                v = real_escape(v)
            cols.append(v.alias(dfname))
        return cols

    def hstore_cols(self, ot: Column, kind: str,
                    way_area: Column | None = None) -> list[Column]:
        """Prefix hstore columns + the tags column (table.cpp:285-345).

        ``way_area``: the engine sets the synthetic way_area tag on
        polygon rows BEFORE the row is written
        (output-pgsql.cpp:100-104), so in hstore mode 'all' — where
        the ``used`` exclusion never applies — it shows up in the
        tags hstore, ``{:g}``-formatted like the reference's
        double_to_buffer_t."""
        cols: list[Column] = []
        for prefix in self.hstore_columns:
            m = F.map_filter(ot, lambda k, v: k.startswith(prefix))
            m = F.transform_keys(m, lambda k, v: F.substr(k, F.lit(len(prefix) + 1)))
            # column named after the full prefix under the repo's
            # ':'->'_' parquet-name convention (the reference names it
            # the raw prefix, table.cpp:162); keeping the trailing
            # separator distinguishes the "name:" hstore column from a
            # plain "name" data column (a real default.style column)
            cols.append(
                F.when(F.size(m) > 0, m)
                .otherwise(F.lit(None).cast("map<string,string>"))
                .alias(prefix.replace(":", "_"))
            )
        if self.hstore_mode != "none":
            used = [c.name for c in self._kind[kind]["columns"]]
            if self.hstore_mode == "norm":
                m = F.map_filter(
                    ot, lambda k, v: ~k.isin([*used, "z_order"])
                )
            else:
                m = F.map_filter(ot, lambda k, v: k != "z_order")
                if way_area is not None and self.enable_way_area:
                    # taglist_t::set replaces any literal way_area tag
                    m = F.map_concat(
                        F.map_filter(m, lambda k, v: k != "way_area"),
                        F.create_map(F.lit("way_area"),
                                     g_format(way_area)),
                    )
            cols.append(m.alias("tags"))
        return cols


ATTR_TAG_KEYS = ("osm_user", "osm_uid", "osm_version", "osm_timestamp",
                 "osm_changeset")


def attr_pseudo_tags() -> Column:
    """taglist_t::add_attributes (osmtypes.hpp:104-110) as a map
    expression over the middle's attribute columns; attributes the
    input didn't carry stay out of the map."""
    return F.map_filter(
        F.map_from_arrays(
            F.array(*[F.lit(k) for k in ATTR_TAG_KEYS]),
            F.array(
                F.col("user"),
                F.col("uid").cast("string"),
                F.col("version").cast("string"),
                F.date_format(F.col("ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'"),
                F.col("changeset").cast("string"),
            ),
        ),
        lambda k, v: v.isNotNull(),
    )


def _with_attrs(out: Column, enabled: bool) -> Column:
    """--extra-attributes: the C transform appends the attribute
    pseudo-tags to the OUT tags after filtering
    (tagtransform-c.cpp:196-199); they are not subject to the style's
    keep/delete routing."""
    if not enabled:
        return out
    return F.map_concat(
        F.map_filter(out, lambda k, v: ~k.isin(list(ATTR_TAG_KEYS))),
        attr_pseudo_tags(),
    )


def z_order_roads(ot: Column) -> tuple[Column, Column]:
    """add_z_order over the OUT tags (tagtransform-c.cpp:28-89):
    the z_order value and the roads-table flag."""
    z = TG.z_order(
        ot["highway"],
        layer=ot["layer"],
        bridge=ot["bridge"],
        tunnel=ot["tunnel"],
        railway=ot["railway"],
    )
    roads = TG.roads_flag(
        ot["highway"], railway=ot["railway"], boundary=ot["boundary"]
    )
    return z, roads


_ROUTE_NETWORKS = ["lcn", "rcn", "ncn", "lwn", "rwn", "nwn"]


def relation_out_tags(pre: Column) -> Column:
    """filter_rel_member_tags' tag cloning + route synthetics
    (tagtransform-c.cpp:247-330) over the style-prefiltered relation
    tags (``type`` still present).

    Each synthetic tag is added only when its value exists and its key
    is absent (add_tag_if_not_exists).  The synthetic keys differ from
    each other, so checking them against the cloned tags alone equals
    the reference's one-by-one check.  They are built as one filtered
    entry array, which references ``pre`` a fixed number of times: a
    when/otherwise per added tag would triple the expression per tag."""
    is_route = pre["type"] == "route"
    cloned = F.map_filter(pre, lambda k, v: k != "type")
    netw = pre["network"]
    state = pre["state"]
    statetype = (
        F.when(state == "alternate", F.lit("alternate"))
        .when(state == "connection", F.lit("connection"))
        .otherwise(F.lit("yes"))
    )
    known_net = is_route & netw.isin(_ROUTE_NETWORKS)
    prefcol = pre["preferred_color"]
    pref = F.when(
        prefcol.isNotNull()
        & (F.length(prefcol) == 1)
        & prefcol.isin("0", "1", "2", "3", "4"),
        prefcol,
    ).otherwise(F.lit("0"))

    def entry(key: Column, value: Column, on: Column) -> Column:
        return F.struct(key.alias("key"), value.alias("value"), on.alias("on"))

    synthetic = F.filter(
        F.array(
            entry(F.lit("route_name"), pre["name"], is_route),
            entry(netw, statetype, known_net),
            entry(F.lit("route_pref_color"), pref, is_route),
            entry(F.concat(netw, F.lit("_ref")), pre["ref"], known_net),
        ),
        lambda e: e["on"] & e["value"].isNotNull()
        & ~F.map_contains_key(cloned, e["key"]),
    )
    return F.map_concat(
        cloned,
        F.map_from_entries(
            F.transform(synthetic, lambda e: F.struct(e["key"], e["value"]))
        ),
    )


# ---- node projection and area (reprojection.cpp, output-pgsql.cpp) ----

MERC_R = 6378137.0  # EPSG:3857 sphere radius (reference src/reprojection.cpp:36)


def mercator_nodes(nodes: DataFrame) -> DataFrame:
    """Project node lon/lat to EPSG:3857 meters IN PLACE (same column
    names), so every downstream assembly/area/length step is
    projection-agnostic.  This is the reference's default output
    projection (src/reprojection.cpp:17-102); projecting the node
    table once up front is the Spark-shaped equivalent of the
    reference projecting each geometry at output time — pure column
    expressions, no shuffle."""
    x = F.radians(F.col("lon")) * F.lit(MERC_R)
    y = F.lit(MERC_R) * F.log(
        F.tan(F.lit(math.pi / 4.0) + F.radians(F.col("lat")) / F.lit(2.0))
    )
    return nodes.withColumn("lon", x).withColumn("lat", y)


def project_nodes(nodes: DataFrame, srid: int) -> DataFrame:
    """Node lon/lat -> target-srid coordinates IN PLACE (same column
    names): 3857 via the JVM-side mercator expressions, 4326
    passthrough, any other EPSG via the public-formula registry
    (functions/projection.py) in one Arrow-batched numpy kernel — the
    reference's -E/--proj output projection
    (src/command-line-parser.cpp:427-440, reprojection_t)."""
    if srid == 3857:
        return mercator_nodes(nodes)
    if srid == 4326:
        return nodes

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from osm2pgsql_spark.functions import projection as PJ

    p = PJ.epsg_params(srid)  # raises for unknown codes, like PROJ

    # no annotations: postponed-evaluation strings (PEP 563, active in
    # this module) defeat pandas_udf's signature inference for the
    # struct-returning Series,Series->DataFrame shape
    def _proj_kernel(lon, lat):
        x, y = PJ.forward_xy(lon.to_numpy(), lat.to_numpy(), p)
        return pd.DataFrame({"x": x, "y": y})

    proj = pandas_udf(_proj_kernel, "struct<x: double, y: double>")

    return (
        nodes.withColumn("__prj", proj(F.col("lon"), F.col("lat")))
        .withColumn("lon", F.col("__prj.x"))
        .withColumn("lat", F.col("__prj.y"))
        .drop("__prj")
    )


def mercator_shoelace_area(pts: Column) -> Column:
    """way_area for --reproject-area (src/output-pgsql.cpp:45-55,
    src/command-line-parser.cpp:447-448): the geometry column stays in
    the working projection (4326) but the area is computed in
    spherical mercator.  Projects the point array, translates by the
    first vertex (mercator magnitudes are ~1e7 m — without the
    translation the shoelace loses ~6 digits to cancellation), then
    shoelaces.  Pure column expressions, JVM-side."""
    first = F.element_at(pts, 1)
    fx = F.radians(first["x"]) * F.lit(MERC_R)
    fy = F.lit(MERC_R) * F.log(
        F.tan(F.lit(math.pi / 4.0) + F.radians(first["y"]) / F.lit(2.0))
    )
    merc = F.transform(
        pts,
        lambda p: F.struct(
            (F.radians(p["x"]) * F.lit(MERC_R) - fx).alias("x"),
            (F.lit(MERC_R) * F.log(
                F.tan(F.lit(math.pi / 4.0) + F.radians(p["y"]) / F.lit(2.0))
            ) - fy).alias("y"),
        ),
    )
    return assembly.shoelace_area(merc)


# ---- the table writer (output-pgsql.cpp) ----


def planet_tables(
    nodes: DataFrame,
    ways: DataFrame,
    routed_nodes: DataFrame,
    routed_ways: DataFrame,
    routed_rels: DataFrame | None,
    *,
    plan: StylePlan,
    srid: int,
    enable_multi: bool,
    reproject_area: bool,
) -> dict[str, DataFrame]:
    """planet_osm_{point,line,polygon,roads} from the output of a tag
    transform, whichever transform routed the tags.

    ``nodes``/``ways`` are the middle's frames (node locations, member
    geometry).  The routed frames hold one row per object the transform
    kept:

    - nodes: ``id, lon, lat, out``
    - ways: ``id, refs, out, polygon, roads, z_order``
    - relations: ``id, members, out, rel_polygon, rel_line, roads,
      z_order``

    ``out`` is the out-tags map the style's columns read.  Node
    locations are projected to ``srid`` first.  A closed way routed
    ``polygon`` becomes a polygon row (an invalid ring drops the row);
    every other way becomes line rows, segmentized at 1 degree (4326) /
    100 km and split one row per piece (output-pgsql.cpp:89-123).
    Relations routed ``rel_polygon`` give one polygon row per part (one
    multipolygon with -G) with per-part way_area, those routed
    ``rel_line`` give the merged member lines as line rows; osm_id =
    -rel_id (output-pgsql.cpp:239-321).  Line rows routed ``roads`` are
    also roads rows.  With --reproject-area and a non-mercator srid,
    way_area is computed in mercator while the geometry stays in
    ``srid``."""
    from osm2pgsql_spark.operators import relations as R
    from osm2pgsql_spark.operators.geom_udfs import (
        wkb_area,
        wkb_segmentize,
        wkb_split_parts,
        wkb_transform_3857,
    )

    nodes = project_nodes(nodes, srid)
    split_at = 1.0 if srid == 4326 else 100_000.0
    reproject_area = reproject_area and srid != 3857
    out = F.col("out")
    z = F.col("z_order")

    def polygon_rows(df: DataFrame, osm_id: Column, way: Column,
                     way_area: Column) -> DataFrame:
        return df.select(
            osm_id.alias("osm_id"),
            *plan.data_columns(out, "way", z_order=z, way_area=way_area),
            *plan.hstore_cols(out, "way", way_area=way_area),
            way.alias("way"),
        )

    def line_rows(df: DataFrame, osm_id: Column,
                  line: Column) -> tuple[DataFrame, DataFrame]:
        def rows(d: DataFrame) -> DataFrame:
            return (
                d.withColumn("__line", line)
                .where(F.col("__line").isNotNull())
                .withColumn(
                    "__piece",
                    F.explode(wkb_split_parts(
                        wkb_segmentize(F.col("__line"), split_at))),
                )
                .select(
                    osm_id.alias("osm_id"),
                    *plan.data_columns(out, "way", z_order=z),
                    *plan.hstore_cols(out, "way"),
                    F.col("__piece").alias("way"),
                )
            )

        # the geometry kernels are pinned, so no filter pushes below
        # them: the roads rows are selected before their lines are
        # built, and the not-null filter sits on the kernel's own
        # projection (above the wide data-column projection, Catalyst's
        # constraint inference over its aliases takes seconds to minutes)
        return rows(df), rows(df.where(F.col("roads")))

    point = project_nodes(routed_nodes, srid).select(
        F.col("id").alias("osm_id"),
        *plan.data_columns(out, "node"),
        *plan.hstore_cols(out, "node"),
        F.col("lon"),
        F.col("lat"),
    )

    refs = ways.select(
        F.col("id").alias("way_id"), F.posexplode("refs").alias("pos", "ref")
    )
    nloc = nodes.select(F.col("id").alias("node_id"), "lon", "lat")
    w = routed_ways.join(
        assembly.assemble_points(refs, nloc).withColumnRenamed("way_id", "__gid"),
        F.col("id") == F.col("__gid"),
        "left",
    )
    pts = F.col("pts")
    closed = (F.size("refs") >= 2) & (
        F.element_at(F.col("refs"), 1) == F.element_at(F.col("refs"), -1)
    )
    is_poly = F.col("polygon") & closed
    area = (mercator_shoelace_area(pts) if reproject_area
            else assembly.shoelace_area(pts))
    # the not-null filter sits on the pinned kernel's own projection,
    # below the wide data-column projection (see line_rows)
    ways_poly = (
        w.where(is_poly)
        .withColumn("__way", assembly.pts_to_polygon_wkb(pts))
        .where(F.col("__way").isNotNull())
    )
    polygon = polygon_rows(ways_poly, F.col("id"), F.col("__way"), area)
    line, roads = line_rows(
        w.where(~is_poly), F.col("id"), assembly.pts_to_linestring_wkb(pts)
    )

    if routed_rels is not None:
        rel_id = -F.col("rel_id")
        poly_rels = routed_rels.where(F.col("rel_polygon"))
        parts = R.relation_polygon_parts(
            poly_rels.select("id", "members"), ways, nodes,
            enable_multi=enable_multi,
        )
        wkb = F.col("wkb")
        rel_area = (wkb_area(wkb_transform_3857(wkb)) if reproject_area
                    else F.col("area"))
        polygon = polygon.unionByName(polygon_rows(
            poly_rels.select(F.col("id").alias("rel_id"), "out", "z_order")
            .join(parts, "rel_id"),
            rel_id, wkb, rel_area,
        ))

        line_rels = routed_rels.where(F.col("rel_line"))
        merged = R.relation_multilinestrings(
            line_rels.select("id", "members"), ways, nodes
        )
        rel_line, rel_roads = line_rows(
            line_rels.select(F.col("id").alias("rel_id"), "out", "roads",
                             "z_order").join(merged, "rel_id"),
            rel_id, F.col("geom"),
        )
        line = line.unionByName(rel_line)
        roads = roads.unionByName(rel_roads)

    return {
        "planet_osm_point": point,
        "planet_osm_line": line,
        "planet_osm_polygon": polygon,
        "planet_osm_roads": roads,
    }


# ---- the built-in C tag transform (tagtransform-c.cpp) ----


def planet_tables_styled(
    nodes: DataFrame,
    ways: DataFrame,
    relations: DataFrame | None = None,
    *,
    plan: StylePlan,
    srid: int = 3857,
    enable_multi: bool = False,
    reproject_area: bool = False,
    extra_attributes: bool = False,
) -> dict[str, DataFrame]:
    """planet_osm_{point,line,polygon,roads} with the built-in C tag
    transform routing tags by the parsed style file; ``planet_tables``
    writes the rows.  Relations: type=route -> line rows; type=boundary
    (or multipolygon with a surviving boundary tag) -> line AND polygon
    rows; plain multipolygon -> polygon rows (pgsql_process_relation +
    filter_rel_member_tags)."""
    tags = F.col("tags")
    out = F.col("out")
    z, roads = z_order_roads(out)

    nf = plan.filter_tags(tags, "node")
    routed_nodes = (
        nodes.where(F.size("tags") > 0)
        .where(nf["keep"])
        .select("id", "lon", "lat",
                _with_attrs(nf["out_tags"], extra_attributes).alias("out"))
    )

    wf = plan.filter_tags(tags, "way")
    routed_ways = (
        ways.where(F.size("tags") > 0)
        .where(wf["keep"])
        .select("id", "refs",
                _with_attrs(wf["out_tags"], extra_attributes).alias("out"),
                wf["polygon"].alias("polygon"))
        .select("*", roads.alias("roads"), z.alias("z_order"))
    )

    routed_rels = None
    if relations is not None:
        typ = tags["type"]
        rf = plan.filter_tags(tags, "way", is_relation=True)
        route = typ == "route"
        boundary = (typ == "boundary") | (
            (typ == "multipolygon") & F.map_contains_key(out, "boundary")
        )
        routed_rels = (
            relations.where(typ.isin("route", "boundary", "multipolygon"))
            .where(rf["keep"])
            .where(F.exists(F.col("members"), lambda m: m["type"] == "w"))
            .withColumn("out", relation_out_tags(
                _with_attrs(rf["out_tags"], extra_attributes)))
            .where(F.size("out") > 0)
            .select("id", "members", "out",
                    (~route).alias("rel_polygon"),
                    (route | boundary).alias("rel_line"),
                    roads.alias("roads"), z.alias("z_order"))
        )

    return planet_tables(
        nodes, ways, routed_nodes, routed_ways, routed_rels,
        plan=plan, srid=srid, enable_multi=enable_multi,
        reproject_area=reproject_area,
    )
