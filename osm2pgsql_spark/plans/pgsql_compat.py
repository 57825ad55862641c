"""pgsql-compat: the oracle gate's twin of the legacy pgsql output.

``planet_osm_tables`` builds planet_osm_{point,line,polygon,roads} from
a hard-coded subset of the reference's default.style: STYLE_COLUMNS
for the columns, POLYGON_KEYS for the polygon decision, z_order/roads
(src/tagtransform-c.cpp:28-89) and the relation rows
(src/output-pgsql.cpp:239-321).  It feeds the oracle-gated
``pgsql_legacy_suite`` and the fixture tests that compare against the
reference's expectations.

It is not what ``-O pgsql`` runs: the CLI runs the style-file-driven
writer in plans/pgsql_style.py.  On the same style subset the two route
tags alike; their geometry and precision differ.  This module does not
segmentize or split line rows at 1 degree / 100 km, and its way_area
is a double where the style path casts it to float4 (the PG ``real``
column).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from osm2pgsql_spark.functions import tags as TG
from osm2pgsql_spark.operators import assembly
from osm2pgsql_spark.plans.pgsql_style import (
    mercator_nodes,
    mercator_shoelace_area,
    z_order_roads,
)

# keys rendered as polygons when the way is closed (default.style)
POLYGON_KEYS = [
    "aeroway", "amenity", "building", "harbour", "historic", "landuse",
    "leisure", "man_made", "military", "natural", "office", "place",
    "power", "public_transport", "shop", "sport", "tourism", "water",
    "waterway", "wetland",
]

# tag columns materialized in the legacy tables (subset of default.style)
STYLE_COLUMNS = [
    "access", "addr:housename", "addr:housenumber", "aerialway", "aeroway",
    "amenity", "barrier", "bicycle", "boundary", "bridge", "building",
    "highway", "historic", "junction", "landuse", "layer", "leisure",
    "man_made", "military", "name", "natural", "oneway", "place", "power",
    "railway", "ref", "religion", "route", "service", "shop", "sport",
    "surface", "tourism", "tunnel", "water", "waterway",
]


def _style_cols(tags: Column) -> list[Column]:
    return [tags[k].alias(k.replace(":", "_")) for k in STYLE_COLUMNS]


def _is_polygon(tags: Column, refs: Column) -> Column:
    closed = (F.size(refs) >= 4) & (
        F.element_at(refs, 1) == F.element_at(refs, -1)
    )
    has_area_key = F.lit(False)
    for k in POLYGON_KEYS:
        has_area_key = has_area_key | tags[k].isNotNull()
    forced = TG.tag_bool(tags["area"])  # area=yes forces polygon
    # NULL-safe: a missing area tag must not block (isin yields NULL)
    blocked = F.coalesce(tags["area"].isin("no", "false", "0"), F.lit(False))
    return closed & ~blocked & (has_area_key | forced)


def relation_rows(
    relations: DataFrame,
    ways: DataFrame,
    nodes: DataFrame,
    enable_multi: bool = False,
    reproject_area: bool = False,
) -> dict[str, DataFrame]:
    """polygon/line/roads rows from type=multipolygon/boundary/route
    relations — the reference's pgsql_process_relation
    (src/output-pgsql.cpp:239-321) + filter_rel_member_tags
    (src/tagtransform-c.cpp:223-343):

    - only type in (multipolygon, boundary, route) is processed;
    - out-tags = the relation's style-filtered tags (minus `type`);
      relations with no style tag left are skipped entirely — which is
      why a type-only relation contributes nothing while its tagged
      member ways still render independently;
    - type=multipolygon without a boundary tag -> polygon rows only;
      type=boundary (or multipolygon WITH a boundary tag) -> boundary:
      merged-line rows AND polygon rows; type=route -> line rows;
    - polygon geometry is the assembled multipolygon split into one
      row per polygon (`split_multi`, osm_id = -rel_id, per-part
      way_area) unless enable_multi (-G) keeps one multipolygon row;
    - relations whose rings don't assemble (broken member data) are
      dropped, matching the osmium area-assembler failure path.
    """
    from osm2pgsql_spark.operators import relations as R

    tags = F.col("tags")
    typ = tags["type"]
    style_keys = [*STYLE_COLUMNS, "area"]
    rels = (
        relations.where(typ.isin("multipolygon", "boundary", "route"))
        .withColumn("out_tags", F.map_filter(tags, lambda k, _: k.isin(style_keys)))
        .where(F.size("out_tags") > 0)
    )
    is_boundary = (typ == "boundary") | (
        (typ == "multipolygon") & tags["boundary"].isNotNull()
    )
    is_route = typ == "route"

    ot = F.col("out_tags")
    z, roads = z_order_roads(ot)

    # polygon side: multipolygon + boundary
    poly_rels = rels.where(~is_route)
    parts = R.relation_polygon_parts(
        poly_rels.select(F.col("id"), F.col("members")),
        ways,
        nodes,
        enable_multi=enable_multi,
    )
    poly_tagged = poly_rels.select(
        F.col("id").alias("rel_id"), "out_tags"
    ).join(parts, "rel_id")
    if reproject_area:
        # --reproject-area for relation polygons: area over the
        # 3857-transformed geometry; the stored column stays as-is
        from osm2pgsql_spark.operators.geom_udfs import (
            wkb_area, wkb_transform_3857,
        )

        rel_area = wkb_area(wkb_transform_3857(F.col("wkb")))
    else:
        rel_area = F.col("area")
    polygon = poly_tagged.select(
        (-F.col("rel_id")).alias("osm_id"),
        *_style_cols(ot),
        z,
        rel_area.alias("way_area"),
        F.col("wkb").alias("way"),
    )

    # line side: routes + boundaries — merged member lines, then one
    # row per merged part (split_multi, output-pgsql.cpp:283-298)
    from osm2pgsql_spark.operators.geom_udfs import wkb_split_parts

    line_rels = rels.where(is_route | is_boundary)
    merged = R.relation_multilinestrings(
        line_rels.select(F.col("id"), F.col("members")), ways, nodes
    ).where(F.col("geom").isNotNull())
    line_tagged = line_rels.select(
        F.col("id").alias("rel_id"), "out_tags"
    ).join(merged, "rel_id")
    line = line_tagged.select(
        (-F.col("rel_id")).alias("osm_id"),
        *_style_cols(ot),
        z,
        F.explode(wkb_split_parts(F.col("geom"))).alias("way"),
        roads.alias("__roads"),
    )
    roads_df = line.where(F.col("__roads")).drop("__roads")
    line = line.drop("__roads")
    return {"polygon": polygon, "line": line, "roads": roads_df}


def planet_osm_tables(
    nodes: DataFrame,
    ways: DataFrame,
    relations: DataFrame | None = None,
    srid: int = 4326,
    enable_multi: bool = False,
    reproject_area: bool = False,
) -> dict[str, DataFrame]:
    """Build planet_osm_{point,line,polygon,roads} DataFrames.

    Geometry is kept as assembled point arrays + WKB; way_area is the
    planar shoelace area over the working projection: srid=4326 keeps
    degrees (the repo's historical default), srid=3857 projects node
    coordinates to web-mercator meters first — the reference's
    default, making way_area/ST_Area come out in m² like the BDD
    regression expectations.  Pass `relations` to add the relation
    rows (osm_id = -rel_id) the reference emits for
    multipolygon/boundary/route relations."""
    if srid == 3857:
        nodes = mercator_nodes(nodes)
    tags = F.col("tags")

    tagged_nodes = nodes.where(F.size("tags") > 0)
    point = tagged_nodes.select(
        F.col("id").alias("osm_id"),
        *_style_cols(tags),
        F.col("lon"),
        F.col("lat"),
    )

    refs = ways.select(F.col("id").alias("way_id"), F.posexplode("refs").alias("pos", "ref"))
    nloc = nodes.select(F.col("id").alias("node_id"), "lon", "lat")
    geoms = assembly.assemble_points(refs, nloc)
    w = ways.where(F.size("tags") > 0).join(
        geoms.withColumnRenamed("way_id", "__gid"), F.col("id") == F.col("__gid"), "left"
    )

    z, roads = z_order_roads(tags)
    is_poly = _is_polygon(tags, F.col("refs"))

    def with_way(df: DataFrame, way) -> DataFrame:
        # the not-null filter sits on the pinned kernel's own
        # projection: no filter pushes below a pinned kernel, and above
        # the wide style projection Catalyst's constraint inference
        # over its aliases takes seconds to minutes per plan
        return df.withColumn("way", way).where(F.col("way").isNotNull())

    line_base = w.where(~is_poly)
    line = with_way(line_base, assembly.pts_to_linestring_wkb(F.col("pts"))).select(
        F.col("id").alias("osm_id"),
        *_style_cols(tags),
        z,
        F.col("way"),
    )

    roads_df = with_way(
        line_base.where(roads), assembly.pts_to_linestring_wkb(F.col("pts"))
    ).select(
        F.col("id").alias("osm_id"),
        *_style_cols(tags),
        z,
        F.col("way"),
    )

    # --reproject-area: way_area in mercator m^2 while the geometry
    # column stays 4326 (output-pgsql.cpp:45-55); a no-op at srid 3857
    # where the working projection already IS mercator
    if reproject_area and srid != 3857:
        area_expr = mercator_shoelace_area(F.col("pts"))
    else:
        area_expr = assembly.shoelace_area(F.col("pts"))
    polygon = with_way(
        w.where(is_poly), assembly.pts_to_polygon_wkb(F.col("pts"))
    ).select(
        F.col("id").alias("osm_id"),
        *_style_cols(tags),
        z,
        area_expr.alias("way_area"),
        F.col("way"),
    )

    if relations is not None:
        r = relation_rows(
            relations, ways, nodes, enable_multi=enable_multi,
            reproject_area=reproject_area and srid != 3857,
        )
        polygon = polygon.unionByName(r["polygon"])
        line = line.unionByName(r["line"])
        roads_df = roads_df.unionByName(r["roads"])

    return {
        "planet_osm_point": point,
        "planet_osm_line": line,
        "planet_osm_polygon": polygon,
        "planet_osm_roads": roads_df,
    }
