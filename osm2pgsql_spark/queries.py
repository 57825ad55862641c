"""Query/oracle registry — the driver's correctness surface.

Each entry maps one operator from SURVEY.md §2 onto the driver's
TPC-H-ish corpus.  OSM-shaped inputs (nodes with coordinates, ways
with ordered refs, regions, changesets) are *derived* from the corpus
tables with deterministic arithmetic (osm2pgsql_spark.sources.
osm_synth) so each Spark plan has an exactly-equivalent DuckDB oracle.

Conventions for hash-stable cross-engine comparison:
- every surfaced float goes through floor-based rounding
  (functions.rounding) on BOTH sides;
- aggregate/computed columns are aliased identically on both sides;
- arrays are surfaced as sorted comma-joined strings.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from osm2pgsql_spark.functions import similarity as S
from osm2pgsql_spark.functions import text as TX
from osm2pgsql_spark.functions import tiles as TI
from osm2pgsql_spark.functions import tags as TG
from osm2pgsql_spark.functions.rounding import round2, round4, round6, roundn, roundn_sql
from osm2pgsql_spark.operators import ann, assembly, dedup, isolation, locator, reverse_deps
from osm2pgsql_spark.sources import osm_synth
from osm2pgsql_spark.sources.testdata import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


# ---------------------------------------------------------------------------
# Relational aggregation layer (baseline: the engine must do plain OLAP too)
# ---------------------------------------------------------------------------

@register(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           {sum_qty} AS sum_qty,
           {sum_base} AS sum_base_price,
           {sum_disc} AS sum_disc_price,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """.format(
        sum_qty=roundn_sql("sum(l_quantity)", 2),
        sum_base=roundn_sql("sum(l_extendedprice)", 2),
        sum_disc=roundn_sql("sum(l_extendedprice * (1 - l_discount))", 2),
    ),
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            round2(F.sum("l_quantity")).alias("sum_qty"),
            round2(F.sum("l_extendedprice")).alias("sum_base_price"),
            round2(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "sum_disc_price"
            ),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# §2.1 sources: bbox ingest filter (src/osmdata.cpp:48-50)
# ---------------------------------------------------------------------------

@register(
    "bbox_filter",
    oracle=f"""
    WITH nodes AS ({osm_synth.NODES_SQL})
    SELECT node_id, lon, lat FROM nodes
    WHERE lon >= -60 AND lon <= 60 AND lat >= -30 AND lat <= 30
    """,
)
def q_bbox_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = osm_synth.nodes(spark, sf_dir)
    return n.where(
        (F.col("lon") >= -60) & (F.col("lon") <= 60) & (F.col("lat") >= -30) & (F.col("lat") <= 30)
    ).select("node_id", "lon", "lat")


# ---------------------------------------------------------------------------
# §2.1/§2.8 multi-file merge with first-file-wins duplicate suppression
# (src/input.cpp:261-303)
# ---------------------------------------------------------------------------

@register(
    "merge_dedup",
    oracle="""
    WITH f1 AS (SELECT o_orderkey AS id, 1 AS file_no FROM orders WHERE o_orderkey % 3 = 0),
         f2 AS (SELECT o_orderkey AS id, 2 AS file_no FROM orders WHERE o_orderkey % 2 = 0),
         u AS (SELECT * FROM f1 UNION ALL SELECT * FROM f2),
         r AS (SELECT id, file_no,
                      row_number() OVER (PARTITION BY id ORDER BY file_no) AS rn
               FROM u)
    SELECT id, file_no FROM r WHERE rn = 1
    """,
)
def q_merge_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    f1 = o.where(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("id"), F.lit(1).alias("file_no")
    )
    f2 = o.where(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").alias("id"), F.lit(2).alias("file_no")
    )
    u = f1.unionByName(f2)
    w = Window.partitionBy("id").orderBy("file_no")
    return (
        u.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1).select("id", "file_no")
    )


# ---------------------------------------------------------------------------
# §2.4 THE core join: way refs -> node locations (middle nodes_get_list)
# ---------------------------------------------------------------------------

@register(
    "way_node_join",
    oracle=f"""
    WITH nodes AS ({osm_synth.NODES_SQL}),
         refs AS ({osm_synth.WAY_REFS_SQL})
    SELECT way_id,
           count(*) AS n_resolved,
           min(ref) AS min_ref,
           max(ref) AS max_ref,
           {roundn_sql('sum(lon)', 4)} AS sum_lon,
           {roundn_sql('sum(lat)', 4)} AS sum_lat
    FROM refs JOIN nodes ON ref = node_id
    GROUP BY way_id
    """,
)
def q_way_node_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    refs = osm_synth.way_refs(spark, sf_dir)
    nodes = osm_synth.nodes(spark, sf_dir)
    j = refs.join(nodes, refs["ref"] == nodes["node_id"], "inner")
    return j.groupBy("way_id").agg(
        F.count(F.lit(1)).alias("n_resolved"),
        F.min("ref").alias("min_ref"),
        F.max("ref").alias("max_ref"),
        round4(F.sum("lon")).alias("sum_lon"),
        round4(F.sum("lat")).alias("sum_lat"),
    )


# ---------------------------------------------------------------------------
# §2.5 way assembly -> linestring length (geom-from-osm.cpp:88-101 +
# geom-functions.cpp:439), JVM-side fold over the assembled array
# ---------------------------------------------------------------------------

@register(
    "way_length",
    # planar length (geom-functions.cpp:439) AND spherical/haversine
    # length in meters (geom-functions.cpp:383-439; §2.9
    # spherical_length) in one pass over the assembled points
    oracle=f"""
    WITH nodes AS ({osm_synth.NODES_SQL}),
         refs AS ({osm_synth.WAY_REFS_SQL}),
         pts AS (
            SELECT way_id, pos, lon, lat,
                   lead(lon) OVER (PARTITION BY way_id ORDER BY pos, ref) AS nlon,
                   lead(lat) OVER (PARTITION BY way_id ORDER BY pos, ref) AS nlat
            FROM refs JOIN nodes ON ref = node_id),
         segs AS (
            SELECT way_id,
                   CASE WHEN nlon IS NULL OR (nlon = lon AND nlat = lat) THEN 0.0
                        ELSE sqrt((nlon - lon) * (nlon - lon) + (nlat - lat) * (nlat - lat))
                   END AS seg,
                   CASE WHEN nlon IS NULL THEN 0.0
                        ELSE 2.0 * 6378137.0 * asin(sqrt(
                            pow(sin(radians(nlat - lat) / 2), 2)
                            + cos(radians(lat)) * cos(radians(nlat))
                              * pow(sin(radians(nlon - lon) / 2), 2)))
                   END AS sph_seg
            FROM pts)
    SELECT way_id, {roundn_sql('sum(seg)', 4)} AS length,
           {roundn_sql('sum(sph_seg)', 2)} AS sph_length
    FROM segs GROUP BY way_id
    """,
)
def q_way_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    refs = osm_synth.way_refs(spark, sf_dir)
    nodes = osm_synth.nodes(spark, sf_dir)
    a = assembly.assemble_points(
        refs, nodes, way_id="way_id", pos="pos", ref="ref", node_id="node_id", x="lon", y="lat"
    )
    return a.select(
        "way_id",
        round4(assembly.line_length(F.col("pts"))).alias("length"),
        roundn(_haversine_total(F.col("pts")), 2).alias("sph_length"),
    )


def _haversine_total(pts: F.Column) -> F.Column:
    """Haversine sum in meters over an ARRAY<STRUCT<x,y>> — JVM-side
    zip_with/aggregate fold, no Python in the hot path."""
    n = F.size(pts)
    heads = F.slice(pts, 1, n - 1)
    tails = F.slice(pts, 2, n - 1)
    segs = F.zip_with(
        heads,
        tails,
        lambda a_, b_: F.lit(2.0)
        * F.lit(6378137.0)
        * F.asin(
            F.sqrt(
                F.pow(F.sin(F.radians(b_["y"] - a_["y"]) / 2), 2)
                + F.cos(F.radians(a_["y"]))
                * F.cos(F.radians(b_["y"]))
                * F.pow(F.sin(F.radians(b_["x"] - a_["x"]) / 2), 2)
            )
        ),
    )
    return F.when(
        n >= 2, F.aggregate(segs, F.lit(0.0), lambda acc, v: acc + v)
    ).otherwise(F.lit(0.0))


# ---------------------------------------------------------------------------
# §2.5 closed-ring shoelace area (geom-from-osm.cpp:104-133 + area :351)
# ---------------------------------------------------------------------------

@register(
    "way_polygon_area",
    oracle=f"""
    WITH nodes AS ({osm_synth.NODES_SQL}),
         refs AS ({osm_synth.WAY_REFS_SQL}),
         pts AS (
            SELECT way_id, pos, lon, lat,
                   lead(lon) OVER (PARTITION BY way_id ORDER BY pos, ref) AS nlon,
                   lead(lat) OVER (PARTITION BY way_id ORDER BY pos, ref) AS nlat,
                   first_value(lon) OVER (PARTITION BY way_id ORDER BY pos, ref) AS flon,
                   first_value(lat) OVER (PARTITION BY way_id ORDER BY pos, ref) AS flat,
                   count(*) OVER (PARTITION BY way_id) AS npts
            FROM refs JOIN nodes ON ref = node_id),
         terms AS (
            SELECT way_id, npts,
                   CASE WHEN nlon IS NULL THEN lon * flat - flon * lat
                        ELSE lon * nlat - nlon * lat END AS t
            FROM pts)
    SELECT way_id, {roundn_sql('abs(sum(t)) / 2.0', 4)} AS area
    FROM terms WHERE npts >= 3 GROUP BY way_id
    """,
)
def q_way_polygon_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    refs = osm_synth.way_refs(spark, sf_dir)
    nodes = osm_synth.nodes(spark, sf_dir)
    a = assembly.assemble_points(
        refs, nodes, way_id="way_id", pos="pos", ref="ref", node_id="node_id", x="lon", y="lat"
    )
    return (
        a.where(F.size("pts") >= 3)
        .select("way_id", round4(assembly.shoelace_area(F.col("pts"))).alias("area"))
    )


# ---------------------------------------------------------------------------
# §2.3 z_order + roads flag (tagtransform-c.cpp:28-89) — exact int semantics
# ---------------------------------------------------------------------------

_HIGHWAY_CASE = (
    "CASE p_partkey % 25 "
    + " ".join(
        f"WHEN {i} THEN '{name}'" for i, (name, _o, _r) in enumerate(TG.HIGHWAY_LAYERS)
    )
    + " END"
)
_OFFSET_CASE = (
    "CASE p_partkey % 25 "
    + " ".join(f"WHEN {i} THEN {off}" for i, (_n, off, _r) in enumerate(TG.HIGHWAY_LAYERS))
    + " END"
)
_ROADS_CASE = (
    "CASE p_partkey % 25 "
    + " ".join(
        f"WHEN {i} THEN {str(r).lower()}" for i, (_n, _o, r) in enumerate(TG.HIGHWAY_LAYERS)
    )
    + " END"
)


@register(
    "z_order",
    oracle=f"""
    SELECT p_partkey AS way_id,
           cast(((p_size % 5) - 2) * 100
                + ({_OFFSET_CASE})
                + (CASE WHEN p_partkey % 7 = 0 THEN 35 ELSE 0 END)
                + (CASE WHEN p_size > 40 THEN 100 ELSE 0 END)
                - (CASE WHEN p_size < 5 THEN 100 ELSE 0 END) AS int) AS z_order,
           (({_ROADS_CASE}) OR p_partkey % 7 = 0) AS roads
    FROM part
    """,
)
def q_z_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    tagged = p.select(
        F.col("p_partkey").alias("way_id"),
        F.expr(_HIGHWAY_CASE).alias("highway"),
        F.expr("cast((p_size % 5) - 2 as string)").alias("layer"),
        F.expr("CASE WHEN p_size > 40 THEN 'yes' ELSE 'no' END").alias("bridge"),
        F.expr("CASE WHEN p_size < 5 THEN 'yes' ELSE 'no' END").alias("tunnel"),
        F.expr("CASE WHEN p_partkey % 7 = 0 THEN 'rail' ELSE '' END").alias("railway"),
    )
    return tagged.select(
        "way_id",
        TG.z_order(
            F.col("highway"),
            layer=F.col("layer"),
            bridge=F.col("bridge"),
            tunnel=F.col("tunnel"),
            railway=F.col("railway"),
        ),
        TG.roads_flag(F.col("highway"), railway=F.col("railway")).alias("roads"),
    )


# ---------------------------------------------------------------------------
# §2.3 tag filter on a JSON props column (style-file keep/delete analog)
# ---------------------------------------------------------------------------

@register(
    "tag_filter_json",
    oracle="""
    SELECT event_id, event_type,
           cast(json_extract_string(props, '$.k') AS bigint) AS k
    FROM events
    WHERE cast(json_extract_string(props, '$.k') AS bigint) >= 50
      AND event_type <> 'error'
    """,
)
def q_tag_filter_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return (
        e.withColumn("k", k)
        .where((F.col("k") >= 50) & (F.col("event_type") != "error"))
        .select("event_id", "event_type", "k")
    )


# ---------------------------------------------------------------------------
# §2.10 tile expiry: point -> z14 tile, distinct, rolled up to z10..z14
# (expire-tiles.cpp + expire-output.cpp:85-106)
# ---------------------------------------------------------------------------

_EXP_MAXZOOM = 14
_EXP_MINZOOM = 10


@register(
    "tile_expiry_rollup",
    oracle=f"""
    WITH nodes AS ({osm_synth.NODES_SQL}),
         __tiles__ AS (
            SELECT DISTINCT {TI.tile_x_sql('lon', _EXP_MAXZOOM)} AS x,
                            {TI.tile_y_sql('lat', _EXP_MAXZOOM)} AS y
            FROM nodes),
         rolled AS ({TI.rollup_zoom_sql(_EXP_MINZOOM, _EXP_MAXZOOM)})
    SELECT DISTINCT zoom, x, y FROM rolled
    """,
)
def q_tile_expiry_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = osm_synth.nodes(spark, sf_dir)
    tiles = n.select(
        TI.tile_x(F.col("lon"), _EXP_MAXZOOM).alias("x"),
        TI.tile_y(F.col("lat"), _EXP_MAXZOOM).alias("y"),
    ).distinct()
    return TI.rollup_zoom(tiles, _EXP_MINZOOM, _EXP_MAXZOOM)


# ---------------------------------------------------------------------------
# §2.4 reverse-dependency join: changed nodes -> parent ways
# (middle-pgsql.cpp:575-657, osmdata.cpp:75-147)
# ---------------------------------------------------------------------------

@register(
    "reverse_deps",
    oracle=f"""
    WITH refs AS ({osm_synth.WAY_REFS_SQL}),
         changed AS (SELECT p_partkey AS node_id FROM part WHERE p_size >= 45)
    SELECT DISTINCT way_id FROM refs
    WHERE ref IN (SELECT node_id FROM changed)
    """,
)
def q_reverse_deps(spark: SparkSession, sf_dir: str) -> DataFrame:
    refs = osm_synth.way_refs(spark, sf_dir)
    p = load_table(spark, sf_dir, "part")
    changed = p.where(F.col("p_size") >= 45).select(F.col("p_partkey").alias("node_id"))
    return reverse_deps.parent_ways_of_nodes(refs, changed)


# ---------------------------------------------------------------------------
# §2.4 locator spatial join (locator.cpp, flex-lua-locator.cpp
# all_intersecting): broadcast region boxes vs synthetic nodes
# ---------------------------------------------------------------------------

_REGIONS_SQL = """
    SELECT r_name AS name,
           cast(r_regionkey * 60 - 150 AS double) AS min_x,
           cast(r_regionkey * 15 - 60 AS double) AS min_y,
           cast(r_regionkey * 60 - 70 AS double) AS max_x,
           cast(r_regionkey * 15 + 20 AS double) AS max_y
    FROM region
"""


_LOC_REG_OFF = 0.05


@register(
    "locator_all_intersecting",
    # both locator paths in one gate: the broadcast bbox-regions join
    # (kind='bbox') and the pandas point-in-polygon kernel over
    # POLYGON regions (kind='poly'; rectangles offset +0.05 off the
    # node grid so boundary conventions can't disagree)
    oracle=f"""
    WITH nodes AS ({osm_synth.NODES_SQL}),
         regions AS ({_REGIONS_SQL}),
         pregions AS (
            SELECT r_name AS name,
                   r_regionkey * 60 - 150 + {_LOC_REG_OFF}e0 AS min_x,
                   r_regionkey * 15 - 60 + {_LOC_REG_OFF}e0 AS min_y,
                   r_regionkey * 60 - 70 + {_LOC_REG_OFF}e0 AS max_x,
                   r_regionkey * 15 + 20 + {_LOC_REG_OFF}e0 AS max_y
            FROM region)
    SELECT 'bbox' AS kind, node_id,
           string_agg(name, ',' ORDER BY name) AS regions,
           count(*) AS n_regions
    FROM nodes JOIN regions
      ON lon >= min_x AND lon <= max_x AND lat >= min_y AND lat <= max_y
    GROUP BY node_id
    UNION ALL
    SELECT 'poly' AS kind, node_id,
           string_agg(name, ',' ORDER BY name) AS regions,
           cast(NULL AS bigint) AS n_regions
    FROM nodes JOIN pregions
      ON lon > min_x AND lon < max_x AND lat > min_y AND lat < max_y
    GROUP BY node_id
    """,
)
def q_locator_all_intersecting(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from osm2pgsql_spark.functions import geometry as G
    from osm2pgsql_spark.operators.locator import polygon_all_intersecting

    n = osm_synth.nodes(spark, sf_dir)
    r = load_table(spark, sf_dir, "region").select(
        F.col("r_name").alias("name"),
        (F.col("r_regionkey") * 60 - 150).cast("double").alias("min_x"),
        (F.col("r_regionkey") * 15 - 60).cast("double").alias("min_y"),
        (F.col("r_regionkey") * 60 - 70).cast("double").alias("max_x"),
        (F.col("r_regionkey") * 15 + 20).cast("double").alias("max_y"),
    )
    bbox = locator.all_intersecting(n, r).select(
        F.lit("bbox").alias("kind"), "node_id", "regions", "n_regions"
    )

    regions_wkb = []
    for row in load_table(spark, sf_dir, "region").collect():
        k = row["r_regionkey"]
        x0, x1 = k * 60 - 150 + _LOC_REG_OFF, k * 60 - 70 + _LOC_REG_OFF
        y0, y1 = k * 15 - 60 + _LOC_REG_OFF, k * 15 + 20 + _LOC_REG_OFF
        ring = np.asarray(
            [(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)], dtype="f8"
        )
        regions_wkb.append((row["r_name"], G.to_wkb(("polygon", [ring]))))
    poly = polygon_all_intersecting(n, regions_wkb).select(
        F.lit("poly").alias("kind"), "node_id", "regions",
        F.lit(None).cast("bigint").alias("n_regions"),
    )
    return bbox.unionByName(poly)


# ---------------------------------------------------------------------------
# dedup: exact/fingerprint clustering (training-data extension)
# ---------------------------------------------------------------------------

@register(
    "dedup_exact_fingerprint",
    # exact (md5) and near-exact (canonical fingerprint) duplicate
    # clustering, plus exact-substring duplicated spans (Lee et al.
    # 2021 style, operators/dedup.py:duplicated_spans) — three dedup
    # operators, one gate.  Span rows reuse the schema as
    # grp_key=doc:start, keep_id=span_start, n_dups=span token count;
    # the oracle twin groups by the gram STRING (the Spark plan
    # shuffles only xxhash64(gram) — collision odds ~n^2/2^64).
    oracle=f"""
    SELECT 'exact' AS kind, md5(text) AS grp_key,
           min(doc_id) AS keep_id, count(*) AS n_dups
    FROM documents GROUP BY 2
    UNION ALL
    SELECT 'fp' AS kind, {TX.fingerprint_sql('text')} AS grp_key,
           min(doc_id) AS keep_id, count(*) AS n_dups
    FROM documents GROUP BY 2
    UNION ALL
    SELECT 'span' AS kind,
           CAST(doc_id AS VARCHAR) || ':' || CAST(span_start AS VARCHAR) AS grp_key,
           span_start AS keep_id, n_tokens AS n_dups
    FROM (
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
                   array_to_string(toks[i:i+7], ' ') AS gram
            FROM t, UNNEST(range(1, greatest(len(toks) - 6, 1))) AS u(i)),
      dup AS (SELECT doc_id, pos FROM g WHERE gram IN
              (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) > 1)),
      isl AS (SELECT doc_id, pos,
                     pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
              FROM dup)
      SELECT doc_id, min(pos) AS span_start,
             max(pos) + 7 - min(pos) + 1 AS n_tokens
      FROM isl GROUP BY doc_id, grp
    )
    """,
)
def q_dedup_exact_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ex = dedup.exact_groups(docs).select(
        F.lit("exact").alias("kind"), F.col("text_hash").alias("grp_key"),
        "keep_id", "n_dups",
    )
    fp = dedup.fingerprint_groups(docs).select(
        F.lit("fp").alias("kind"), F.col("fp").alias("grp_key"),
        "keep_id", "n_dups",
    )
    sp = dedup.duplicated_spans(docs, k=8).select(
        F.lit("span").alias("kind"),
        F.concat(
            F.col("doc_id").cast("string"), F.lit(":"),
            F.col("span_start").cast("string"),
        ).alias("grp_key"),
        F.col("span_start").alias("keep_id"),
        F.col("n_tokens").alias("n_dups"),
    )
    return ex.unionByName(fp).unionByName(sp)


# multi-line view of the corpus for the line-dedup gate: a repeated
# header (the source tag), the body, and a 7-way shared footer — the
# boilerplate shape C4-style line dedup exists to strip
# concat_ws (NULL-skipping, like Spark's) rather than `||` (NULL-
# propagating) so both engines agree on NULL source/text (r12 ADVICE)
_LINE_DEDUP_DOC_SQL = (
    "SELECT doc_id, concat_ws(chr(10), source, text, "
    "'shared footer line number ' || CAST(doc_id % 7 AS VARCHAR)) "
    "AS text FROM documents"
)


def _line_dedup_oracle() -> str:
    from osm2pgsql_spark.operators.dedup import line_dedup_sql

    return line_dedup_sql(min_chars=4,
                          relation=f"({_LINE_DEDUP_DOC_SQL})")


@register("line_dedup", oracle=_line_dedup_oracle())
def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-global line-level dedup (C4 §2.2 / RefinedWeb
    boilerplate stripping; operators/dedup.line_dedup): keep the
    first occurrence of every repeated line, rebuild documents from
    surviving lines — one skew-robust hash groupBy on md5(line), no
    window over the corpus."""
    from osm2pgsql_spark.operators.dedup import line_dedup

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat_ws(
            "\n", "source", "text",
            F.concat(F.lit("shared footer line number "),
                     (F.col("doc_id") % 7).cast("string")),
        ).alias("text"),
    )
    return line_dedup(docs, min_chars=4)


# ---------------------------------------------------------------------------
# text analysis: token counts, quality, language guess
# ---------------------------------------------------------------------------

_BM25_TERMS = ["spark", "join", "window"]


def _gopher_bm25_ctes() -> str:
    from osm2pgsql_spark.operators.quality import gopher_oracle_ctes
    from osm2pgsql_spark.operators.retrieval import bm25_oracle_ctes

    return gopher_oracle_ctes() + ", " + bm25_oracle_ctes(_BM25_TERMS)


@register(
    "text_stats",
    # per-doc text analysis + the 32-bit document fingerprint (SimHash,
    # integer-exact) in one pass; the banded pair search over the same
    # hash is gated separately by simhash_hamming_pairs.  ppl3 is the
    # CCNet-style char-trigram LM perplexity against the corpus's own
    # model (operators/lm.py) — the oracle trains the identical model
    # in CTEs; 4-decimal rounding absorbs float sum-order ULPs.
    # SELECT list FROZEN at the round-7 scope (bench continuity: this
    # is a benched query and its trend line must keep meaning across
    # rounds).  The round-8 Gopher/BM25 audit columns moved to the
    # separate text_quality_signals gate below — new per-doc signals
    # belong THERE, not here.
    oracle=f"""
    WITH tri AS (SELECT doc_id, substr(text, CAST(i AS INT), 3) AS g3
                 FROM documents,
                      UNNEST(range(1, greatest(length(text) - 1, 1))) AS u(i)),
    m3 AS (SELECT g3, count(*) AS c3 FROM tri GROUP BY g3),
    m2 AS (SELECT substr(g3, 1, 2) AS p2, sum(c3) AS c2 FROM m3 GROUP BY 1),
    sc AS (SELECT doc_id, count(*) AS n_tri, avg(ln(c3 * 1.0 / c2)) AS lp
           FROM tri JOIN m3 USING (g3)
                    JOIN m2 ON substr(tri.g3, 1, 2) = m2.p2
           GROUP BY doc_id)
    SELECT doc_id,
           {TX.token_count_sql('text')} AS n_tokens,
           {TX.bpe_token_count_sql('text')} AS n_bpe_tokens,
           cast(length(text) AS bigint) AS n_chars,
           {roundn_sql(TX.alpha_ratio_sql('text'), 4)} AS alpha_ratio,
           {TX.stopword_count_sql('text')} AS n_stopwords,
           {TX.quality_score_sql('text')} AS quality,
           {TX.lang_guess_sql('text')} AS lang_guess,
           {TX.url_count_sql('text')} AS n_urls,
           {TX.email_count_sql('text')} AS n_emails,
           cast(length({TX.redact_sql('text')}) AS bigint) AS redacted_len,
           {TX.is_quality_sql('text')} AS is_quality,
           {S.simhash32_sql('text')} AS simhash,
           coalesce(n_tri, 0) AS n_tri3,
           {roundn_sql('exp(-lp)', 4)} AS ppl3
    FROM documents LEFT JOIN sc USING (doc_id)
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm2pgsql_spark.operators import lm

    docs = load_table(spark, sf_dir, "documents")
    ppl = lm.perplexity3(docs).select(
        "doc_id",
        F.col("n_tri").alias("n_tri3"),
        round4(F.col("ppl3")).alias("ppl3"),
    )
    # NOTE (r14, measured): hoisting the token-hash array into its own
    # projection and feeding simhash32_from_hashes a column reference
    # was TRIED and made the query 1.6x slower (1.08s -> 1.71s median
    # at sf0.1): runtime subexpression elimination already evaluates
    # the identical top-level transform(split+md5) subtree once across
    # the 32 per-bit aggregates, and the explicit column materialized
    # an array per doc for no saved work.  (CSE cannot help *inside* a
    # lambda body — the shingles_from_tokens case — but these repeats
    # are at projection top level.)  Keeping the inline form.
    return docs.select(
        "doc_id",
        TX.token_count(F.col("text")).alias("n_tokens"),
        TX.bpe_token_count(F.col("text")).alias("n_bpe_tokens"),
        TX.char_count(F.col("text")).alias("n_chars"),
        round4(TX.alpha_ratio(F.col("text"))).alias("alpha_ratio"),
        TX.stopword_count(F.col("text")).alias("n_stopwords"),
        TX.quality_score(F.col("text")).alias("quality"),
        TX.lang_guess(F.col("text")).alias("lang_guess"),
        TX.url_count(F.col("text")).alias("n_urls"),
        TX.email_count(F.col("text")).alias("n_emails"),
        TX.char_count(TX.redact(F.col("text"))).alias("redacted_len"),
        TX.is_quality(F.col("text")).alias("is_quality"),
        S.simhash32(F.col("text")).alias("simhash"),
    ).join(ppl, "doc_id")


@register(
    "text_quality_signals",
    # The round-8 audit columns split out of text_stats (bench-scope
    # freeze): Gopher repetition/shape signals (operators/quality.py,
    # Rae et al. 2021 §A1.1) + BM25 scoring for a fixed query
    # (operators/retrieval.py).  Oracle twins live beside each
    # operator; this gate is intentionally NOT benched — it absorbs
    # future per-doc signal columns so the benched text_stats never
    # changes scope again.
    oracle=f"""
    WITH {_gopher_bm25_ctes()}
    SELECT doc_id,
           {roundn_sql('gq.dup_line_frac', 4)} AS dup_line_frac,
           {roundn_sql('gq.dup_line_char_frac', 4)} AS dup_line_char_frac,
           {roundn_sql('gq.bullet_line_frac', 4)} AS bullet_line_frac,
           {roundn_sql('gq.ellipsis_line_frac', 4)} AS ellipsis_line_frac,
           {roundn_sql('gq.mean_word_len', 4)} AS mean_word_len,
           {roundn_sql('gq.alpha_word_frac', 4)} AS alpha_word_frac,
           {roundn_sql('gq.top2gram_char_frac', 4)} AS top2gram_char_frac,
           {roundn_sql('gq.dup5gram_char_frac', 4)} AS dup5gram_char_frac,
           {roundn_sql('bq.bm25', 4)} AS bm25
    FROM documents LEFT JOIN gq USING (doc_id)
                   LEFT JOIN bq USING (doc_id)
    """,
)
def q_text_quality_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm2pgsql_spark.operators.quality import gopher_signals
    from osm2pgsql_spark.operators.retrieval import bm25_scores

    docs = load_table(spark, sf_dir, "documents")
    gq = gopher_signals(docs)
    gq = gq.select("doc_id", *[round4(F.col(c)).alias(c)
                               for c in gq.columns if c != "doc_id"])
    bq = bm25_scores(docs, _BM25_TERMS).select(
        "doc_id", round4(F.col("bm25")).alias("bm25"))
    return docs.select("doc_id").join(gq, "doc_id").join(bq, "doc_id")


# URL probe: the documents table has no url column, so the gate
# derives one deterministically from (doc_id, source) — same
# expression on both engines — exercising exact-domain, subdomain,
# non-blocked, pattern, and no-host branches.
_URL_PROBE = (
    "CASE WHEN doc_id % 7 = 0 THEN concat('https://ads.example.com/x/', "
    "CAST(doc_id AS {ty})) "
    "WHEN doc_id % 7 = 1 THEN concat('https://sub.tracker.net/p?id=', "
    "CAST(doc_id AS {ty})) "
    "WHEN doc_id % 7 = 2 THEN concat('http://good.org/a/', "
    "CAST(doc_id AS {ty})) "
    "WHEN doc_id % 7 = 3 THEN concat('https://notracker.net/', "
    "CAST(doc_id AS {ty})) "
    "WHEN doc_id % 7 = 4 THEN concat('https://example.com/download.exe?q=', "
    "CAST(doc_id AS {ty})) "
    "WHEN doc_id % 7 = 5 THEN 'not a url' "
    "ELSE concat('https://', source, '.example.org/ok') END"
)
_URL_BLOCKED_DOMAINS = ["ads.example.com", "tracker.net"]
_URL_BLOCKED_PATTERNS = [r"\.exe(\?|$)"]


def _url_filter_oracle() -> str:
    from osm2pgsql_spark.operators.url_filter import url_filter_sql

    return url_filter_sql(
        _URL_BLOCKED_DOMAINS, _URL_BLOCKED_PATTERNS,
        url_expr=_URL_PROBE.format(ty="VARCHAR"),
    )


@register("url_filter_decisions", oracle=_url_filter_oracle())
def q_url_filter_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL / domain blocklist filtering (operators/url_filter.py) —
    the first stage of every crawl-derived corpus build: host
    extraction (regexp, same pattern both engines), broadcast
    blocked-domain join with the subdomain-suffix test, and blocked
    URL patterns.  Keep decisions hash-exact vs the DuckDB twin."""
    from osm2pgsql_spark.operators.url_filter import url_filter

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_URL_PROBE.format(ty="STRING")).alias("url")
    )
    return url_filter(docs, _URL_BLOCKED_DOMAINS, _URL_BLOCKED_PATTERNS)


# PII probe text: the synthetic documents carry no natural PII, so
# the gate plants a deterministic per-doc payload (email + IP + phone
# derived from doc_id, identical expressions on both engines) — the
# counts and the redacted-text hash are then a real test of the
# pattern semantics, not a sea of zeros.
def _pii_probe_sql(cast_ty: str) -> str:
    did = f"CAST(doc_id AS {cast_ty})"
    return (
        f"concat(text, ' contact user', {did}, '@example.com or ',"
        f" {did}, '.mail@sub.example.co.uk ip 10.',"
        f" CAST(doc_id % 200 AS {cast_ty}), '.0.',"
        f" CAST(doc_id % 250 AS {cast_ty}), ' tel 555-',"
        f" CAST(100 + doc_id % 900 AS {cast_ty}), '-',"
        f" CAST(1000 + doc_id % 9000 AS {cast_ty}), ' end')"
    )


def _pii_oracle() -> str:
    from osm2pgsql_spark.operators.pii import pii_counts_sql, pii_redact_sql

    probe = _pii_probe_sql("VARCHAR")
    counts = ", ".join(pii_counts_sql("probe"))
    return f"""
    SELECT doc_id, {counts}, md5({pii_redact_sql('probe')}) AS red_md5
    FROM (SELECT doc_id, {probe} AS probe FROM documents)
    """


@register("pii_scrub", oracle=_pii_oracle())
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (operators/pii.py) — the
    privacy-scrubbing curation stage: per-document email/IPv4/phone
    counts and the md5 of the redacted text, all computed by JVM
    regexp functions in one shuffle-free projection.  The patterns
    live in the Java-RE2 common regex subset, so counts AND the
    redacted text reproduce bit-for-bit in the DuckDB twin."""
    from osm2pgsql_spark.operators.pii import pii_scrub

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_pii_probe_sql("STRING")).alias("text")
    )
    out = pii_scrub(docs)
    return out.select(
        "doc_id", "n_email", "n_ipv4", "n_phone",
        F.md5(F.col("redacted")).alias("red_md5"),
    )


def _classifier_oracle() -> str:
    from osm2pgsql_spark import frozen
    from osm2pgsql_spark.operators.curation import (
        hashed_linear_score_sql, trained_linear_score_sql,
    )

    h_score, h_ntok = hashed_linear_score_sql("text")
    t_score, t_ntok = trained_linear_score_sql(
        frozen.QUALITY_WEIGHTS, frozen.QUALITY_BUCKETS, frozen.QUALITY_BIAS)
    parts = []
    for clf, score, ntok in (("hashed", h_score, h_ntok),
                             ("trained", t_score, t_ntok)):
        parts.append(f"""
        SELECT '{clf}' AS clf, doc_id,
               CAST({ntok} AS BIGINT) AS n_scored_tokens,
               CAST({score} AS BIGINT) AS score_e6,
               {score} > 0 AS is_kept
        FROM documents
        """)
    return " UNION ALL ".join(parts)


@register("quality_classifier", oracle=_classifier_oracle())
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-based quality filtering (the fastText-wiki-ref stage
    of the GPT-3/LLaMA pipelines), both variants as one gate (r10
    VERDICT #3 gate consolidation — `clf` selects the branch):

    - hashed: linear score over hashed bag-of-words features with
      generator weights — integer-exact, ONE shuffle-free projection
      (F.aggregate folds the token array per row,
      operators/curation.py).
    - trained: the same zero-Exchange plan with a REAL trained
      artifact — frozen.QUALITY_WEIGHTS is an integer perceptron
      trained offline by tools/freeze_artifacts.py
      (train_hashed_linear; test_frozen pins retraining bit-equal),
      shipped into the plan as a map literal."""
    from osm2pgsql_spark import frozen
    from osm2pgsql_spark.operators.curation import (
        hashed_linear_score, trained_linear_score,
    )

    docs = load_table(spark, sf_dir, "documents")
    h = hashed_linear_score(docs).select(
        F.lit("hashed").alias("clf"), "doc_id", "n_scored_tokens",
        "score_e6", "is_kept")
    t = trained_linear_score(
        docs, frozen.QUALITY_WEIGHTS, frozen.QUALITY_BUCKETS,
        frozen.QUALITY_BIAS).select(
        F.lit("trained").alias("clf"), "doc_id", "n_scored_tokens",
        "score_e6", "is_kept")
    return h.unionByName(t)


_PACK_WINDOW = 2048


@register(
    "sequence_packing",
    # single-window twin: cum-sum over (md5, doc_id); equal to the
    # two-phase operator because the md5 2-hex-char bucket is a
    # prefix of the order (the token_budget_mix equivalence)
    oracle=f"""
    WITH t AS (SELECT doc_id, n_chars,
                      md5(CAST(doc_id AS VARCHAR)) AS hh FROM documents),
         c AS (SELECT doc_id, n_chars,
                      sum(n_chars) OVER (ORDER BY hh, doc_id) AS cum FROM t)
    SELECT doc_id,
           CAST(n_chars AS BIGINT) AS n_tokens,
           CAST(cum - n_chars AS BIGINT) AS "offset",
           CAST(floor((cum - n_chars) / {_PACK_WINDOW}) AS BIGINT) AS pack_id,
           CAST((cum - n_chars) % {_PACK_WINDOW} AS BIGINT) AS pack_offset
    FROM c
    """,
)
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style training-sequence packing: documents concatenated in
    the deterministic portable order and chopped into fixed
    {_PACK_WINDOW}-token windows.  The global token offset comes from
    the two-phase distributed prefix sum (256-bucket coarse sums + a
    window over the tiny bucket frame + per-bucket fine windows) — no
    single task ever sees the whole corpus, unlike the oracle's
    single-window twin."""
    from osm2pgsql_spark.operators.curation import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    return pack_sequences(docs, window=_PACK_WINDOW, token_col="n_chars")


_CHUNK_TOKENS, _CHUNK_OVERLAP = 48, 12


def _doc_chunks_oracle() -> str:
    from osm2pgsql_spark.operators.curation import chunk_documents_sql

    return chunk_documents_sql(_CHUNK_TOKENS, _CHUNK_OVERLAP)


@register("doc_chunks", oracle=_doc_chunks_oracle())
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (operators/curation.py
    chunk_documents) — RAG / long-context training prep: fixed-size
    token windows with overlap carried between consecutive chunks.
    Narrow JVM plan (split -> explode -> slice, no shuffle); the
    DuckDB twin replays the same window arithmetic with
    list_slice/range."""
    from osm2pgsql_spark.operators.curation import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, _CHUNK_TOKENS, _CHUNK_OVERLAP)


def _hll_oracle() -> str:
    from osm2pgsql_spark.operators.sketch import hll_sql

    toks = ("(SELECT t.tok FROM (SELECT unnest(string_split_regex("
            "lower(trim(text)), '\\s+')) AS tok FROM documents) t "
            "WHERE t.tok <> '') toks")
    parts = []
    for src, vexpr, frm, exact_sql in (
        ("l_partkey", "l_partkey", "lineitem",
         "SELECT count(DISTINCT l_partkey) FROM lineitem"),
        ("o_custkey", "o_custkey", "orders",
         "SELECT count(DISTINCT o_custkey) FROM orders"),
        ("doc_tokens", "tok", toks,
         "SELECT count(DISTINCT t.tok) FROM (SELECT unnest("
         "string_split_regex(lower(trim(text)), '\\s+')) AS tok "
         "FROM documents) t WHERE t.tok <> ''"),
    ):
        parts.append(f"""
        SELECT '{src}' AS src, n_registers_set,
               {roundn_sql('hll_estimate', 4)} AS hll_estimate,
               CAST(({exact_sql}) AS BIGINT) AS exact_ndv
        FROM ({hll_sql(vexpr, frm)})""")
    return " UNION ALL ".join(parts)


def q_hll_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable HyperLogLog cardinality sketch (operators/sketch.py):
    register table + estimate reproduce bit-for-bit in DuckDB because
    the register hash is the cross-engine md5 hash32 and the
    indicator sum is exactly representable.  Three value sets: two
    key columns and the token stream (31 distinct -> exercises the
    linear-counting small-range branch); exact NDV alongside as the
    accuracy cross-check."""
    from osm2pgsql_spark.operators import sketch

    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders")
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(S.tokens(F.col("text"))).alias("tok")
    ).where(F.col("tok") != "")

    def one(src: str, df: DataFrame, col: str) -> DataFrame:
        est = sketch.hll_distinct(df, col).select(
            F.lit(src).alias("src"),
            "n_registers_set",
            round4(F.col("hll_estimate")).alias("hll_estimate"),
        )
        exact = df.where(F.col(col).isNotNull()).agg(
            F.countDistinct(col).cast("long").alias("exact_ndv")
        )
        return est.crossJoin(F.broadcast(exact))

    return (
        one("l_partkey", li, "l_partkey")
        .unionByName(one("o_custkey", od, "o_custkey"))
        .unionByName(one("doc_tokens", toks, "tok"))
    )


_BLOOM_SRCS = ("src0", "src1", "src2", "src3")
# (label, m_bits, k): a healthy filter (designed-rate FPs ~ 0) and a
# deliberately undersized one — false positives are part of the Bloom
# CONTRACT and must reproduce bit-for-bit across engines
_BLOOM_SIZES = (("sized", 1 << 14, 5), ("tiny", 512, 2))


def _bloom_oracle() -> str:
    from osm2pgsql_spark.operators.sketch import (
        bloom_build_sql, bloom_probe_sql,
    )

    srcs = ", ".join(f"'{s}'" for s in _BLOOM_SRCS)
    parts = []
    for label, m_bits, k in _BLOOM_SIZES:
        build = bloom_build_sql(
            "text", "documents", m_bits, k, where=f"source IN ({srcs})"
        )
        probe = bloom_probe_sql(
            "text", "doc_id", "documents", f"reg_{label}", m_bits, k
        )
        parts.append(f"""
        SELECT '{label}' AS filter, p.doc_id,
               d.source IN ({srcs}) AS in_build, p.maybe_member
        FROM ({probe}) p JOIN documents d USING (doc_id)
        """)
        parts[-1] = f"WITH reg_{label} AS ({build}) {parts[-1]}"
    return " UNION ALL ".join(f"SELECT * FROM ({p})" for p in parts)


def q_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable Bloom-filter membership (operators/sketch.py): the
    ingest-time "seen before?" primitive — build the filter on four
    sources' documents, probe the whole corpus.  Registers are 32-bit
    words keyed by md5-hash32 positions, mergeable across shards and
    engines by bit-OR, so membership answers — INCLUDING the
    undersized filter's false positives — are bit-identical to the
    DuckDB twin.  in_build is the ground truth column: maybe_member
    may exceed it (false positives), never miss it."""
    from osm2pgsql_spark.operators import sketch

    docs = load_table(spark, sf_dir, "documents")
    build = docs.where(F.col("source").isin(*_BLOOM_SRCS))
    truth = docs.select(
        "doc_id", F.col("source").isin(*_BLOOM_SRCS).alias("in_build")
    )
    out = None
    for label, m_bits, k in _BLOOM_SIZES:
        reg = sketch.bloom_registers(build, "text", m_bits, k)
        res = sketch.bloom_contains(
            reg, docs, "text", ["doc_id"], m_bits, k
        ).join(truth, "doc_id").select(
            F.lit(label).alias("filter"), "doc_id", "in_build",
            "maybe_member",
        )
        out = res if out is None else out.unionByName(res)
    return out


# (label, relation/column, depth, width): a wide sketch (near-exact at
# this vocabulary) and a deliberately narrow one — collision
# overcounts are the sketch's designed trade-off and must reproduce
# bit-for-bit across engines
_CMS_CONFIGS = (("wide", 4, 1 << 12), ("narrow", 2, 16))


def _cms_oracle() -> str:
    from osm2pgsql_spark.operators.sketch import (
        cms_build_sql, cms_estimate_sql,
    )

    tok_rel = f"""(SELECT t.tok FROM (SELECT unnest({
        S.tokens_sql('text')}) AS tok FROM documents) t
        WHERE t.tok <> '')"""
    parts = []
    for label, depth, width in _CMS_CONFIGS:
        build = cms_build_sql("tok", f"{tok_rel} AS toks", depth, width)
        est = cms_estimate_sql(
            "tok", "tok", f"{tok_rel} AS toks2", f"reg_{label}",
            depth, width,
        )
        parts.append(f"""
        WITH reg_{label} AS ({build}),
        exact AS (SELECT tok, count(*) AS exact_count
                  FROM {tok_rel} AS toks3 GROUP BY 1)
        SELECT '{label}' AS sketch, e.tok, e.cms_count, x.exact_count
        FROM ({est}) e JOIN exact x USING (tok)
        """)
    return " UNION ALL ".join(f"SELECT * FROM ({p})" for p in parts)


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable count-min sketch (operators/sketch.py, Cormode &
    Muthukrishnan 2005): per-token frequency estimates from a
    depth x width counter table mergeable across shards/engines by
    per-cell SUM — the heavy-hitter primitive at 100 TB (hot tokens /
    URLs / join keys) without a full groupBy of raw values.  Always
    cms_count >= exact_count (one-sided error); the narrow sketch's
    collision overcounts are part of the gate and reproduce
    bit-for-bit in DuckDB."""
    from osm2pgsql_spark.operators import sketch

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(S.tokens(F.col("text"))).alias("tok")
    ).where(F.col("tok") != "")
    exact = toks.groupBy("tok").agg(
        F.count(F.lit(1)).alias("exact_count")
    )
    out = None
    for label, depth, width in _CMS_CONFIGS:
        reg = sketch.cms_registers(toks, "tok", depth, width)
        res = sketch.cms_estimate(reg, toks, "tok", depth, width).join(
            exact, "tok"
        ).select(
            F.lit(label).alias("sketch"), "tok", "cms_count",
            "exact_count",
        )
        out = res if out is None else out.unionByName(res)
    return out


def _sketch_suite_oracle() -> str:
    hll = (
        f"SELECT 'hll' AS fam, src AS key,"
        f" CAST(n_registers_set AS DOUBLE) AS v1,"
        f" CAST(hll_estimate AS DOUBLE) AS v2,"
        f" CAST(exact_ndv AS DOUBLE) AS v3 FROM ({_hll_oracle()})"
    )
    bloom = (
        f"SELECT 'bloom_' || filter AS fam,"
        f" CAST(doc_id AS VARCHAR) AS key,"
        f" CAST(CAST(in_build AS INT) AS DOUBLE) AS v1,"
        f" CAST(CAST(maybe_member AS INT) AS DOUBLE) AS v2,"
        f" -1.0e0 AS v3 FROM ({_bloom_oracle()})"
    )
    cms = (
        f"SELECT 'cms_' || sketch AS fam, tok AS key,"
        f" CAST(cms_count AS DOUBLE) AS v1,"
        f" CAST(exact_count AS DOUBLE) AS v2,"
        f" -1.0e0 AS v3 FROM ({_cms_oracle()})"
    )
    return " UNION ALL ".join((hll, bloom, cms))


@register("sketch_suite", oracle=_sketch_suite_oracle())
def q_sketch_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The portable-sketch family (operators/sketch.py) as ONE gate
    with a `fam` branch column (r10 VERDICT #3 gate consolidation —
    the driver's 50-slot budget samples the whole family through this
    row): HyperLogLog cardinality (3 value sets incl. the
    linear-counting branch), Bloom membership (sized + deliberately
    undersized filters — false positives are part of the contract),
    and count-min frequency (wide + narrow — collision overcounts
    included).  All three sketches hash with the cross-engine md5
    hash32, so registers AND estimates reproduce bit-for-bit in the
    DuckDB twin.  Long-form normalization: (fam, key, v1, v2, v3)
    with -1 for branch-absent values (all sketch counts are exact
    doubles far below 2^53)."""
    hll = q_hll_distinct_counts(spark, sf_dir).select(
        F.lit("hll").alias("fam"),
        F.col("src").alias("key"),
        F.col("n_registers_set").cast("double").alias("v1"),
        F.col("hll_estimate").cast("double").alias("v2"),
        F.col("exact_ndv").cast("double").alias("v3"),
    )
    bloom = q_bloom_membership(spark, sf_dir).select(
        F.concat(F.lit("bloom_"), F.col("filter")).alias("fam"),
        F.col("doc_id").cast("string").alias("key"),
        F.col("in_build").cast("double").alias("v1"),
        F.col("maybe_member").cast("double").alias("v2"),
        F.lit(-1.0).alias("v3"),
    )
    cms = q_cms_heavy_hitters(spark, sf_dir).select(
        F.concat(F.lit("cms_"), F.col("sketch")).alias("fam"),
        F.col("tok").alias("key"),
        F.col("cms_count").cast("double").alias("v1"),
        F.col("exact_count").cast("double").alias("v2"),
        F.lit(-1.0).alias("v3"),
    )
    return hll.unionByName(bloom).unionByName(cms)


_UNIMAX_BUDGET = 40_000
_UNIMAX_EPOCHS = 2


def _unimax_oracle() -> str:
    B, E = _UNIMAX_BUDGET, _UNIMAX_EPOCHS
    return f"""
    WITH d AS (SELECT doc_id, lang AS grp,
                      {TX.token_count_sql('text')} AS n_tokens
               FROM documents),
    caps AS (SELECT grp, sum(n_tokens) AS avail, sum(n_tokens) * {E} AS cap
             FROM d GROUP BY 1),
    wf AS (SELECT grp, avail, cap,
                  row_number() OVER (ORDER BY cap, grp) AS idx,
                  coalesce(sum(cap) OVER (ORDER BY cap, grp
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING), 0) AS pfx,
                  count(*) OVER () AS n
           FROM caps),
    wf2 AS (SELECT *, (pfx + cap * (n - idx + 1) <= {B}) AS isfull FROM wf),
    wf3 AS (SELECT *,
                   coalesce(sum(CASE WHEN isfull THEN cap END) OVER (), 0)
                       AS sum_full,
                   coalesce(sum(CASE WHEN isfull THEN 1 ELSE 0 END)
                            OVER (), 0) AS n_full
            FROM wf2),
    alloc AS (SELECT grp, avail,
                     greatest(CASE WHEN isfull THEN cap
                       ELSE ({B} - sum_full) // greatest(n - n_full, 1)
                            + CASE WHEN idx - n_full <=
                                   ({B} - sum_full) % greatest(n - n_full, 1)
                              THEN 1 ELSE 0 END END, 0) AS alloc
              FROM wf3),
    ofs AS (SELECT d.*,
                   coalesce(sum(n_tokens) OVER (PARTITION BY grp
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING), 0) AS off
            FROM d)
    SELECT doc_id, grp, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST((alloc // greatest(avail, 1))
                + CASE WHEN off < (alloc % greatest(avail, 1))
                  THEN 1 ELSE 0 END AS BIGINT) AS n_epochs,
           CAST(avail AS BIGINT) AS avail_tokens,
           CAST(alloc AS BIGINT) AS alloc_tokens
    FROM ofs JOIN alloc USING (grp)
    """


@register("unimax_mixture", oracle=_unimax_oracle())
def q_unimax_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax language sampling (operators/curation.py, Chung et al.
    2023): closed-form integer waterfill allocates a 40k-token budget
    across languages capping each at 2 epochs (the skewed `en` ends
    partial, the small languages cap out), then the two-phase
    distributed prefix sum realizes each allocation as per-document
    epoch counts in the portable (md5, key) order — no global or
    per-group single-task window.  n_epochs = 0 rows are returned
    (auditable drops); the oracle replays allocation AND selection as
    one windowed SQL query."""
    from osm2pgsql_spark.operators import curation

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", "lang",
        TX.token_count(F.col("text")).alias("n_tokens"),
    )
    mix = curation.unimax_mixture(
        d, _UNIMAX_BUDGET, group_col="lang", key_col="doc_id",
        token_col="n_tokens", max_epochs=_UNIMAX_EPOCHS,
    )
    alloc = curation.unimax_allocation(
        d, _UNIMAX_BUDGET, group_col="lang", token_col="n_tokens",
        max_epochs=_UNIMAX_EPOCHS,
    )
    return mix.join(F.broadcast(alloc), "group").select(
        "doc_id", F.col("group").alias("grp"), "n_tokens", "n_epochs",
        "avail_tokens", "alloc_tokens",
    )


def _ccnet_oracle() -> str:
    return f"""
    WITH tri AS (SELECT doc_id, substr(text, CAST(i AS INT), 3) AS g3
                 FROM documents,
                      UNNEST(range(1, greatest(length(text) - 1, 1))) AS u(i)),
    m3 AS (SELECT g3, count(*) AS c3 FROM tri GROUP BY g3),
    m2 AS (SELECT substr(g3, 1, 2) AS p2, sum(c3) AS c2 FROM m3 GROUP BY 1),
    sc AS (SELECT doc_id, avg(ln(c3 * 1.0 / c2)) AS lp
           FROM tri JOIN m3 USING (g3)
                    JOIN m2 ON substr(tri.g3, 1, 2) = m2.p2
           GROUP BY doc_id),
    p AS (SELECT doc_id, {roundn_sql('exp(-lp)', 4)} AS ppl3 FROM sc
          WHERE lp IS NOT NULL),
    r AS (SELECT doc_id, ppl3,
                 row_number() OVER (ORDER BY ppl3, doc_id) AS rank,
                 count(*) OVER () AS n
          FROM p)
    SELECT doc_id, ppl3, CAST(rank AS BIGINT) AS rank,
           (['head', 'middle', 'tail'])[
               CAST(floor((rank - 1) * 3.0 / n) AS INT) + 1] AS bucket
    FROM r
    """


@register("ccnet_ppl_buckets", oracle=_ccnet_oracle())
def q_ccnet_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail perplexity terciles (arXiv:1911.00359):
    exact global rank over (ppl3, doc_id) WITHOUT a global sort — the
    coarse-histogram distributed rank (operators/curation.py) — then
    the explicit floor((rank-1)*k/n) bucket formula (NTILE remainder
    placement differs across engines and is avoided)."""
    from osm2pgsql_spark.operators import lm
    from osm2pgsql_spark.operators.curation import ccnet_buckets

    docs = load_table(spark, sf_dir, "documents")
    ppl = lm.perplexity3(docs).select(
        "doc_id", round4(F.col("ppl3")).alias("ppl3"))
    return ccnet_buckets(ppl)


_QUANTILE_QS = (0.25, 0.5, 0.75, 0.9, 0.99)


def _quantiles_oracle() -> str:
    # e0 suffix: bare 0.25 parses as DECIMAL in DuckDB (PERF_NOTES)
    vals = ", ".join(f"({q!r}e0)" for q in _QUANTILE_QS)
    return f"""
    WITH r AS (SELECT cast(n_chars AS double) AS v, doc_id,
                      row_number() OVER (ORDER BY n_chars, doc_id) AS rnk
               FROM documents),
         n AS (SELECT count(*) AS c FROM documents)
    SELECT q, v AS value
    FROM (VALUES {vals}) AS quantiles(q)
    JOIN r ON r.rnk = CAST(ceil(q * (SELECT c FROM n)) AS BIGINT)
    """


@register("exact_quantiles", oracle=_quantiles_oracle())
def q_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT corpus quantiles (value at rank ceil(q*n), total order
    (value, key)) via the de-skewed distributed rank — the
    threshold-selection primitive (length caps, perplexity cutoffs)
    without approxQuantile's sampling error or a global sort."""
    from osm2pgsql_spark.operators.curation import exact_quantiles

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").cast("double").alias("v"))
    return exact_quantiles(docs, "v", "doc_id", qs=_QUANTILE_QS)


# ---------------------------------------------------------------------------
# dedup: MinHash + LSH candidate pairs + exact Jaccard verification
# ---------------------------------------------------------------------------

_MH_K = 8
_MH_BAND_ROWS = 2
_MH_PARAMS = S.minhash_params(_MH_K)


def _minhash_ctes() -> str:
    """The shared minhash/LSH CTE chain (tokens -> shingles -> hashes
    -> signatures -> bands -> candidates -> verified jaccard)."""
    mh_cols = ", ".join(
        f"min({S.minhash_value_sql('h', a, b)}) AS mh{i}"
        for i, (a, b) in enumerate(_MH_PARAMS)
    )
    n_bands = _MH_K // _MH_BAND_ROWS
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, concat({cols}) AS sig FROM mh".format(
            b=b,
            cols=", '_', ".join(
                f"mh{b * _MH_BAND_ROWS + r}" for r in range(_MH_BAND_ROWS)
            ),
        )
        for b in range(n_bands)
    )
    return f"""toks AS (SELECT doc_id, {S.tokens_sql('text')} AS t FROM documents),
         shl AS (SELECT doc_id, {S.shingles_from_tokens_sql('t', 3)} AS sh FROM toks),
         sh AS (SELECT doc_id, unnest(sh) AS shingle FROM shl),
         hs AS (SELECT doc_id, {S.hash32_sql('shingle')} AS h FROM sh),
         mh AS (SELECT doc_id, {mh_cols} FROM hs GROUP BY doc_id),
         bands AS ({band_selects}),
         cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
            WHERE a.doc_id < b.doc_id),
         jac AS (
            SELECT doc_a, doc_b,
                   {roundn_sql('cast(len(list_intersect(sa.sh, sb.sh)) AS double) / len(list_distinct(list_concat(sa.sh, sb.sh)))', 4)} AS jaccard
            FROM cand
            JOIN shl sa ON sa.doc_id = doc_a
            JOIN shl sb ON sb.doc_id = doc_b)"""


def _minhash_oracle() -> str:
    return f"""
    WITH {_minhash_ctes()}
    SELECT doc_a, doc_b, jaccard FROM jac WHERE jaccard >= 0.2
    """


@register("minhash_near_dups", oracle=_minhash_oracle())
def q_minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.verified_near_dups(
        docs, k=_MH_K, rows_per_band=_MH_BAND_ROWS, shingle_n=3, min_jaccard=0.2
    )


@register(
    "ngram_jaccard",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {S.tokens_sql('text')} AS t FROM documents),
         shl AS (SELECT doc_id, {S.shingles_from_tokens_sql('t', 3)} AS sh FROM toks)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           {roundn_sql('cast(len(list_intersect(a.sh, b.sh)) AS double) / len(list_distinct(list_concat(a.sh, b.sh)))', 4)} AS jaccard
    FROM shl a JOIN shl b ON b.doc_id = a.doc_id + 1
    WHERE len(a.sh) > 0 AND len(b.sh) > 0
    """,
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone n-gram (shingle-set) Jaccard as a first-class
    operator: similarity of consecutive document pairs — one ordered
    equi-join on doc_id, JVM-side array_intersect/array_union, no
    candidate generation required (the LSH-candidate variant is gated
    by minhash_near_dups)."""
    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id", S.shingles_from_tokens(S.tokens(F.col("text")), 3).alias("sh")
    ).where(F.size("sh") > 0)
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(
        (F.col("doc_id") - 1).alias("doc_a"),
        F.col("doc_id").alias("doc_b"),
        F.col("sh").alias("sh_b"),
    )
    return a.join(b, "doc_a").select(
        "doc_a",
        "doc_b",
        round4(
            F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
            / F.size(F.array_union("sh_a", "sh_b"))
        ).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# similarity search: exact brute-force cosine top-k (ANN baseline)
# ---------------------------------------------------------------------------

_ANN_K = 5
_ANN_NQ = 20


@register(
    "ann_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < {_ANN_NQ}),
         c AS (SELECT vec_id AS neighbor_id, embedding AS nv FROM embeddings),
         scored AS (
            SELECT query_id, neighbor_id,
                   list_sum(list_transform(generate_series(1, len(qv)),
                            i -> cast(qv[i] AS double) * cast(nv[i] AS double)))
                   / (sqrt(list_sum(list_transform(generate_series(1, len(qv)),
                            i -> cast(qv[i] AS double) * cast(qv[i] AS double))))
                    * sqrt(list_sum(list_transform(generate_series(1, len(nv)),
                            i -> cast(nv[i] AS double) * cast(nv[i] AS double))))) AS sim
            FROM q, c WHERE query_id <> neighbor_id),
         ranked AS (
            SELECT query_id, neighbor_id, sim,
                   row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
            FROM scored)
    SELECT query_id, neighbor_id, rank, {roundn_sql('sim', 6)} AS sim
    FROM ranked WHERE rank <= {_ANN_K}
    """,
)
def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.where(F.col("vec_id") < _ANN_NQ)
    return ann.brute_force_topk(e, queries, k=_ANN_K)


# ---------------------------------------------------------------------------
# incremental/streaming analog: sessionization over the events stream
# (batch shape of Structured Streaming state logic)
# ---------------------------------------------------------------------------

_SESSION_GAP_US = 30 * 60 * 1_000_000


@register(
    "sessionize",
    oracle=f"""
    WITH e AS (
        SELECT user_id, event_id, epoch_us(ts) AS tus,
               lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev
        FROM events),
         marked AS (
        SELECT user_id, event_id, tus,
               CASE WHEN prev IS NULL OR tus - prev > {_SESSION_GAP_US} THEN 1 ELSE 0 END AS new_session
        FROM e),
         sess AS (
        SELECT user_id,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY tus, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM marked),
         per_session AS (
        SELECT user_id, session_id, count(*) AS n_events
        FROM sess GROUP BY user_id, session_id)
    SELECT user_id,
           count(*) AS n_sessions,
           cast(sum(n_events) AS bigint) AS n_events,
           max(n_events) AS max_session_events
    FROM per_session GROUP BY user_id
    """,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    tus = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id").orderBy(tus, F.col("event_id"))
    marked = e.select(
        "user_id",
        F.col("event_id"),
        tus.alias("tus"),
        F.when(
            F.lag(tus).over(w).isNull() | ((tus - F.lag(tus).over(w)) > _SESSION_GAP_US),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("new_session"),
    )
    # total ordering (ts ties broken by event_id) keeps session
    # assignment deterministic even if timestamps ever collide
    w2 = (
        Window.partitionBy("user_id")
        .orderBy("tus", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sess = marked.select("user_id", F.sum("new_session").over(w2).alias("session_id"))
    per_session = sess.groupBy("user_id", "session_id").agg(F.count(F.lit(1)).alias("n_events"))
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").alias("n_events"),
        F.max("n_events").alias("max_session_events"),
    )


# ---------------------------------------------------------------------------
# windowed event-time aggregation (streaming windowed-agg batch shape)
# ---------------------------------------------------------------------------

@register(
    "events_hourly",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS hour,
           event_type,
           count(*) AS n,
           {roundn_sql('sum(value)', 4)} AS sum_value,
           count(DISTINCT user_id) AS n_users
    FROM events GROUP BY 1, 2
    """,
)
def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), F.col("event_type")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        round4(F.sum("value")).alias("sum_value"),
        F.countDistinct("user_id").alias("n_users"),
    )


# ---------------------------------------------------------------------------
# §2.5/§2.6 discrete isolation (gen-discrete-isolation.cpp)
# ---------------------------------------------------------------------------

_DI_POINTS_SQL = """
    SELECT c_custkey AS id,
           ((c_custkey * 13) % 1000) / 10.0e0 AS x,
           ((c_custkey * 29) % 1000) / 10.0e0 AS y,
           c_acctbal AS importance
    FROM customer
"""


@register(
    "discrete_isolation",
    oracle=f"""
    WITH pts AS ({_DI_POINTS_SQL}),
         iso AS (
            SELECT a.id, a.importance,
                   min(sqrt((b.x - a.x) * (b.x - a.x) + (b.y - a.y) * (b.y - a.y))) AS iso
            FROM pts a LEFT JOIN pts b
              ON (b.importance > a.importance)
                 OR (b.importance = a.importance AND b.id < a.id)
            GROUP BY a.id, a.importance)
    SELECT id,
           row_number() OVER (ORDER BY importance DESC, id) AS irank,
           {roundn_sql('iso', 4)} AS iso
    FROM iso
    """,
)
def q_discrete_isolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    pts = c.select(
        F.col("c_custkey").alias("id"),
        (((F.col("c_custkey") * 13) % 1000) / 10.0).alias("x"),
        (((F.col("c_custkey") * 29) % 1000) / 10.0).alias("y"),
        F.col("c_acctbal").alias("importance"),
    )
    # grid() is the 100 TB plan (3x3 cell-neighborhood join + bounded
    # fallback) and is result-identical to exact() — gate the scale
    # path.  cell=4 balances neighborhood fan-out (join output rows)
    # against residue size on this point density (swept at sf0.1:
    # 1.5/2/3/4/6 -> 2.6/2.0/2.0/1.75/1.78 s warm).
    return isolation.grid(pts, cell=4.0)


# ---------------------------------------------------------------------------
# §2.4 relation -> member join (two-level fetch, middle.hpp:80-89):
# synthetic relations = customers, members = their orders ('w' refs)
# ---------------------------------------------------------------------------

@register(
    "relation_member_join",
    oracle="""
    SELECT o.o_custkey AS rel_id,
           count(*) AS n_members,
           min(o.o_orderkey) AS first_member,
           cast(sum(li.n_lines) AS bigint) AS total_refs
    FROM orders o
    JOIN (SELECT l_orderkey, count(*) AS n_lines FROM lineitem GROUP BY l_orderkey) li
      ON li.l_orderkey = o.o_orderkey
    GROUP BY o.o_custkey
    """,
)
def q_relation_member_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    way_sizes = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n_lines"))
    j = o.join(way_sizes, o["o_orderkey"] == way_sizes["l_orderkey"], "inner")
    return j.groupBy(F.col("o_custkey").alias("rel_id")).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("o_orderkey").alias("first_member"),
        F.sum("n_lines").alias("total_refs"),
    )


# ---------------------------------------------------------------------------
# §2.5 user table: distinct (uid, name) upsert (middle-pgsql.cpp:1065-1105)
# ---------------------------------------------------------------------------

@register(
    "user_table",
    oracle="""
    SELECT user_id AS uid,
           count(*) AS n_objects,
           min(event_id) AS first_object
    FROM events GROUP BY user_id
    """,
)
def q_user_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.groupBy(F.col("user_id").alias("uid")).agg(
        F.count(F.lit(1)).alias("n_objects"),
        F.min("event_id").alias("first_object"),
    )


# ---------------------------------------------------------------------------
# §2.6 importance rank window (gen-discrete-isolation.cpp:82-95)
# ---------------------------------------------------------------------------

@register(
    "importance_rank",
    oracle="""
    SELECT c_custkey AS id,
           row_number() OVER (ORDER BY c_acctbal DESC, c_custkey) AS irank,
           c_mktsegment AS segment
    FROM customer
    """,
)
def q_importance_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    w = Window.orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return c.select(
        F.col("c_custkey").alias("id"),
        F.row_number().over(w).alias("irank"),
        F.col("c_mktsegment").alias("segment"),
    )


# ---------------------------------------------------------------------------
# §2.7 top-k per group (sorts/limits layer)
# ---------------------------------------------------------------------------

@register(
    "topk_per_group",
    oracle="""
    WITH r AS (
      SELECT event_type, event_id, value,
             row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rnk
      FROM events)
    SELECT event_type, event_id, value, rnk FROM r WHERE rnk <= 3
    """,
)
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        e.select("event_type", "event_id", "value", F.row_number().over(w).alias("rnk"))
        .where(F.col("rnk") <= 3)
    )


# ---------------------------------------------------------------------------
# §2.5 quadkey bucketing (tile.hpp quadkey; spatial partition key)
# ---------------------------------------------------------------------------

_QK_ZOOM = 8


def _quadkey_sql(x: str, y: str, zoom: int) -> str:
    terms = []
    for i in range(zoom):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


@register(
    "quadkey_buckets",
    oracle=f"""
    WITH nodes AS ({osm_synth.NODES_SQL}),
         t AS (SELECT {TI.tile_x_sql('lon', _QK_ZOOM)} AS x,
                      {TI.tile_y_sql('lat', _QK_ZOOM)} AS y
               FROM nodes)
    SELECT {_quadkey_sql('x', 'y', _QK_ZOOM)} AS quadkey,
           count(*) AS n
    FROM t GROUP BY 1
    """,
)
def q_quadkey_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = osm_synth.nodes(spark, sf_dir)
    t = n.select(
        TI.tile_x(F.col("lon"), _QK_ZOOM).alias("x"),
        TI.tile_y(F.col("lat"), _QK_ZOOM).alias("y"),
    )
    return t.select(TI.quadkey(F.col("x"), F.col("y"), _QK_ZOOM).alias("quadkey")).groupBy(
        "quadkey"
    ).agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------------------
# §1.4 flex column-cast semantics (flex-write.cpp:261-469): boolean /
# direction / int-with-overflow casts over synthetic tag strings
# ---------------------------------------------------------------------------

_BOOL_STR = (
    "CASE p_partkey % 5 WHEN 0 THEN 'yes' WHEN 1 THEN 'no' WHEN 2 THEN 'true' "
    "WHEN 3 THEN 'maybe' ELSE '1' END"
)
_DIR_STR = (
    "CASE p_partkey % 4 WHEN 0 THEN 'yes' WHEN 1 THEN '-1' WHEN 2 THEN '0' ELSE 'x' END"
)
_INT_STR = (
    "CASE p_partkey % 4 WHEN 0 THEN cast(p_partkey AS string) "
    "WHEN 1 THEN '99999999999999999999' WHEN 2 THEN '3.5' ELSE '-7' END"
)


@register(
    "flex_casts",
    oracle=f"""
    SELECT p_partkey AS id,
           CASE WHEN ({_BOOL_STR}) IN ('yes','true','1') THEN true
                WHEN ({_BOOL_STR}) IN ('no','false','0') THEN false
                ELSE NULL END AS as_bool,
           CASE WHEN ({_DIR_STR}) IN ('yes','1') THEN cast(1 AS smallint)
                WHEN ({_DIR_STR}) IN ('no','0') THEN cast(0 AS smallint)
                WHEN ({_DIR_STR}) = '-1' THEN cast(-1 AS smallint)
                ELSE NULL END AS as_direction,
           CASE WHEN regexp_full_match(({_INT_STR}), '[+-]?\\d+')
                     AND cast(({_INT_STR}) AS HUGEINT) BETWEEN -9223372036854775808 AND 9223372036854775807
                THEN cast(({_INT_STR}) AS bigint) ELSE NULL END AS as_int8
    FROM part
    """,
)
def q_flex_casts(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.select(
        F.col("p_partkey").alias("id"),
        TG.cast_boolean(F.expr(_BOOL_STR)).alias("as_bool"),
        TG.cast_direction(F.expr(_DIR_STR)).alias("as_direction"),
        TG.cast_integer(F.expr(_INT_STR), "int8").alias("as_int8"),
    )


# ---------------------------------------------------------------------------
# §2.3 wildcard (glob) tag filtering (wildcmp.cpp + style files)
# ---------------------------------------------------------------------------

@register(
    "wildcard_tag_filter",
    oracle="""
    SELECT p_partkey AS id, p_type, p_brand
    FROM part
    WHERE (p_type LIKE 'STANDARD%' OR p_type LIKE 'PROMO%')
      AND p_brand NOT LIKE 'Brand#1%'
    """,
)
def q_wildcard_tag_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    keep = F.col("p_type").rlike(TG.glob_to_regex("STANDARD*")) | F.col("p_type").rlike(
        TG.glob_to_regex("PROMO*")
    )
    drop = F.col("p_brand").rlike(TG.glob_to_regex("Brand#1*"))
    return p.where(keep & ~drop).select(
        F.col("p_partkey").alias("id"), "p_type", "p_brand"
    )


# ---------------------------------------------------------------------------
# dedup: SimHash hamming-distance near-dup pairs (integer-exact).
# Gated plan: pigeonhole multi-index banding — max_hamming+1 bit-bands,
# equi-join on (band, value), hamming verified on candidates only.
# LOSSLESS for the threshold (<= max_hamming differing bits cannot
# touch all bands), so the all-pairs SQL below is an exact oracle twin
# while the physical plan has no cross join.  64-bit hashes are the
# at-scale default (6 -> 7 bands of 9-10 bits, 2^9+ values per band;
# 32-bit bands saturate past ~10^8 docs — see simhash64 docstring).
# ---------------------------------------------------------------------------

_SH_MAX_HAMMING = 6


@register(
    "simhash_hamming_pairs",
    oracle=f"""
    WITH sh AS (SELECT doc_id, {S.simhash64_sql('text')} AS simhash FROM documents)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {_SH_MAX_HAMMING}
    """,
)
def q_simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # localCheckpoint, not persist: the hash table feeds both join
    # sides and the gate has no unpersist point (storage self-cleans)
    sh = dedup.simhash_table(docs).localCheckpoint()
    return dedup.simhash_hamming_pairs(sh, max_hamming=_SH_MAX_HAMMING)


# ---------------------------------------------------------------------------
# §2.10 expire over line geometries through the REAL 0.4-tile-step
# line-walk kernel (reference src/expire-tiles.cpp:268-322): synthetic
# horizontal mercator segments whose endpoints sit at tile-fraction
# .5/.3 (never within the 0.1 buffer of a tile edge), so the walk's
# dirty set is the closed-form integer range [floor(xa-.1),
# floor(xb+.1)] on one tile row — an exact integer oracle for the
# procedural walk.
# ---------------------------------------------------------------------------

@register(
    "expire_line_tiles",
    oracle="""
    WITH seg AS (
        SELECT (p_partkey * 7) % 131 + 8 AS x0,
               (p_partkey * 7) % 131 + 8 + (p_partkey % 29) + 1 AS x1,
               (p_partkey % 180) + 38 AS y
        FROM part)
    SELECT DISTINCT cast(xx AS bigint) AS x, cast(y AS bigint) AS y
    FROM (SELECT unnest(generate_series(x0, x1)) AS xx, y FROM seg)
    """,
)
def q_expire_line_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm2pgsql_spark.operators import geom_udfs
    from osm2pgsql_spark.operators.expire import (
        EARTH_CIRCUMFERENCE,
        ExpireConfig,
        dirty_tiles,
    )

    map_w = 256.0  # zoom 8
    p = load_table(spark, sf_dir, "part")
    k = F.col("p_partkey")
    xa = (k * 7 % 131) + F.lit(8.5)
    xb = xa + (k % 29) + F.lit(0.8)
    yt = (k % 180) + F.lit(38.5)

    def merc_x(xt):
        return (xt / map_w - 0.5) * EARTH_CIRCUMFERENCE

    def merc_y(yt_):
        return (0.5 - yt_ / map_w) * EARTH_CIRCUMFERENCE

    lines = p.select(
        assembly.pts_to_linestring_wkb(
            F.array(
                _xy(merc_x(xa), merc_y(yt)), _xy(merc_x(xb), merc_y(yt))
            )
        ).alias("geom")
    )
    return dirty_tiles(lines, ExpireConfig(maxzoom=8), wkb_col="geom")


# ---------------------------------------------------------------------------
# similarity search: LSH-bucketed ANN (the 100 TB scale path) —
# rows-only: bucketing is recall<1 by construction, the brute-force
# query above is the oracle-matched baseline
# ---------------------------------------------------------------------------

_LSH_BITS = 10


def _rp_sig_sql(plane_bits: list[list[float]]) -> str:
    """Bucket id for a list of +-1 hyperplanes: sign-of-dot bits
    packed into a BIGINT (the SQL twin of ann._band_sig /
    random_projection_buckets)."""
    bit_terms = []
    for j, comps in enumerate(plane_bits):
        lits = ", ".join(f"{c}e0" for c in comps)
        dot = (
            f"list_sum(list_transform(generate_series(1, {len(comps)}), "
            f"i -> cast(embedding[i] AS double) * ([{lits}])[i]))"
        )
        bit_terms.append(
            f"(case when ({dot}) > 0 then cast({1 << j} as bigint) else cast(0 as bigint) end)"
        )
    return " + ".join(bit_terms)


def _ann_lsh_oracle() -> str:
    sig = _rp_sig_sql(ann.rp_bucket_components(_LSH_BITS, 64))
    return f"""
    WITH e AS (SELECT vec_id, embedding FROM embeddings),
         b AS (SELECT vec_id, embedding, ({sig}) AS bucket FROM e),
         q AS (SELECT vec_id AS query_id, embedding AS qv, bucket
               FROM b WHERE vec_id < {_ANN_NQ}),
         c AS (SELECT vec_id AS neighbor_id, embedding AS nv, bucket FROM b),
         scored AS (
            SELECT query_id, neighbor_id,
                   list_sum(list_transform(generate_series(1, len(qv)),
                            i -> cast(qv[i] AS double) * cast(nv[i] AS double)))
                   / (sqrt(list_sum(list_transform(generate_series(1, len(qv)),
                            i -> cast(qv[i] AS double) * cast(qv[i] AS double))))
                    * sqrt(list_sum(list_transform(generate_series(1, len(nv)),
                            i -> cast(nv[i] AS double) * cast(nv[i] AS double))))) AS sim
            FROM q JOIN c USING (bucket) WHERE query_id <> neighbor_id),
         ranked AS (
            SELECT query_id, neighbor_id, sim,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY sim DESC, neighbor_id) AS rank
            FROM scored)
    SELECT query_id, neighbor_id, rank, {roundn_sql('sim', 6)} AS sim
    FROM ranked WHERE rank <= {_ANN_K}
    """


@register("ann_lsh_topk", oracle=_ann_lsh_oracle())
def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    queries_df = e.where(F.col("vec_id") < _ANN_NQ)
    return ann.lsh_topk(e, queries_df, k=_ANN_K, n_bits=_LSH_BITS)


# ---------------------------------------------------------------------------
# §2.5 relation multilinestring assembly + line_merge through the real
# kernels (geom-functions.cpp:594-767): per square fixture an open
# L-chain of two ways — the second stored REVERSED so the merge must
# flip orientation — plus a disjoint vertical segment; hole-variant
# rows add a fourth way that bridges the two components into one
# chain.  n_parts / n_points / total length are closed-form.
# ---------------------------------------------------------------------------

@register(
    "relation_multiline_merge",
    oracle=f"""
    SELECT p_partkey AS rel_id,
           cast(CASE WHEN {osm_synth.SQUARE_HOLE_SQL} THEN 1 ELSE 2 END AS bigint) AS n_parts,
           cast(6 AS bigint) AS n_points,
           {roundn_sql(
               f'8.0e0 * ({osm_synth.SQUARE_S_SQL}) + CASE WHEN {osm_synth.SQUARE_HOLE_SQL} '
               f'THEN sqrt((3.0e0 * ({osm_synth.SQUARE_S_SQL})) * (3.0e0 * ({osm_synth.SQUARE_S_SQL}))'
               f' + (2.0e0 * ({osm_synth.SQUARE_S_SQL})) * (2.0e0 * ({osm_synth.SQUARE_S_SQL})))'
               f' ELSE 0.0e0 END', 4)} AS total_length
    FROM part WHERE {osm_synth.SQUARE_FILTER_SQL}
    """,
)
def q_relation_multiline_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm2pgsql_spark.operators import geom_udfs
    from osm2pgsql_spark.operators.relations import relation_multilinestrings

    base = _square_base(spark, sf_dir).withColumn(
        "hole", F.expr(osm_synth.SQUARE_HOLE_SQL.replace("p_partkey", "id"))
    )
    r, cx, cy, s = F.col("id"), F.col("cx"), F.col("cy"), F.col("s")
    # chain nodes 1-4 (open L-path), disjoint segment nodes 5-6
    corners = [
        (1, cx - s, cy - s), (2, cx + s, cy - s), (3, cx + s, cy + s),
        (4, cx - s, cy + s), (5, cx + 2 * s, cy - s), (6, cx + 2 * s, cy + s),
    ]
    nodes = base.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        (r * 100 + j).alias("id"), x.alias("lon"), y.alias("lat")
                    )
                    for j, x, y in corners
                ]
            )
        ).alias("n")
    ).select("n.id", "n.lon", "n.lat")

    # w1 = n1->n2->n3; w2 = n4->n3 (reversed orientation); w3 = n5->n6
    # disjoint; w4 (hole rows only) = n6->n1 bridges the components
    def way(j: int, refs: list[int]):
        return F.struct(
            (r * 10 + j).alias("id"),
            F.array(*[(r * 100 + i).cast("bigint") for i in refs]).alias("refs"),
        )

    ways_df = base.select(
        F.explode(
            F.when(
                F.col("hole"),
                F.array(way(1, [1, 2, 3]), way(2, [4, 3]), way(3, [5, 6]), way(4, [6, 1])),
            ).otherwise(F.array(way(1, [1, 2, 3]), way(2, [4, 3]), way(3, [5, 6])))
        ).alias("w")
    ).select("w.id", "w.refs")

    def member(j: int):
        return F.struct(
            F.lit("w").alias("type"),
            (r * 10 + j).cast("bigint").alias("ref"),
            F.lit("").alias("role"),
        )

    rels = base.select(
        r.alias("id"),
        F.when(
            F.col("hole"), F.array(*[member(j) for j in range(1, 5)])
        ).otherwise(F.array(*[member(j) for j in range(1, 4)])).alias("members"),
    )
    # kernel-bound (pure-Python line_merge per relation): widen the
    # aggregation to the compute parallelism — AQE's byte-sized
    # coalescing leaves 1-2 partitions at bench scale and the kernel
    # runs near-serial (PERF_NOTES round-14)
    ml = relation_multilinestrings(
        rels, ways_df, nodes,
        kernel_partitions=spark.sparkContext.defaultParallelism,
    )
    return ml.select(
        "rel_id",
        geom_udfs.wkb_num_geometries(F.col("geom")).alias("n_parts"),
        geom_udfs.wkb_num_points(F.col("geom")).alias("n_points"),
        round4(geom_udfs.wkb_length(F.col("geom"))).alias("total_length"),
    )


# ---------------------------------------------------------------------------
# similarity search: IVF (k-means coarse quantizer).  The oracle
# replicates the ENTIRE seeded Lloyd training loop in DuckDB SQL —
# unrolled iterations: assign (rank clusters by normalized dot),
# update (per-dim mean, floor-rounded to 1e-6 on both engines so the
# order-dependent double sums can't drift), empty clusters keep their
# previous centroid — then the probe/rerank search on the final
# centroids.  round_decimals=6 in train_kmeans is the cross-engine
# determinism knob that makes this exact.
# ---------------------------------------------------------------------------

_IVF_NLIST = 8
_IVF_ITERS = 3
_IVF_NPROBE = 4
_IVF_DIM = 64


def _ivf_oracle() -> str:
    def norm(col: str) -> str:
        return (
            f"list_transform({col}, x -> x / greatest(sqrt(list_sum("
            f"list_transform({col}, y -> y * y))), 1e-12))"
        )

    def dot(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(generate_series(1, len({a})), "
            f"i -> {a}[i] * {b}[i]))"
        )

    ctes = [
        "e AS (SELECT vec_id, list_transform(embedding, x -> cast(x AS double)) AS v"
        " FROM embeddings)",
        f"n AS (SELECT vec_id, v, {norm('v')} AS nv FROM e)",
        f"c0 AS (SELECT cast(row_number() OVER (ORDER BY vec_id) - 1 AS bigint) AS cluster,"
        f" v AS cv FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {_IVF_NLIST}))",
    ]
    for t in range(1, _IVF_ITERS + 1):
        p = f"c{t - 1}"
        ctes += [
            f"nc{t - 1} AS (SELECT cluster, {norm('cv')} AS ncv FROM {p})",
            f"s{t} AS (SELECT n.vec_id, n.v, c.cluster, row_number() OVER ("
            f"PARTITION BY n.vec_id ORDER BY {dot('n.nv', 'c.ncv')} DESC, c.cluster)"
            f" AS rn FROM n CROSS JOIN nc{t - 1} c)",
            f"a{t} AS (SELECT vec_id, v, cluster FROM s{t} WHERE rn = 1)",
            f"m{t} AS (SELECT cluster, i AS dim, {roundn_sql('avg(v[i])', 6)} AS m"
            f" FROM a{t} CROSS JOIN (SELECT unnest(generate_series(1, {_IVF_DIM})) AS i) d"
            f" GROUP BY cluster, i)",
            f"mc{t} AS (SELECT cluster, list(m ORDER BY dim) AS cv FROM m{t} GROUP BY cluster)",
            f"c{t} AS (SELECT p.cluster, coalesce(mc.cv, p.cv) AS cv FROM {p} p"
            f" LEFT JOIN mc{t} mc ON mc.cluster = p.cluster)",
        ]
    cf = f"c{_IVF_ITERS}"
    cos = (
        f"{dot('cnd.qv', 'cnd.nv2')} / (sqrt(list_sum(list_transform(cnd.qv, y -> y * y)))"
        f" * sqrt(list_sum(list_transform(cnd.nv2, y -> y * y))))"
    )
    ctes += [
        f"ncF AS (SELECT cluster, {norm('cv')} AS ncv FROM {cf})",
        f"sF AS (SELECT n.vec_id, n.v, c.cluster, row_number() OVER ("
        f"PARTITION BY n.vec_id ORDER BY {dot('n.nv', 'c.ncv')} DESC, c.cluster)"
        f" AS rn FROM n CROSS JOIN ncF c)",
        "idx AS (SELECT vec_id, v, cluster FROM sF WHERE rn = 1)",
        f"qp AS (SELECT n.vec_id AS query_id, n.v AS qv, c.cluster, row_number() OVER ("
        f"PARTITION BY n.vec_id ORDER BY {dot('n.nv', 'c.ncv')} DESC, c.cluster)"
        f" AS prn FROM n CROSS JOIN ncF c WHERE n.vec_id < {_ANN_NQ})",
        f"cnd AS (SELECT q.query_id, q.qv, i.vec_id AS neighbor_id, i.v AS nv2"
        f" FROM (SELECT * FROM qp WHERE prn <= {_IVF_NPROBE}) q"
        f" JOIN idx i ON i.cluster = q.cluster AND i.vec_id <> q.query_id)",
        f"scored AS (SELECT query_id, neighbor_id, {cos} AS sim FROM cnd)",
        "ranked AS (SELECT query_id, neighbor_id, sim, row_number() OVER ("
        "PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank FROM scored)",
    ]
    joined = ",\n         ".join(ctes)
    return f"""
    WITH {joined}
    SELECT query_id, neighbor_id, rank, {roundn_sql('sim', 6)} AS sim
    FROM ranked WHERE rank <= {_ANN_K}
    """


@register("ann_ivf_topk", oracle=_ivf_oracle())
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm2pgsql_spark.operators import ivf

    e = load_table(spark, sf_dir, "embeddings")
    cents = ivf.train_kmeans(e, nlist=_IVF_NLIST, iters=_IVF_ITERS, round_decimals=6)
    index = ivf.build_index(e, cents)
    queries_df = e.where(F.col("vec_id") < _ANN_NQ)
    return ivf.search(index, queries_df, cents, k=_ANN_K, nprobe=_IVF_NPROBE)


# ---------------------------------------------------------------------------
# similarity search: product quantization + ADC (Jegou et al. 2011) —
# the compressed-domain scale path (operators/pq.py).  The oracle
# unrolls the per-subspace seeded Lloyd training exactly like
# _ivf_oracle (round-6 means, ties to the lowest code), then scores
# with integerized per-subspace distances so the ADC sum is an exact
# int64 on both engines.
# ---------------------------------------------------------------------------

_PQ_M = 4
_PQ_KSUB = 8
_PQ_ITERS = 2
_PQ_DSUB = _IVF_DIM // _PQ_M


def _pq_oracle() -> str:
    dsub, m, ksub = _PQ_DSUB, _PQ_M, _PQ_KSUB

    def l2(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(generate_series(1, {dsub}), "
            f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
        )

    ctes = [
        "e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS double)) AS v"
        " FROM embeddings)",
        f"sub AS (SELECT vec_id, s, v[(s-1)*{dsub}+1 : s*{dsub}] AS sv"
        f" FROM e, UNNEST(generate_series(1, {m})) AS u(s))",
        f"c0 AS (SELECT s, CAST(row_number() OVER (PARTITION BY s ORDER BY vec_id) - 1"
        f" AS BIGINT) AS code, sv AS cv FROM sub"
        f" WHERE vec_id IN (SELECT vec_id FROM e ORDER BY vec_id LIMIT {ksub}))",
    ]
    for t in range(1, _PQ_ITERS + 1):
        p = f"c{t - 1}"
        ctes += [
            f"s{t} AS (SELECT sub.vec_id, sub.s, sub.sv, c.code, row_number() OVER ("
            f"PARTITION BY sub.vec_id, sub.s ORDER BY {l2('sub.sv', 'c.cv')} ASC, c.code)"
            f" AS rn FROM sub JOIN {p} c ON c.s = sub.s)",
            f"a{t} AS (SELECT * FROM s{t} WHERE rn = 1)",
            f"m{t} AS (SELECT s, code, i AS sdim, {roundn_sql('avg(sv[i])', 6)} AS mv"
            f" FROM a{t}, UNNEST(generate_series(1, {dsub})) AS u(i)"
            f" GROUP BY s, code, i)",
            f"mc{t} AS (SELECT s, code, list(mv ORDER BY sdim) AS cv FROM m{t}"
            f" GROUP BY s, code)",
            f"c{t} AS (SELECT p.s, p.code, coalesce(mc.cv, p.cv) AS cv FROM {p} p"
            f" LEFT JOIN mc{t} mc ON mc.s = p.s AND mc.code = p.code)",
        ]
    cf = f"c{_PQ_ITERS}"
    ctes += [
        f"sF AS (SELECT sub.vec_id, sub.s, c.code, row_number() OVER ("
        f"PARTITION BY sub.vec_id, sub.s ORDER BY {l2('sub.sv', 'c.cv')} ASC, c.code)"
        f" AS rn FROM sub JOIN {cf} c ON c.s = sub.s)",
        "codes AS (SELECT vec_id, s, code FROM sF WHERE rn = 1)",
        f"qsub AS (SELECT vec_id AS query_id, s, sv FROM sub WHERE vec_id < {_ANN_NQ})",
        f"lut AS (SELECT q.query_id, q.s, c.code,"
        f" CAST(floor({l2('q.sv', 'c.cv')} * 1e6 + 0.5) AS BIGINT) AS d"
        f" FROM qsub q JOIN {cf} c ON c.s = q.s)",
        "ad AS (SELECT l.query_id, x.vec_id AS neighbor_id,"
        " CAST(sum(l.d) AS BIGINT) AS adist_e6"
        " FROM codes x JOIN lut l ON l.s = x.s AND l.code = x.code"
        " WHERE x.vec_id <> l.query_id GROUP BY l.query_id, x.vec_id)",
        "ranked AS (SELECT query_id, neighbor_id, adist_e6, row_number() OVER ("
        "PARTITION BY query_id ORDER BY adist_e6, neighbor_id) AS rank FROM ad)",
    ]
    joined = ",\n         ".join(ctes)
    return f"""
    WITH {joined}
    SELECT query_id, neighbor_id, rank, adist_e6
    FROM ranked WHERE rank <= {_ANN_K}
    """


def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm2pgsql_spark.operators import pq

    e = load_table(spark, sf_dir, "embeddings")
    books = pq.train_pq(
        e, m=_PQ_M, ksub=_PQ_KSUB, iters=_PQ_ITERS, round_decimals=6
    )
    codes = pq.encode(e, books)
    queries_df = e.where(F.col("vec_id") < _ANN_NQ)
    return pq.search_adc(codes, queries_df, books, k=_ANN_K)


# ---------------------------------------------------------------------------
# dedup: embedding-cosine near-duplicate pairs (threshold form).
# Gated plan: multi-band random-projection candidates + exact cosine
# verify (no cross join; the only corpus-sized shuffle is the
# (band, sig) equi-join).  Sign-LSH is recall<1, so the oracle
# replicates the SAME bands in DuckDB (the minhash_near_dups pattern);
# the brute-force all-pairs form remains in ann.brute_force_topk as
# the small-scale recall baseline.
# ---------------------------------------------------------------------------

_COS_THRESHOLD = 0.3
_RP_BANDS = 12
_RP_BITS = 8
_EMB_DIM = 64

_COS_SQL = """
                   list_sum(list_transform(generate_series(1, len(a.embedding)),
                            i -> cast(a.embedding[i] AS double) * cast(b.embedding[i] AS double)))
                   / (sqrt(list_sum(list_transform(generate_series(1, len(a.embedding)),
                            i -> cast(a.embedding[i] AS double) * cast(a.embedding[i] AS double))))
                    * sqrt(list_sum(list_transform(generate_series(1, len(b.embedding)),
                            i -> cast(b.embedding[i] AS double) * cast(b.embedding[i] AS double)))))
"""


def _rp_oracle() -> str:
    comps = ann.rp_band_components(_RP_BANDS, _RP_BITS, _EMB_DIM)
    band_selects = [
        f"SELECT vec_id, {b} AS band, ({_rp_sig_sql(comps[b])}) AS sig FROM e"
        for b in range(_RP_BANDS)
    ]
    bands_sql = " UNION ALL ".join(band_selects)
    return f"""
    WITH e AS (SELECT vec_id, embedding FROM embeddings),
         bands AS ({bands_sql}),
         cand AS (
            SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
            FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
            WHERE a.vec_id < b.vec_id),
         scored AS (
            SELECT id_a, id_b, {_COS_SQL} AS sim
            FROM cand
            JOIN e a ON a.vec_id = cand.id_a
            JOIN e b ON b.vec_id = cand.id_b)
    SELECT id_a, id_b, {roundn_sql('sim', 6)} AS sim
    FROM scored WHERE sim >= {_COS_THRESHOLD}
    """


@register("embedding_near_dups", oracle=_rp_oracle())
def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm2pgsql_spark.functions.rounding import roundn
    from osm2pgsql_spark.functions.similarity import cosine_similarity

    e = load_table(spark, sf_dir, "embeddings")
    return ann.rp_near_dup_pairs(
        e, threshold=_COS_THRESHOLD, n_bands=_RP_BANDS, bits_per_band=_RP_BITS, dim=_EMB_DIM
    )


# ---------------------------------------------------------------------------
# §2.1 input sanity check as a gate query (src/input.cpp:24-60 set form)
# ---------------------------------------------------------------------------

@register(
    "input_validation",
    oracle="""
    SELECT 'nodes' AS entity,
           count(*) AS n_rows,
           cast(sum(CASE WHEN p_partkey <= 0 THEN 1 ELSE 0 END) AS bigint) AS n_nonpositive,
           count(*) - count(DISTINCT p_partkey) AS n_duplicates
    FROM part
    UNION ALL
    SELECT 'ways', count(*),
           cast(sum(CASE WHEN o_orderkey <= 0 THEN 1 ELSE 0 END) AS bigint),
           count(*) - count(DISTINCT o_orderkey)
    FROM orders
    """,
)
def q_input_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    o = load_table(spark, sf_dir, "orders")
    n = p.agg(
        F.lit("nodes").alias("entity"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("p_partkey") <= 0, 1).otherwise(0)).alias("n_nonpositive"),
        (F.count(F.lit(1)) - F.countDistinct("p_partkey")).alias("n_duplicates"),
    )
    w = o.agg(
        F.lit("ways").alias("entity"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("o_orderkey") <= 0, 1).otherwise(0)).alias("n_nonpositive"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("n_duplicates"),
    )
    return n.unionByName(w)


def _dedup_decisions_oracle() -> str:
    """Connected components in SQL: minhash/LSH verified pairs ->
    symmetric edges -> recursive transitive closure -> min reachable
    id per doc (the keep decision)."""
    return f"""
    WITH RECURSIVE {_minhash_ctes()},
         pairs AS (SELECT doc_a, doc_b FROM jac WHERE jaccard >= 0.2),
         sym AS (
            SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION SELECT doc_b, doc_a FROM pairs),
         reach(a, b) AS (
            SELECT a, b FROM sym
            UNION
            SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
         clusters AS (
            SELECT a AS doc_id, least(min(b), a) AS cluster_id
            FROM reach GROUP BY a)
    SELECT d.doc_id,
           coalesce(c.cluster_id, d.doc_id) AS cluster_id,
           coalesce(c.cluster_id, d.doc_id) = d.doc_id AS keep
    FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id
    """


@register("dedup_decisions", oracle=_dedup_decisions_oracle())
def q_dedup_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.verified_near_dups(
        docs, k=_MH_K, rows_per_band=_MH_BAND_ROWS, shingle_n=3, min_jaccard=0.2
    ).select("doc_a", "doc_b")
    return dedup.dedup_decisions(docs, pairs)


# ---------------------------------------------------------------------------
# training-data mixing & decontamination (GPT-3 appx C / data-mixture
# recipes): layout-independent sampling, token-budget prefixes, and
# benchmark n-gram overlap — all in portable-hash mode (md5) so the
# DuckDB oracle reproduces every keep decision bit-for-bit.
# ---------------------------------------------------------------------------

_STRAT_RATES = {"src0": 1.0, "src1": 0.5, "src2": 0.25}
_STRAT_DEFAULT = 0.1
_STRAT_SALT = "s8"


def _strat_oracle() -> str:
    from osm2pgsql_spark.operators.dedup import _hex_threshold

    cases = " ".join(
        f"WHEN '{g}' THEN '{_hex_threshold(r)}'" for g, r in _STRAT_RATES.items()
    )
    return f"""
    SELECT doc_id, source FROM documents
    WHERE md5(CAST(doc_id AS VARCHAR) || '{_STRAT_SALT}')
          < CASE source {cases} ELSE '{_hex_threshold(_STRAT_DEFAULT)}' END
    """


@register("stratified_sample", oracle=_strat_oracle())
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source deterministic sampling (keep 100% of src0, 50% of
    src1, 25% of src2, 10% default) — the decision is a pure function
    of (doc_id, salt): one JVM-side CASE over the md5 hex string, no
    shuffle, reproducible on any cluster layout or engine."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.stratified_sample(
        docs, _STRAT_RATES, "source", "doc_id",
        default_rate=_STRAT_DEFAULT, salt=_STRAT_SALT, portable=True,
    ).select("doc_id", "source")


_MIX_BUDGETS = {"src0": 4000, "src1": 5000, "src2": 3000}


def _mix_oracle() -> str:
    cases = " ".join(
        f"WHEN '{g}' THEN {b}" for g, b in _MIX_BUDGETS.items()
    )
    return f"""
    WITH t AS (
      SELECT doc_id, source, n_chars,
             md5(CAST(doc_id AS VARCHAR)) AS hh,
             CASE source {cases} ELSE 0 END AS budget
      FROM documents
    ), c AS (
      SELECT *, sum(n_chars) OVER (PARTITION BY source ORDER BY hh, doc_id) AS cum
      FROM t
    )
    SELECT doc_id, source, n_chars FROM c
    WHERE budget > 0 AND cum - n_chars < budget
    """


@register("token_budget_mix", oracle=_mix_oracle())
def q_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture through the REAL two-phase operator
    (coarse per-bucket sums + one boundary-bucket fine window — no
    single task ever funnels a whole source); the oracle is the
    single-window twin, equal because the portable bucket (first two
    md5 hex chars) is a prefix of the fine order (full md5, key)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.token_budget_mixture(
        docs, _MIX_BUDGETS, source_col="source", key_col="doc_id",
        token_col="n_chars", portable=True,
    ).select("doc_id", "source", "n_chars")


_DECON_K = 4


def _decontam_oracle() -> str:
    km1 = _DECON_K - 1
    return f"""
    WITH corp AS (SELECT doc_id, string_split(text, ' ') AS t
                  FROM documents WHERE doc_id % 29 <> 0),
         bench AS (SELECT string_split(text, ' ') AS t
                   FROM documents WHERE doc_id % 29 = 0),
         bg AS (SELECT DISTINCT array_to_string(t[pos:pos+{km1}], ' ') AS gram
                FROM bench,
                     UNNEST(generate_series(1, greatest(len(t)-{km1}, 0))) AS u(pos)),
         cg AS (SELECT doc_id, pos, array_to_string(t[pos:pos+{km1}], ' ') AS gram
                FROM corp,
                     UNNEST(generate_series(1, greatest(len(t)-{km1}, 0))) AS u(pos)),
         hit AS (SELECT doc_id, pos FROM cg WHERE gram IN (SELECT gram FROM bg)),
         isl AS (SELECT doc_id, pos,
                        pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
                 FROM hit)
    SELECT doc_id,
           CAST(min(pos) AS BIGINT) AS span_start,
           CAST(max(pos) + {km1} AS BIGINT) AS span_end,
           CAST(max(pos) + {km1} - min(pos) + 1 AS BIGINT) AS n_tokens
    FROM isl GROUP BY doc_id, grp
    """


@register("decontam_spans", oracle=_decontam_oracle())
def q_decontam_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: every corpus span whose k-grams all
    occur in the 'benchmark' slice (doc_id % 29 == 0 stands in for an
    eval set).  The benchmark gram set broadcasts; the corpus side is
    one scan + gaps-and-islands — the oracle joins on the gram STRING
    where the operator semi-joins 64-bit gram hashes (identical sets
    absent a 2^-64 collision)."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 29 == 0)
    corp = docs.where(F.col("doc_id") % 29 != 0)
    spans = dedup.contaminated_spans(corp, bench, k=_DECON_K)
    return spans.select(
        "doc_id",
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
    )


_DSIR_TARGET = ("src0", "src1")
_DSIR_TOPK = 25


def _dsir_oracle() -> str:
    tgt_list = ", ".join(f"'{s}'" for s in _DSIR_TARGET)
    grams = (
        "list_concat(t, list_transform(generate_series(1, len(t)-1),"
        " i -> t[i] || ' ' || t[i+1]))"
    )
    return f"""
    WITH tgt AS (SELECT text FROM documents WHERE source IN ({tgt_list})),
         src AS (SELECT doc_id, text FROM documents
                 WHERE source NOT IN ({tgt_list})),
         tg AS (SELECT substr(md5(g), 1, 2) AS bucket FROM (
                  SELECT unnest({grams}) AS g FROM
                    (SELECT string_split(text, ' ') AS t FROM tgt))),
         tc AS (SELECT bucket, count(*) AS t_cnt FROM tg GROUP BY bucket),
         sg AS (SELECT doc_id, substr(md5(g), 1, 2) AS bucket FROM (
                  SELECT doc_id, unnest({grams}) AS g FROM
                    (SELECT doc_id, string_split(text, ' ') AS t FROM src))),
         sc AS (SELECT bucket, count(*) AS s_cnt FROM sg GROUP BY bucket),
         tot AS (SELECT (SELECT sum(t_cnt) FROM tc) AS t_tot,
                        (SELECT sum(s_cnt) FROM sc) AS s_tot),
         lr AS (SELECT coalesce(tc.bucket, sc.bucket) AS bucket,
                       CAST(floor((ln((coalesce(t_cnt, 0) + 0.5) / (t_tot + 128.0))
                                 - ln((coalesce(s_cnt, 0) + 0.5) / (s_tot + 128.0)))
                                  * 1e6 + 0.5) AS BIGINT) AS lr_e6
                FROM tc FULL JOIN sc ON sc.bucket = tc.bucket, tot),
         sco AS (SELECT doc_id, CAST(sum(lr_e6) AS BIGINT) AS score_e6
                 FROM sg JOIN lr USING (bucket) GROUP BY doc_id),
         ranked AS (SELECT doc_id, score_e6, row_number() OVER (
                      ORDER BY score_e6 DESC, doc_id) AS rank FROM sco)
    SELECT doc_id, score_e6, rank FROM ranked WHERE rank <= {_DSIR_TOPK}
    """


@register("dsir_selection", oracle=_dsir_oracle())
def q_dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (arXiv:2302.03169): hashed unigram+bigram
    importance log-ratios score every raw-corpus doc against the
    'target domain' (src0/src1 stand in); top-25 kept.  Pure Catalyst
    — two 256-row bucket aggregations, one broadcast join onto the
    exploded gram stream, integer per-doc sums."""
    from osm2pgsql_spark.operators import dsir

    docs = load_table(spark, sf_dir, "documents")
    tgt = docs.where(F.col("source").isin(*_DSIR_TARGET))
    src = docs.where(~F.col("source").isin(*_DSIR_TARGET))
    return dsir.dsir_select(src, tgt, top_k=_DSIR_TOPK)


# ---------------------------------------------------------------------------
# Frozen-artifact oracles (round 9): the three trainings that have no
# ANSI-SQL twin (nested Lloyd loops, greedy merge selection, k-means)
# are FROZEN — tools/freeze_artifacts.py trains once at the gate scale
# and commits the model as literals (osm2pgsql_spark/frozen.py) that
# both the Spark gate query and its DuckDB oracle embed.  The gates
# below therefore compare the full DECISION / SEARCH / ENCODE stages
# rows+schema+hash; training itself stays pinned by the existing
# unrolled-Lloyd gates (ann_ivf_topk, ann_pq_topk), the sequential
# twins (test_bpe, test_pq), and tests/test_frozen.py's
# retrain-equals-literal check.
# ---------------------------------------------------------------------------


def _sql_dlist(vals) -> str:
    """Doubles as a DuckDB list literal — repr() is the shortest
    round-trip form, which strtod parses back to identical bits."""
    return "[" + ", ".join(repr(float(v)) for v in vals) + "]"


def _ivfpq_oracle() -> str:
    from osm2pgsql_spark import frozen

    dim = len(frozen.IVFPQ_CENTS[0])
    m = len(frozen.IVFPQ_BOOKS)
    dsub = dim // m
    cent_rows = ", ".join(
        f"({c}, {_sql_dlist(cv)})" for c, cv in enumerate(frozen.IVFPQ_CENTS)
    )
    book_rows = ", ".join(
        f"({s + 1}, {code}, {_sql_dlist(bv)})"
        for s, sub in enumerate(frozen.IVFPQ_BOOKS)
        for code, bv in enumerate(sub)
    )

    def norm(col: str) -> str:
        return (
            f"list_transform({col}, x -> x / greatest(sqrt(list_sum("
            f"list_transform({col}, y -> y * y))), 1e-12))"
        )

    def dot(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(generate_series(1, {dim}), "
            f"i -> {a}[i] * {b}[i]))"
        )

    def l2(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(generate_series(1, {dsub}), "
            f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
        )

    return f"""
    WITH cents(cluster, cv) AS (VALUES {cent_rows}),
         books(s, code, bv) AS (VALUES {book_rows}),
         e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
         n AS (SELECT vec_id, v, {norm('v')} AS nv FROM e),
         nc AS (SELECT cluster, cv, {norm('cv')} AS ncv FROM cents),
         asg AS (SELECT vec_id, v, cluster, cv FROM (
             SELECT n.vec_id, n.v, c.cluster, c.cv, row_number() OVER (
               PARTITION BY n.vec_id ORDER BY {dot('n.nv', 'c.ncv')} DESC, c.cluster) AS rn
             FROM n CROSS JOIN nc c) WHERE rn = 1),
         res AS (SELECT vec_id, cluster,
                        list_transform(generate_series(1, {dim}), i -> v[i] - cv[i]) AS r
                 FROM asg),
         sub AS (SELECT vec_id, cluster, s, r[(s-1)*{dsub}+1 : s*{dsub}] AS rsub
                 FROM res, UNNEST(generate_series(1, {m})) AS u(s)),
         enc AS (SELECT vec_id, cluster, s, code FROM (
             SELECT sub.vec_id, sub.cluster, sub.s, b.code, row_number() OVER (
               PARTITION BY sub.vec_id, sub.s ORDER BY {l2('sub.rsub', 'b.bv')} ASC, b.code) AS rn
             FROM sub JOIN books b ON b.s = sub.s) WHERE rn = 1),
         qp AS (SELECT query_id, qv, cluster, cv FROM (
             SELECT n.vec_id AS query_id, n.v AS qv, c.cluster, c.cv, row_number() OVER (
               PARTITION BY n.vec_id ORDER BY {dot('n.nv', 'c.ncv')} DESC, c.cluster) AS prn
             FROM n CROSS JOIN nc c WHERE n.vec_id < {_ANN_NQ}) WHERE prn <= {_IVF_NPROBE}),
         qsub AS (SELECT query_id, cluster, s, qr[(s-1)*{dsub}+1 : s*{dsub}] AS qrsub FROM (
             SELECT query_id, cluster,
                    list_transform(generate_series(1, {dim}), i -> qv[i] - cv[i]) AS qr
             FROM qp), UNNEST(generate_series(1, {m})) AS u(s)),
         lut AS (SELECT q.query_id, q.cluster, q.s, b.code,
                        CAST(floor({l2('q.qrsub', 'b.bv')} * 1e6 + 0.5e0) AS BIGINT) AS d
                 FROM qsub q JOIN books b ON b.s = q.s),
         ad AS (SELECT l.query_id, x.vec_id AS neighbor_id,
                       CAST(sum(l.d) AS BIGINT) AS adist_e6
                FROM enc x
                JOIN lut l ON l.cluster = x.cluster AND l.s = x.s AND l.code = x.code
                WHERE x.vec_id <> l.query_id
                GROUP BY l.query_id, x.vec_id),
         ranked AS (SELECT query_id, neighbor_id, adist_e6, row_number() OVER (
             PARTITION BY query_id ORDER BY adist_e6, neighbor_id) AS rank FROM ad)
    SELECT query_id, neighbor_id, rank, adist_e6
    FROM ranked WHERE rank <= {_ANN_K}
    """


def q_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (FAISS IVFADC shape): coarse cells + residual PQ codes;
    the probe join carries M-byte codes only.  The codebooks are the
    FROZEN artifacts (frozen.IVFPQ_*, trained by the gated-elsewhere
    trainers at sf0.01); the gate compares the full encode + probe +
    residual-ADC pipeline against a literal-codebook DuckDB twin."""
    import numpy as np

    from osm2pgsql_spark import frozen
    from osm2pgsql_spark.operators import pq

    e = load_table(spark, sf_dir, "embeddings")
    cents = np.asarray(frozen.IVFPQ_CENTS, dtype="f8")
    books = np.asarray(frozen.IVFPQ_BOOKS, dtype="f8")
    ix = pq.encode_ivfpq(e, cents, books)
    queries_df = e.where(F.col("vec_id") < _ANN_NQ)
    return pq.search_ivfpq(
        ix, queries_df, cents, books, k=_ANN_K, nprobe=_IVF_NPROBE
    )


def _ann_pq_suite_oracle() -> str:
    return " UNION ALL ".join(
        f"SELECT '{codec}' AS codec, query_id, neighbor_id, rank, "
        f"adist_e6 FROM ({orc})"
        for codec, orc in (("pq", _pq_oracle()), ("ivfpq", _ivfpq_oracle()))
    )


@register("ann_pq_suite", oracle=_ann_pq_suite_oracle())
def q_ann_pq_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The compressed-ANN family as ONE gate with a `codec` branch
    column (r10 VERDICT #3 gate consolidation): product quantization
    ADC search (codec='pq') and IVF-PQ residual search
    (codec='ivfpq') — both integerized distances against
    literal-codebook DuckDB twins.  The uncompressed ANN paths keep
    their own gates (ann_cosine/lsh/ivf_topk — lsh and ivf are
    benched individually)."""
    pq_df = q_ann_pq_topk(spark, sf_dir).select(
        F.lit("pq").alias("codec"), "query_id", "neighbor_id", "rank",
        "adist_e6")
    ivfpq_df = q_ann_ivfpq_topk(spark, sf_dir).select(
        F.lit("ivfpq").alias("codec"), "query_id", "neighbor_id", "rank",
        "adist_e6")
    return pq_df.unionByName(ivfpq_df)


def _bpe_oracle() -> str:
    from osm2pgsql_spark import frozen

    # rank = 1-based list_position in the merge-key list; chr(31) is a
    # separator no token can contain (tokens are word chars + the end
    # marker)
    keys = ", ".join(
        f"{a!r} || chr(31) || {b!r}" for a, b in frozen.BPE_MERGES
    )
    return f"""
    WITH RECURSIVE
         keys AS (SELECT [{keys}] AS ks),
         w AS (SELECT DISTINCT u.w AS word
               FROM (SELECT string_split_regex(lower(text), '\\s+') AS ws
                     FROM documents) t, UNNEST(t.ws) AS u(w)
               WHERE u.w <> ''),
         enc AS (
           SELECT word,
                  list_append(list_filter(string_split(word, ''), c -> c <> ''),
                              '▁') AS parts,
                  0 AS step
           FROM w
           UNION ALL
           SELECT word,
                  parts[1 : bi-1] || [parts[bi] || parts[bi+1]]
                      || parts[bi+2 : len(parts)] AS parts,
                  step + 1
           FROM (
             SELECT word, parts, step, best['i'] AS bi
             FROM (
               SELECT word, parts, step,
                      list_sort(list_filter(list_transform(
                        generate_series(1, len(parts) - 1),
                        i -> {{'r': nullif(list_position(ks,
                                parts[i] || chr(31) || parts[i+1]), 0),
                              'i': i}}),
                        x -> x['r'] IS NOT NULL))[1] AS best
               FROM enc, keys
             ) s0 WHERE best IS NOT NULL
           ) s1),
         fin AS (SELECT word, parts FROM (
             SELECT word, parts, row_number() OVER (
               PARTITION BY word ORDER BY step DESC) AS rn FROM enc)
             WHERE rn = 1),
         dw AS (SELECT doc_id, pos, ws[pos] AS word
                FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws
                      FROM documents) t,
                     UNNEST(generate_series(1, len(ws))) AS u(pos)
                WHERE ws[pos] <> ''),
         agg AS (SELECT doc_id,
                        CAST(sum(len(parts)) AS BIGINT) AS n_bpe,
                        flatten(list(parts ORDER BY pos)) AS toks
                 FROM dw JOIN fin USING (word) GROUP BY doc_id)
    SELECT doc_id,
           coalesce(n_bpe, 0) AS n_bpe,
           coalesce(array_to_string(toks[1:5], ' '), '') AS head_tokens
    FROM documents LEFT JOIN agg USING (doc_id)
    """


@register("bpe_encode", oracle=_bpe_oracle())
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE greedy encode (lowest-rank pair first, leftmost on rank
    ties) of every document under the FROZEN 25-merge model
    (frozen.BPE_MERGES).  The oracle replays the same greedy loop as
    a DuckDB recursive CTE over the distinct-word table — the same
    word-cache shape the Arrow kernel uses.  The trainer itself is
    pinned by test_bpe (sequential reference twin) and test_frozen
    (retrain at sf0.01 == the frozen literals)."""
    from osm2pgsql_spark import frozen
    from osm2pgsql_spark.operators import bpe

    docs = load_table(spark, sf_dir, "documents")
    enc = bpe.encode(docs, list(frozen.BPE_MERGES))
    return enc.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_bpe"),
        F.array_join(F.slice("tokens", 1, 5), " ").alias("head_tokens"),
    )


_SEMDEDUP_THRESHOLD = 0.92


def _semdedup_oracle() -> str:
    import numpy as np

    from osm2pgsql_spark import frozen

    dim = len(frozen.SEMDEDUP_CENTROIDS[0])
    thr_int = int(np.floor(_SEMDEDUP_THRESHOLD * 1e12 + 0.5))
    cent_rows = ", ".join(
        f"({c}, {_sql_dlist(cv)})"
        for c, cv in enumerate(frozen.SEMDEDUP_CENTROIDS)
    )

    def norm(col: str) -> str:
        return (
            f"list_transform({col}, x -> x / greatest(sqrt(list_sum("
            f"list_transform({col}, y -> y * y))), 1e-12))"
        )

    def dot(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(generate_series(1, {dim}), "
            f"i -> {a}[i] * {b}[i]))"
        )

    return f"""
    WITH RECURSIVE
         cents(cluster, cv) AS (VALUES {cent_rows}),
         e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
         n AS (SELECT vec_id, v, {norm('v')} AS nv FROM e),
         nc AS (SELECT cluster, {norm('cv')} AS ncv FROM cents),
         asg AS (SELECT vec_id, v, cluster FROM (
             SELECT n.vec_id, n.v, c.cluster, row_number() OVER (
               PARTITION BY n.vec_id ORDER BY {dot('n.nv', 'c.ncv')} DESC, c.cluster) AS rn
             FROM n CROSS JOIN nc c) WHERE rn = 1),
         mem AS (SELECT vec_id, cluster,
                        list_transform(v, x -> CAST(floor(x / (
                          CASE WHEN sqrt(list_sum(list_transform(v, y -> y * y))) = 0
                               THEN 1.0e0
                               ELSE sqrt(list_sum(list_transform(v, y -> y * y))) END
                        ) * 1000000.0e0 + 0.5e0) AS BIGINT)) AS uq,
                        row_number() OVER (PARTITION BY cluster ORDER BY vec_id) AS rn
                 FROM asg),
         walk AS (
           SELECT cluster, CAST(0 AS BIGINT) AS rn,
                  CAST(NULL AS BIGINT) AS vec_id,
                  CAST(NULL AS BOOLEAN) AS keep,
                  CAST(NULL AS BIGINT) AS dup_of,
                  CAST([] AS BIGINT[]) AS kept_ids,
                  CAST([] AS BIGINT[][]) AS kept_uqs
           FROM (SELECT DISTINCT cluster FROM mem)
           UNION ALL
           SELECT cluster, rn, vec_id,
                  NOT isdup AS keep,
                  CASE WHEN isdup THEN kept_ids[list_position(sims, mx)]
                       ELSE -1 END AS dup_of,
                  CASE WHEN isdup THEN kept_ids
                       ELSE list_append(kept_ids, vec_id) END AS kept_ids,
                  CASE WHEN isdup THEN kept_uqs
                       ELSE list_append(kept_uqs, uq) END AS kept_uqs
           FROM (
             SELECT *, coalesce(mx >= {thr_int}, FALSE) AS isdup
             FROM (
               SELECT *, list_max(sims) AS mx
               FROM (
                 SELECT w.cluster, m.rn, m.vec_id, m.uq, w.kept_ids, w.kept_uqs,
                        list_transform(w.kept_uqs, kv -> list_sum(list_transform(
                          generate_series(1, {dim}), i -> kv[i] * m.uq[i]))) AS sims
                 FROM walk w JOIN mem m ON m.cluster = w.cluster AND m.rn = w.rn + 1
               ) s0
             ) s1
           ) s2)
    SELECT vec_id, CAST(cluster AS INTEGER) AS cluster, keep, dup_of
    FROM walk WHERE rn > 0
    """


@register("semdedup_decisions", oracle=_semdedup_oracle())
def q_semdedup_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (arXiv:2303.09540) keep-decisions over the embeddings
    table under the FROZEN centroid model (frozen.SEMDEDUP_CENTROIDS):
    cosine-nearest assignment -> within-cluster ascending-id greedy
    pruning on the 1e-6-quantized integer cosine (applyInPandas, the
    paper's bounded work unit; shuffle keyed only on cluster id).  The
    oracle replays the greedy cascade as a DuckDB recursive CTE
    carrying the kept set per cluster — exact because the similarity
    is an order-independent int64 dot.  k-means training is pinned by
    ann_ivf_topk's unrolled-Lloyd gate and test_frozen."""
    import numpy as np

    from osm2pgsql_spark import frozen
    from osm2pgsql_spark.operators.semdedup import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(
        emb,
        centroids=np.asarray(frozen.SEMDEDUP_CENTROIDS, dtype="f8"),
        threshold=_SEMDEDUP_THRESHOLD,
    )


# ---------------------------------------------------------------------------
# §2.5 multipolygon ring assembly through the REAL kernel
# (geom-area-assembler.cpp:23-56): square relations built from four
# open member ways each (plus a 4-way inner square every third
# relation) — the pandas stitching kernel must close the rings and
# classify the hole; the oracle knows the analytic answer (all
# coordinates chosen so shoelace arithmetic is exact, osm_synth).
# ---------------------------------------------------------------------------

@register(
    "relation_multipolygon_rings",
    # n_parts/parts_area exercise the split-polygon kernel
    # (operators/relations.relation_polygon_parts — the pgsql output's
    # split_multi + per-part way_area with holes subtracted,
    # reference src/output-pgsql.cpp:301-317) against the same closed
    # form: each square relation splits to exactly one polygon whose
    # hole-subtracted area matches the multipolygon's.
    oracle=f"""
    SELECT p_partkey AS rel_id,
           cast(1 AS bigint) AS n_polys,
           cast(CASE WHEN {osm_synth.SQUARE_HOLE_SQL} THEN 10 ELSE 5 END AS bigint) AS n_points,
           {roundn_sql(f'CASE WHEN {osm_synth.SQUARE_HOLE_SQL} '
                       f'THEN 3 * ({osm_synth.SQUARE_S_SQL}) * ({osm_synth.SQUARE_S_SQL}) '
                       f'ELSE 4 * ({osm_synth.SQUARE_S_SQL}) * ({osm_synth.SQUARE_S_SQL}) END', 4)} AS area,
           cast(1 AS bigint) AS n_parts,
           {roundn_sql(f'CASE WHEN {osm_synth.SQUARE_HOLE_SQL} '
                       f'THEN 3 * ({osm_synth.SQUARE_S_SQL}) * ({osm_synth.SQUARE_S_SQL}) '
                       f'ELSE 4 * ({osm_synth.SQUARE_S_SQL}) * ({osm_synth.SQUARE_S_SQL}) END', 4)} AS parts_area
    FROM part WHERE {osm_synth.SQUARE_FILTER_SQL}
    """,
)
def q_relation_multipolygon_rings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm2pgsql_spark.operators import geom_udfs
    from osm2pgsql_spark.operators.iterate import checkpoint
    from osm2pgsql_spark.operators.relations import (
        grouped_member_wkbs,
        relation_multipolygons,
        relation_polygon_parts,
    )

    nodes, ways_df, rels = osm_synth.square_relations(spark, sf_dir)
    # both assembly paths consume the same member lines: build (and
    # materialize) them once — the join would otherwise recompute the
    # member->way->node assembly per branch.  kernel_partitions: the
    # checkpoint freezes the partitioning the ring kernels see; widen
    # it to the compute parallelism (PERF_NOTES round-14)
    grouped = checkpoint(grouped_member_wkbs(
        rels, ways_df, nodes,
        kernel_partitions=spark.sparkContext.defaultParallelism,
    ))
    mp = relation_multipolygons(None, grouped=grouped)
    parts = (
        relation_polygon_parts(None, grouped=grouped)
        .groupBy("rel_id")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("area").alias("parts_area"),
        )
    )
    return mp.join(parts, "rel_id").select(
        "rel_id",
        geom_udfs.wkb_num_geometries(F.col("geom")).alias("n_polys"),
        geom_udfs.wkb_num_points(F.col("geom")).alias("n_points"),
        round4(geom_udfs.wkb_area(F.col("geom"))).alias("area"),
        F.col("n_parts"),
        round4(F.col("parts_area")).alias("parts_area"),
    )


# ---------------------------------------------------------------------------
# §2.5 line_merge through the REAL relation_multilinestrings kernel
# (geom-functions.cpp:594-767): the same square member ways must merge
# into one closed ring (two for hole relations); perimeter is exact.
# ---------------------------------------------------------------------------

@register(
    "relation_line_merge",
    oracle=f"""
    SELECT p_partkey AS rel_id,
           cast(CASE WHEN {osm_synth.SQUARE_HOLE_SQL} THEN 2 ELSE 1 END AS bigint) AS n_parts,
           cast(CASE WHEN {osm_synth.SQUARE_HOLE_SQL} THEN 10 ELSE 5 END AS bigint) AS n_points,
           {roundn_sql(f'CASE WHEN {osm_synth.SQUARE_HOLE_SQL} '
                       f'THEN 12 * ({osm_synth.SQUARE_S_SQL}) '
                       f'ELSE 8 * ({osm_synth.SQUARE_S_SQL}) END', 4)} AS length
    FROM part WHERE {osm_synth.SQUARE_FILTER_SQL}
    """,
)
def q_relation_line_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm2pgsql_spark.operators import geom_udfs
    from osm2pgsql_spark.operators.relations import relation_multilinestrings

    nodes, ways_df, rels = osm_synth.square_relations(spark, sf_dir)
    # kernel-bound (pure-Python line_merge per relation): widen the
    # aggregation to the compute parallelism — AQE's byte-sized
    # coalescing leaves 1-2 partitions at bench scale and the kernel
    # runs near-serial (PERF_NOTES round-14)
    ml = relation_multilinestrings(
        rels, ways_df, nodes,
        kernel_partitions=spark.sparkContext.defaultParallelism,
    )
    return ml.select(
        "rel_id",
        geom_udfs.wkb_num_geometries(F.col("geom")).alias("n_parts"),
        geom_udfs.wkb_num_points(F.col("geom")).alias("n_points"),
        round4(geom_udfs.wkb_length(F.col("geom"))).alias("length"),
    )


# ---------------------------------------------------------------------------
# §2.10 append mode: apply_diff delete-before-insert fold
# (osmdata.cpp:55-70) as a gate query — the oracle states the merge
# semantics declaratively; the engine runs the REAL anti-join fold.
# ---------------------------------------------------------------------------

@register(
    "append_diff_fold",
    oracle=f"""
    WITH nodes AS ({osm_synth.NODES_SQL})
    SELECT node_id, lon, lat FROM nodes WHERE node_id % 10 NOT IN (0, 1)
    UNION ALL
    SELECT node_id, lon + 0.25e0 AS lon, lat FROM nodes WHERE node_id % 10 = 0
    UNION ALL
    SELECT node_id + 10000000 AS node_id, lon, lat FROM nodes WHERE node_id % 10 = 2
    """,
)
def q_append_diff_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm2pgsql_spark.streaming.append import apply_diff

    n = osm_synth.nodes(spark, sf_dir).select("node_id", "lon", "lat")
    mod = n.where(F.col("node_id") % 10 == 0).select(
        "node_id", (F.col("lon") + 0.25).alias("lon"), "lat", F.lit("modify").alias("op")
    )
    dele = n.where(F.col("node_id") % 10 == 1).select(
        "node_id", "lon", "lat", F.lit("delete").alias("op")
    )
    cre = n.where(F.col("node_id") % 10 == 2).select(
        (F.col("node_id") + 10000000).alias("node_id"), "lon", "lat",
        F.lit("create").alias("op"),
    )
    diff = mod.unionByName(dele).unionByName(cre)
    return apply_diff(n, diff, id_col="node_id")


# ---------------------------------------------------------------------------
# §2.10 stage-2 marks: relations mark member ways, marked ways are
# reprocessed with aggregated relation refs (output-flex.cpp:1506-1613,
# select_relation_members :337-377).  Two relation families (customer
# routes 'C<id>', priority-group routes 'P<grp>') so collect_set
# aggregation over multiple parents is exercised.
# ---------------------------------------------------------------------------

@register(
    "two_stage_refs",
    oracle="""
    WITH li AS (SELECT l_orderkey AS id, count(*) AS n_lines FROM lineitem GROUP BY 1),
         w AS (SELECT o_orderkey AS id, o_custkey, o_orderkey % 97 AS grp FROM orders)
    SELECT w.id AS way_id,
           CASE WHEN o_custkey % 5 = 0 OR grp % 2 = 0 THEN 2 ELSE 1 END AS stage,
           CASE WHEN o_custkey % 5 = 0 AND grp % 2 = 0 THEN
                    'C' || cast(o_custkey AS string) || ',' || 'P' || cast(grp AS string)
                WHEN o_custkey % 5 = 0 THEN 'C' || cast(o_custkey AS string)
                WHEN grp % 2 = 0 THEN 'P' || cast(grp AS string)
                ELSE '' END AS rel_refs,
           li.n_lines
    FROM w JOIN li USING (id)
    """,
)
def q_two_stage_refs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm2pgsql_spark.plans.two_stage import (
        relation_attrs_for_members,
        two_stage_ways,
    )

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    def mk_members():
        return F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("o_orderkey").alias("k")))),
            lambda s: F.struct(
                F.lit("w").alias("type"), s["k"].alias("ref"), F.lit("").alias("role")
            ),
        ).alias("members")

    rels_a = o.groupBy(F.col("o_custkey").alias("id")).agg(mk_members())
    rels_b = o.groupBy((F.lit(1000000) + (F.col("o_orderkey") % 97)).alias("id")).agg(
        mk_members()
    )
    rels = rels_a.unionByName(rels_b).select(
        "id",
        F.col("members").cast("array<struct<type:string,ref:bigint,role:string>>"),
    )
    mark_when = ((F.col("id") < 1000000) & (F.col("id") % 5 == 0)) | (
        (F.col("id") >= 1000000) & ((F.col("id") - 1000000) % 2 == 0)
    )
    ref_expr = F.when(
        F.col("id") < 1000000, F.concat(F.lit("C"), F.col("id").cast("string"))
    ).otherwise(F.concat(F.lit("P"), (F.col("id") - 1000000).cast("string")))
    marked = relation_attrs_for_members(rels, when=mark_when, ref=ref_expr)

    ways_df = o.select(F.col("o_orderkey").alias("id")).join(
        li.groupBy(F.col("l_orderkey").alias("id")).agg(
            F.count(F.lit(1)).alias("n_lines")
        ),
        "id",
    )

    def stage1(df: DataFrame) -> DataFrame:
        return df.select(
            F.col("id").alias("way_id"), F.col("stage"),
            F.lit("").alias("rel_refs"), F.col("n_lines"),
        )

    def stage2(df: DataFrame) -> DataFrame:
        return df.join(marked.withColumnRenamed("ref", "rel_refs"), "id", "left").select(
            F.col("id").alias("way_id"), F.col("stage"),
            F.coalesce("rel_refs", F.lit("")).alias("rel_refs"), F.col("n_lines"),
        )

    return two_stage_ways(ways_df, marked.select("id"), stage1, stage2)


# ---------------------------------------------------------------------------
# §2.11 flex DSL end-to-end: define_table + insert rules + typed casts
# + not_null geometry drop, over the tagged synthetic ways (the
# generic.lua shape, flex-config/generic.lua; run() compiles to one
# Catalyst plan).
# ---------------------------------------------------------------------------

@register(
    "flex_generic_lines",
    # n_points models the reference's consecutive-duplicate-location
    # removal (src/geom-from-osm.cpp:53-101): 1 + count of location
    # transitions in (pos, ref) order; degenerate ways (< 2 distinct
    # consecutive locations) get no geometry and are dropped by the
    # not_null geom column.
    oracle=f"""
    WITH nodes AS ({osm_synth.NODES_SQL}),
         refs AS ({osm_synth.WAY_REFS_SQL}),
         pts AS (
            SELECT way_id, lon, lat,
                   lag(lon) OVER w AS plon, lag(lat) OVER w AS plat
            FROM refs JOIN nodes ON ref = node_id
            WINDOW w AS (PARTITION BY way_id ORDER BY pos, ref)),
         agg AS (
            SELECT way_id,
                   1 + sum(CASE WHEN plon IS NOT NULL
                                 AND (lon <> plon OR lat <> plat)
                           THEN 1 ELSE 0 END) AS n_dedup
            FROM pts GROUP BY way_id)
    SELECT way_id AS osm_id,
           {osm_synth.WAY_HIGHWAY_SQL} AS highway,
           cast(way_id % 3 AS int) AS layer,
           CASE WHEN {osm_synth.WAY_BRIDGE_SQL} THEN true
                ELSE cast(NULL AS boolean) END AS bridge,
           cast(n_dedup AS bigint) AS n_points
    FROM agg WHERE way_id % 4 <> 3 AND n_dedup >= 2
    """,
)
def q_flex_generic_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm2pgsql_spark.operators import geom_udfs
    from osm2pgsql_spark.plans.flex import ColumnDef, FlexConfig

    ways_df = osm_synth.tagged_ways(spark, sf_dir)
    nodes_df = osm_synth.nodes(spark, sf_dir).select(
        F.col("node_id").alias("id"), "lon", "lat"
    )
    cfg = FlexConfig()
    cfg.define_table(
        "lines",
        ids="way",
        columns=[
            ColumnDef("highway", "text"),
            ColumnDef("layer", "int4"),
            ColumnDef("bridge", "boolean"),
            ColumnDef("geom", "linestring", not_null=True),
        ],
    )
    tags = F.col("tags")
    cfg.insert(
        "lines",
        "way",
        when=tags["highway"] != "footway",
        highway=tags["highway"],
        layer=tags["layer"],
        bridge=tags["bridge"],
    )
    out = cfg.run(nodes=nodes_df, ways=ways_df)["lines"]
    return out.select(
        "osm_id", "highway", "layer", "bridge",
        geom_udfs.wkb_num_points(F.col("geom")).alias("n_points"),
    )


# ---------------------------------------------------------------------------
# §2.5 relation multipoint assembly (geom-from-osm.cpp:136-170):
# corner-node members -> multipoint; centroid is the exact square
# center (all arithmetic exact on the 1/8 grid).
# ---------------------------------------------------------------------------

@register(
    "relation_multipoint_collection",
    # §2.5 multipoint assembly AND geometrycollection assembly (node
    # members as points + side ways as linestrings, member order) in
    # one gate with a kind column
    oracle=f"""
    SELECT 'mp' AS kind, p_partkey AS rel_id,
           'MULTIPOINT' AS gtype,
           cast(NULL AS bigint) AS n_geoms,
           cast(CASE WHEN {osm_synth.SQUARE_HOLE_SQL} THEN 8 ELSE 4 END AS bigint) AS n_points,
           ({osm_synth.SQUARE_CX_SQL}) AS cx,
           ({osm_synth.SQUARE_CY_SQL}) AS cy,
           cast(NULL AS double) AS length
    FROM part WHERE {osm_synth.SQUARE_FILTER_SQL}
    UNION ALL
    SELECT 'coll' AS kind, p_partkey AS rel_id,
           'GEOMETRYCOLLECTION' AS gtype,
           cast(CASE WHEN {osm_synth.SQUARE_HOLE_SQL} THEN 16 ELSE 8 END AS bigint) AS n_geoms,
           cast(CASE WHEN {osm_synth.SQUARE_HOLE_SQL} THEN 24 ELSE 12 END AS bigint) AS n_points,
           cast(NULL AS double) AS cx,
           cast(NULL AS double) AS cy,
           {roundn_sql(f'CASE WHEN {osm_synth.SQUARE_HOLE_SQL} '
                       f'THEN 12 * ({osm_synth.SQUARE_S_SQL}) '
                       f'ELSE 8 * ({osm_synth.SQUARE_S_SQL}) END', 4)} AS length
    FROM part WHERE {osm_synth.SQUARE_FILTER_SQL}
    """,
)
def q_relation_multipoint_collection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm2pgsql_spark.operators import geom_udfs
    from osm2pgsql_spark.operators.relations import (
        relation_collections,
        relation_multipoints,
    )

    nodes, _, rels = osm_synth.square_member_relations(
        spark, sf_dir, node_members=True, way_members=False
    )
    mp = relation_multipoints(rels, nodes)
    c = geom_udfs.wkb_centroid_xy(F.col("geom"))
    mp_out = mp.select(
        F.lit("mp").alias("kind"),
        "rel_id",
        geom_udfs.wkb_geometry_type(F.col("geom")).alias("gtype"),
        F.lit(None).cast("bigint").alias("n_geoms"),
        geom_udfs.wkb_num_points(F.col("geom")).alias("n_points"),
        c["x"].alias("cx"),
        c["y"].alias("cy"),
        F.lit(None).cast("double").alias("length"),
    )

    nodes2, ways_df, rels2 = osm_synth.square_member_relations(
        spark, sf_dir, node_members=True, way_members=True
    )
    coll = relation_collections(rels2, ways_df, nodes2)
    coll_out = coll.select(
        F.lit("coll").alias("kind"),
        "rel_id",
        geom_udfs.wkb_geometry_type(F.col("geom")).alias("gtype"),
        geom_udfs.wkb_num_geometries(F.col("geom")).alias("n_geoms"),
        geom_udfs.wkb_num_points(F.col("geom")).alias("n_points"),
        F.lit(None).cast("double").alias("cx"),
        F.lit(None).cast("double").alias("cy"),
        round4(geom_udfs.wkb_length(F.col("geom"))).alias("length"),
    )
    return mp_out.unionByName(coll_out)


# r10 VERDICT #3 gate consolidation: line_merge + multipoint +
# geometrycollection assembly fold into ONE driver-sampled composite
# (the multipoint gate already carried a kind column; line_merge rows
# join it as kind='lmerge' in the same 8-column shape)
_REL_LMERGE_FN = _QUERIES.pop("relation_line_merge")
_REL_LMERGE_ORC = _ORACLES.pop("relation_line_merge")
_REL_MPCOLL_FN = _QUERIES.pop("relation_multipoint_collection")
_REL_MPCOLL_ORC = _ORACLES.pop("relation_multipoint_collection")


def _relation_collect_suite_oracle() -> str:
    lm = (
        f"SELECT 'lmerge' AS kind, rel_id, 'LINEMERGE' AS gtype,"
        f" CAST(n_parts AS BIGINT) AS n_geoms, n_points,"
        f" cast(NULL AS double) AS cx, cast(NULL AS double) AS cy,"
        f" length FROM ({_REL_LMERGE_ORC})"
    )
    return f"SELECT * FROM ({_REL_MPCOLL_ORC}) UNION ALL {lm}"


@register("relation_collect_suite", oracle=_relation_collect_suite_oracle())
def q_relation_collect_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 relation collection assembly as ONE gate with a `kind`
    branch column (r10 VERDICT #3 gate consolidation): multipoint
    (kind='mp'), geometrycollection (kind='coll') and line_merge
    through the real relation_multilinestrings kernel
    (kind='lmerge').  Multipolygon ring assembly keeps its own gate
    (relation_multipolygon_rings — benched)."""
    lm = _REL_LMERGE_FN(spark, sf_dir).select(
        F.lit("lmerge").alias("kind"),
        "rel_id",
        F.lit("LINEMERGE").alias("gtype"),
        F.col("n_parts").cast("bigint").alias("n_geoms"),
        "n_points",
        F.lit(None).cast("double").alias("cx"),
        F.lit(None).cast("double").alias("cy"),
        "length",
    )
    return _REL_MPCOLL_FN(spark, sf_dir).unionByName(lm)


# ---------------------------------------------------------------------------
# §2.5 relation geometrycollection assembly (geom-from-osm.cpp:253-279):
# corner nodes as points + side ways as linestrings, member order.
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# §2.11 flex DSL relation rule: route relations assembled to
# multilinestring geometry THROUGH the flex plan (reference
# as_multilinestring wiring, src/output-flex.cpp:453-606 +
# flex-config/route-relations.lua shape) over the square fixtures.
# ---------------------------------------------------------------------------

@register(
    "flex_route_relations",
    oracle=f"""
    SELECT p_partkey AS osm_id,
           'route' AS route,
           cast(CASE WHEN {osm_synth.SQUARE_HOLE_SQL} THEN 2 ELSE 1 END AS bigint) AS n_parts,
           {roundn_sql(f'CASE WHEN {osm_synth.SQUARE_HOLE_SQL} '
                       f'THEN 12 * ({osm_synth.SQUARE_S_SQL}) '
                       f'ELSE 8 * ({osm_synth.SQUARE_S_SQL}) END', 4)} AS length
    FROM part WHERE {osm_synth.SQUARE_FILTER_SQL}
    """,
)
def q_flex_route_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm2pgsql_spark.operators import geom_udfs
    from osm2pgsql_spark.plans.flex import ColumnDef, FlexConfig

    nodes, ways_df, rels = osm_synth.square_relations(spark, sf_dir)
    # model-schema shims: flex sources need tags columns
    empty_tags = F.create_map().cast("map<string,string>")
    rels = rels.select(
        "id", "members", F.map_from_arrays(
            F.array(F.lit("type")), F.array(F.lit("route"))
        ).alias("tags"),
    )
    ways_df = ways_df.select("id", "refs", empty_tags.alias("tags"))

    cfg = FlexConfig()
    cfg.define_table(
        "routes",
        ids="relation",
        columns=[
            ColumnDef("route", "text"),
            ColumnDef("geom", "multilinestring", not_null=True),
        ],
    )
    cfg.insert(
        "routes",
        "relation",
        when=F.col("tags")["type"] == "route",
        relation_geometry="multilinestring",
        route=F.col("tags")["type"],
    )
    out = cfg.run(nodes=nodes, ways=ways_df, relations=rels)["routes"]
    return out.select(
        "osm_id", "route",
        geom_udfs.wkb_num_geometries(F.col("geom")).alias("n_parts"),
        round4(geom_udfs.wkb_length(F.col("geom"))).alias("length"),
    )


# ---------------------------------------------------------------------------
# §2.12 pgsql-compat legacy pipeline: line table with z_order and the
# polygon table with way_area, through planet_osm_tables
# (output-pgsql.cpp:89-123, tagtransform-c.cpp:28-89).
# ---------------------------------------------------------------------------

_PGSQL_OFFSETS = {n: (off, roads) for n, off, roads in TG.HIGHWAY_LAYERS}

def _pgsql_zorder_sql() -> str:
    off = "CASE way_id % 4 " + " ".join(
        f"WHEN {i} THEN {_PGSQL_OFFSETS[n][0]}"
        for i, n in enumerate(["motorway", "primary", "residential", "footway"])
    ) + " END"
    return (
        f"cast((way_id % 3) * 100 + ({off}) "
        f"+ (CASE WHEN {osm_synth.WAY_RAILWAY_SQL} THEN 35 ELSE 0 END) "
        f"+ (CASE WHEN {osm_synth.WAY_BRIDGE_SQL} THEN 100 ELSE 0 END) AS int)"
    )


@register(
    "pgsql_line_zorder",
    # n counts raw refs (polygon classification uses the refs list);
    # n_dedup models consecutive-duplicate-location removal in the
    # linestring builder (degenerate ways emit no geometry).
    oracle=f"""
    WITH nodes AS ({osm_synth.NODES_SQL}),
         refs AS ({osm_synth.WAY_REFS_SQL}),
         pts AS (
            SELECT way_id, lon, lat,
                   lag(lon) OVER w AS plon, lag(lat) OVER w AS plat
            FROM refs JOIN nodes ON ref = node_id
            WINDOW w AS (PARTITION BY way_id ORDER BY pos, ref)),
         agg AS (
            SELECT way_id, count(*) AS n,
                   1 + sum(CASE WHEN plon IS NOT NULL
                                 AND (lon <> plon OR lat <> plat)
                           THEN 1 ELSE 0 END) AS n_dedup
            FROM pts GROUP BY way_id)
    SELECT way_id AS osm_id,
           {osm_synth.WAY_HIGHWAY_SQL} AS highway,
           {_pgsql_zorder_sql()} AS z_order
    FROM agg
    WHERE NOT ({osm_synth.WAY_BUILDING_SQL} AND n >= 3) AND n_dedup >= 2
    """,
)
def q_pgsql_line_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm2pgsql_spark.plans.pgsql_compat import planet_osm_tables

    ways_df = osm_synth.tagged_ways(spark, sf_dir, close_buildings=True)
    nodes_df = osm_synth.nodes(spark, sf_dir).select(
        F.col("node_id").alias("id"), "lon", "lat",
        F.create_map().cast("map<string,string>").alias("tags"),
    )
    t = planet_osm_tables(nodes_df, ways_df)
    return t["planet_osm_line"].select("osm_id", "highway", "z_order")


@register(
    "pgsql_polygon_area",
    # ring validity models the closed-way polygon builder
    # (src/geom-from-osm.cpp:104-133): after appending the closing
    # point and removing consecutive duplicate locations the ring must
    # keep >= 4 points; ring_len = 1 + open-path transitions
    # (+1 unless the way already ends on its start location).
    # `bad` reproduces the osmium area assembler's self-intersection
    # rejection (geom-from-osm.cpp:104-133 via area_assembler_t;
    # functions/geometry.ring_self_intersects is the Spark twin):
    # strict segment crossings between non-adjacent ring segments,
    # plus collinear overlaps — identical IEEE expressions on both
    # engines, so the classification matches bit-for-bit.
    oracle=f"""
    WITH nodes AS ({osm_synth.NODES_SQL}),
         refs AS ({osm_synth.WAY_REFS_SQL}),
         pts AS (
            SELECT way_id, pos, ref, lon, lat,
                   lag(lon) OVER w AS plon, lag(lat) OVER w AS plat,
                   lead(lon) OVER w AS nlon, lead(lat) OVER w AS nlat,
                   first_value(lon) OVER w AS flon, first_value(lat) OVER w AS flat,
                   radians(lon) * 6378137.0e0 AS mx,
                   6378137.0e0 * ln(tan(pi()/4.0e0 + radians(lat)/2.0e0)) AS my,
                   lead(radians(lon) * 6378137.0e0) OVER w AS nmx,
                   lead(6378137.0e0 * ln(tan(pi()/4.0e0 + radians(lat)/2.0e0))) OVER w AS nmy,
                   first_value(radians(lon) * 6378137.0e0) OVER w AS fmx,
                   first_value(6378137.0e0 * ln(tan(pi()/4.0e0 + radians(lat)/2.0e0))) OVER w AS fmy
            FROM refs JOIN nodes ON ref = node_id
            WINDOW w AS (PARTITION BY way_id ORDER BY pos, ref)),
         agg AS (
            SELECT way_id, count(*) AS n,
                   1 + sum(CASE WHEN plon IS NOT NULL
                                 AND (lon <> plon OR lat <> plat)
                           THEN 1 ELSE 0 END)
                     + max(CASE WHEN nlon IS NULL
                                 AND (lon <> flon OR lat <> flat)
                           THEN 1 ELSE 0 END) AS ring_len,
                   sum(CASE WHEN nlon IS NULL THEN lon * flat - flon * lat
                            ELSE lon * nlat - nlon * lat END) AS t2,
                   -- --reproject-area twin: shoelace over mercator
                   -- coordinates TRANSLATED by the ring's first vertex
                   -- (the wrap term of a translated ring is 0)
                   sum(CASE WHEN nlon IS NULL THEN 0.0e0
                            ELSE (mx - fmx) * (nmy - fmy) - (nmx - fmx) * (my - fmy)
                       END) AS t2m
            FROM pts GROUP BY way_id),
         ring AS (
            SELECT way_id, lon AS x, lat AS y,
                   row_number() OVER (PARTITION BY way_id ORDER BY pos, ref) AS i,
                   count(*) OVER (PARTITION BY way_id) AS m0
            FROM pts
            WHERE plon IS NULL OR lon <> plon OR lat <> plat
            QUALIFY NOT (i = m0 AND m0 > 1 AND x = flon AND y = flat)),
         seg AS (
            SELECT way_id, i, count(*) OVER (PARTITION BY way_id) AS m,
                   x AS x1, y AS y1,
                   coalesce(lead(x) OVER w2, first_value(x) OVER w2) AS x2,
                   coalesce(lead(y) OVER w2, first_value(y) OVER w2) AS y2
            FROM ring WINDOW w2 AS (PARTITION BY way_id ORDER BY i)),
         bad AS (
            SELECT DISTINCT s.way_id
            FROM seg s JOIN seg t
              ON s.way_id = t.way_id AND t.i >= s.i + 2
                 AND NOT (s.i = 1 AND t.i = s.m)
            WHERE (
              ((((s.x2-s.x1)*(t.y1-s.y1) - (s.y2-s.y1)*(t.x1-s.x1)) > 0)
                 <> (((s.x2-s.x1)*(t.y2-s.y1) - (s.y2-s.y1)*(t.x2-s.x1)) > 0))
              AND
              ((((t.x2-t.x1)*(s.y1-t.y1) - (t.y2-t.y1)*(s.x1-t.x1)) > 0)
                 <> (((t.x2-t.x1)*(s.y2-t.y1) - (t.y2-t.y1)*(s.x2-t.x1)) > 0))
            ) OR (
              ((s.x2-s.x1)*(t.y1-s.y1) - (s.y2-s.y1)*(t.x1-s.x1)) = 0
              AND ((s.x2-s.x1)*(t.y2-s.y1) - (s.y2-s.y1)*(t.x2-s.x1)) = 0
              AND ((t.x2-t.x1)*(s.y1-t.y1) - (t.y2-t.y1)*(s.x1-t.x1)) = 0
              AND ((t.x2-t.x1)*(s.y2-t.y1) - (t.y2-t.y1)*(s.x2-t.x1)) = 0
              AND greatest(
                    (t.x1-s.x1)*(s.x2-s.x1) + (t.y1-s.y1)*(s.y2-s.y1),
                    (t.x2-s.x1)*(s.x2-s.x1) + (t.y2-s.y1)*(s.y2-s.y1)) > 0
              AND least(
                    (t.x1-s.x1)*(s.x2-s.x1) + (t.y1-s.y1)*(s.y2-s.y1),
                    (t.x2-s.x1)*(s.x2-s.x1) + (t.y2-s.y1)*(s.y2-s.y1))
                  < (s.x2-s.x1)*(s.x2-s.x1) + (s.y2-s.y1)*(s.y2-s.y1)
            ))
    SELECT way_id AS osm_id, {roundn_sql('abs(t2) / 2.0e0', 4)} AS way_area,
           {roundn_sql('abs(t2m) / 2.0e0', -2)} AS way_area_merc
    FROM agg WHERE way_id % 2 = 0 AND n >= 3 AND ring_len >= 4
      AND way_id NOT IN (SELECT way_id FROM bad)
    """,
)
def q_pgsql_polygon_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm2pgsql_spark.plans.pgsql_compat import planet_osm_tables

    ways_df = osm_synth.tagged_ways(spark, sf_dir, close_buildings=True)
    nodes_df = osm_synth.nodes(spark, sf_dir).select(
        F.col("node_id").alias("id"), "lon", "lat",
        F.create_map().cast("map<string,string>").alias("tags"),
    )
    t = planet_osm_tables(nodes_df, ways_df)
    # --reproject-area branch (output-pgsql.cpp:45-55): same tables,
    # way_area in mercator m^2 while the geometry stays 4326
    t_rep = planet_osm_tables(nodes_df, ways_df, reproject_area=True)
    merc = t_rep["planet_osm_polygon"].select(
        "osm_id", roundn(F.col("way_area"), -2).alias("way_area_merc")
    )
    return (
        t["planet_osm_polygon"]
        .select("osm_id", round4(F.col("way_area")).alias("way_area"))
        .join(merc, "osm_id")
        .select("osm_id", "way_area", "way_area_merc")
    )


# r10 VERDICT #3 gate consolidation: the two legacy-pgsql gates fold
# into ONE driver-sampled composite; the original registrations above
# stay intact as the branch implementations + oracles (popped here so
# the total gate count shrinks without touching their code)
_PGSQL_ZORDER_FN = _QUERIES.pop("pgsql_line_zorder")
_PGSQL_ZORDER_ORC = _ORACLES.pop("pgsql_line_zorder")
_PGSQL_POLY_FN = _QUERIES.pop("pgsql_polygon_area")
_PGSQL_POLY_ORC = _ORACLES.pop("pgsql_polygon_area")


def _pgsql_legacy_suite_oracle() -> str:
    z = (
        f"SELECT 'line_zorder' AS chk, osm_id,"
        f" coalesce(highway, '') AS s,"
        f" CAST(z_order AS DOUBLE) AS v1, -1.0e0 AS v2"
        f" FROM ({_PGSQL_ZORDER_ORC})"
    )
    p = (
        f"SELECT 'polygon_area' AS chk, osm_id, '' AS s,"
        f" CAST(way_area AS DOUBLE) AS v1,"
        f" CAST(way_area_merc AS DOUBLE) AS v2"
        f" FROM ({_PGSQL_POLY_ORC})"
    )
    return f"{z} UNION ALL {p}"


@register("pgsql_legacy_suite", oracle=_pgsql_legacy_suite_oracle())
def q_pgsql_legacy_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The legacy pgsql output's two gated table shapes as ONE gate
    with a `chk` branch column (r10 VERDICT #3 gate consolidation):
    planet_osm_line z_order/roads classification and
    planet_osm_polygon ring-validity + area (+ --reproject-area
    mercator branch).  Long-form normalization (chk, osm_id, s, v1,
    v2) with -1 for branch-absent values."""
    z = _PGSQL_ZORDER_FN(spark, sf_dir).select(
        F.lit("line_zorder").alias("chk"), "osm_id",
        F.coalesce(F.col("highway"), F.lit("")).alias("s"),
        F.col("z_order").cast("double").alias("v1"),
        F.lit(-1.0).alias("v2"),
    )
    p = _PGSQL_POLY_FN(spark, sf_dir).select(
        F.lit("polygon_area").alias("chk"), "osm_id",
        F.lit("").alias("s"),
        F.col("way_area").cast("double").alias("v1"),
        F.col("way_area_merc").cast("double").alias("v2"),
    )
    return z.unionByName(p)


# ---------------------------------------------------------------------------
# §2.5 river network: chain contraction + downstream width fixpoint
# (gen-rivers.cpp:83-332) — each customer's orders form one path of
# waterway segments (x = custkey, y = ordered orderkeys), so the
# contraction must collapse it to exactly one chain (telescoping
# length) and the width fixpoint must equal the closed-form running
# max along the path.
# ---------------------------------------------------------------------------

def _river_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    nxt = F.lead("o_orderkey").over(w)
    return (
        o.select(
            F.col("o_orderkey").alias("edge_id"),
            F.col("o_custkey").cast("double").alias("x1"),
            F.col("o_orderkey").cast("double").alias("y1"),
            F.col("o_custkey").cast("double").alias("x2"),
            nxt.cast("double").alias("y2"),
            (nxt - F.col("o_orderkey")).cast("double").alias("length"),
            ((F.col("o_orderkey") % 50) / F.lit(4.0)).alias("width"),
            F.lit(None).cast("string").alias("name"),
        )
        .where(F.col("y2").isNotNull())
    )


@register(
    "river_contraction",
    oracle="""
    WITH o AS (SELECT o_custkey AS c, o_orderkey AS k FROM orders),
         agg AS (SELECT c, count(*) AS n, min(k) AS kmin, max(k) AS kmax
                 FROM o GROUP BY c),
         widths AS (
            SELECT c, (k % 50) / 4.0e0 AS w,
                   row_number() OVER (PARTITION BY c ORDER BY k DESC) AS rn
            FROM o)
    SELECT cast(a.kmin AS bigint) AS chain_id,
           cast(a.kmax - a.kmin AS double) AS length,
           mw.w AS width,
           cast(a.n - 1 AS bigint) AS n_edges
    FROM agg a
    JOIN (SELECT c, max(w) AS w FROM widths WHERE rn > 1 GROUP BY c) mw
      ON mw.c = a.c
    WHERE a.n >= 2
    """,
)
def q_river_contraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm2pgsql_spark.operators.rivers import contract_chains, merge_chains

    edges = _river_edges(spark, sf_dir)
    merged = merge_chains(contract_chains(edges, max_iter=40))
    return merged.select(
        "chain_id", "length", "width",
        F.size("member_edges").cast("bigint").alias("n_edges"),
    )


@register(
    "river_width_propagation",
    oracle="""
    WITH o AS (SELECT o_custkey AS c, o_orderkey AS k FROM orders),
         e AS (SELECT c, k,
                      lead(k) OVER (PARTITION BY c ORDER BY k) AS nk,
                      (k % 50) / 4.0e0 AS w
               FROM o)
    SELECT k AS edge_id,
           max(w) OVER (PARTITION BY c ORDER BY k
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS width
    FROM e WHERE nk IS NOT NULL
    """,
)
def q_river_width_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm2pgsql_spark.operators.rivers import propagate_width

    edges = _river_edges(spark, sf_dir)
    return propagate_width(edges, max_iter=40).select("edge_id", "width")


# ---------------------------------------------------------------------------
# §2.9 scalar geometry kernels driven through the REAL WKB pandas-UDF
# path (make_linestring -> kernel -> measure), with closed-form
# oracles on the exact 1/8-grid square fixtures: centroid + get_bbox
# (geom-functions.cpp:812 / geom-box.cpp), Douglas-Peucker simplify
# (:873-888), segmentize/split_linestring (:271-342), and the
# 4326->3857 web-mercator forward transform (reprojection.cpp:17-102).
# All square coordinates are dyadic rationals, so centroid/bbox/
# segmentize outputs are bit-exact with no rounding discipline.
# ---------------------------------------------------------------------------

def _square_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").where(F.expr(osm_synth.SQUARE_FILTER_SQL))
    return p.select(
        F.col("p_partkey").alias("id"),
        F.expr(osm_synth.SQUARE_CX_SQL).alias("cx"),
        F.expr(osm_synth.SQUARE_CY_SQL).alias("cy"),
        F.expr(osm_synth.SQUARE_S_SQL).alias("s"),
    )


def _xy(x, y):
    return F.struct(x.alias("x"), y.alias("y"))


_GEOM_CB_ORACLE = f"""
    SELECT p_partkey AS id,
           ({osm_synth.SQUARE_CX_SQL}) AS cx,
           ({osm_synth.SQUARE_CY_SQL}) AS cy,
           ({osm_synth.SQUARE_CX_SQL}) - ({osm_synth.SQUARE_S_SQL}) AS min_x,
           ({osm_synth.SQUARE_CY_SQL}) - ({osm_synth.SQUARE_S_SQL}) AS min_y,
           ({osm_synth.SQUARE_CX_SQL}) + ({osm_synth.SQUARE_S_SQL}) AS max_x,
           ({osm_synth.SQUARE_CY_SQL}) + ({osm_synth.SQUARE_S_SQL}) AS max_y,
           cast(5 AS bigint) AS n_points
    FROM part WHERE {osm_synth.SQUARE_FILTER_SQL}
    """


def q_geom_centroid_bbox(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm2pgsql_spark.operators import geom_udfs

    base = _square_base(spark, sf_dir)
    cx, cy, s = F.col("cx"), F.col("cy"), F.col("s")
    ring = F.array(
        _xy(cx - s, cy - s), _xy(cx + s, cy - s), _xy(cx + s, cy + s),
        _xy(cx - s, cy + s), _xy(cx - s, cy - s),
    )
    # geom feeds centroid + bbox + n_points: the pinned line kernel
    # runs once for all three (§4.4)
    g = base.select("id", assembly.pts_to_linestring_wkb(ring).alias("geom"))
    c = geom_udfs.wkb_centroid_xy(F.col("geom"))
    b = geom_udfs.wkb_bbox(F.col("geom"))
    return g.select(
        "id",
        c["x"].alias("cx"), c["y"].alias("cy"),
        b["min_x"].alias("min_x"), b["min_y"].alias("min_y"),
        b["max_x"].alias("max_x"), b["max_y"].alias("max_y"),
        geom_udfs.wkb_num_points(F.col("geom")).alias("n_points"),
    )


# bend of the middle vertex: 0 (collinear, DP drops it) for id%8=1,
# s/2 (>= 0.125, above the fixed 0.1 tolerance, DP keeps it) otherwise
_SIMPLIFY_BEND_SQL = (
    f"CASE WHEN p_partkey % 8 = 1 THEN 0.0e0 "
    f"ELSE ({osm_synth.SQUARE_S_SQL}) / 2.0e0 END"
)


_GEOM_SIMPLIFY_ORACLE = f"""
    SELECT p_partkey AS id,
           cast(CASE WHEN p_partkey % 8 = 1 THEN 2 ELSE 3 END AS bigint) AS n_points,
           {roundn_sql(
               f'CASE WHEN p_partkey % 8 = 1 THEN 2.0e0 * ({osm_synth.SQUARE_S_SQL}) '
               f'ELSE 2.0e0 * sqrt(({osm_synth.SQUARE_S_SQL}) * ({osm_synth.SQUARE_S_SQL}) '
               f'+ (({osm_synth.SQUARE_S_SQL}) / 2.0e0) * (({osm_synth.SQUARE_S_SQL}) / 2.0e0)) END',
               4,
           )} AS length
    FROM part WHERE {osm_synth.SQUARE_FILTER_SQL}
    """


def q_geom_simplify(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm2pgsql_spark.operators import geom_udfs

    base = _square_base(spark, sf_dir).withColumn(
        "bend", F.expr(_SIMPLIFY_BEND_SQL.replace("p_partkey", "id"))
    )
    cx, cy, s = F.col("cx"), F.col("cy"), F.col("s")
    pts = F.array(
        _xy(cx - s, cy), _xy(cx, cy + F.col("bend")), _xy(cx + s, cy)
    )
    g = base.select(
        "id",
        geom_udfs.wkb_simplify(assembly.pts_to_linestring_wkb(pts), 0.1).alias("geom"),
    )
    return g.select(
        "id",
        geom_udfs.wkb_num_points(F.col("geom")).alias("n_points"),
        round4(geom_udfs.wkb_length(F.col("geom"))).alias("length"),
    )


_GEOM_SEGMENTIZE_ORACLE = f"""
    SELECT p_partkey AS id,
           cast(ceil(2.0e0 * ({osm_synth.SQUARE_S_SQL}) / 0.375e0) AS bigint) AS n_parts,
           cast(2 * ceil(2.0e0 * ({osm_synth.SQUARE_S_SQL}) / 0.375e0) AS bigint) AS n_points,
           2.0e0 * ({osm_synth.SQUARE_S_SQL}) AS length
    FROM part WHERE {osm_synth.SQUARE_FILTER_SQL}
    """


def q_geom_segmentize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm2pgsql_spark.operators import geom_udfs

    base = _square_base(spark, sf_dir)
    cx, cy, s = F.col("cx"), F.col("cy"), F.col("s")
    pts = F.array(_xy(cx - s, cy - s), _xy(cx + s, cy - s))
    g = base.select(
        "id",
        geom_udfs.wkb_segmentize(assembly.pts_to_linestring_wkb(pts), 0.375).alias("geom"),
    )
    return g.select(
        "id",
        geom_udfs.wkb_num_geometries(F.col("geom")).alias("n_parts"),
        geom_udfs.wkb_num_points(F.col("geom")).alias("n_points"),
        geom_udfs.wkb_length(F.col("geom")).alias("length"),
    )


_GEOM_MERC_ORACLE = f"""
    WITH nodes AS ({osm_synth.NODES_SQL})
    SELECT node_id,
           {roundn_sql('radians(lon) * 6378137.0e0', 0)} AS x,
           {roundn_sql('ln(tan(pi() / 4.0e0 + radians(lat) / 2.0e0)) * 6378137.0e0', 0)} AS y
    FROM nodes
    """


def q_geom_transform_3857(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm2pgsql_spark.operators import geom_udfs

    n = osm_synth.nodes(spark, sf_dir)
    # one projection chains point -> 3857 -> bbox in one Python eval;
    # the bbox is staged because its pinned input would run per use
    g = n.select(
        "node_id",
        geom_udfs.wkb_bbox(geom_udfs.wkb_transform_3857(
            geom_udfs.point_wkb(F.col("lon"), F.col("lat"))
        )).alias("b"),
    )
    return g.select(
        "node_id",
        roundn(F.col("b.min_x"), 0).alias("x"),
        roundn(F.col("b.min_y"), 0).alias("y"),
    )


# ---- arbitrary-EPSG forward transforms (functions/projection.py;
# reference: PROJ-backed generic reprojection,
# src/reprojection-generic-proj6.cpp selected at src/reprojection.cpp:83).
# Graticule points are integer-derived from p_partkey so both engines
# feed the Krueger/LAEA series bit-identical doubles; the oracle SQL is
# GENERATED from the same params object (tmerc_forward_sql), so the two
# sides can only differ by libm ULPs — absorbed by whole-meter rounding.

_EPSG_GRATICULES = {
    # chk -> (epsg, lon_sql, lat_sql) — ranges stay inside each
    # projection's validity belt (TM: |lon-lon0|<=6, lat<=83)
    "tm_utm": (
        25832,
        "cast((p_partkey * 7) % 13 AS double) + 3.0e0",
        "cast((p_partkey * 11) % 68 AS double) + 16.0e0",
    ),
    "tm_osgb": (
        27700,
        "cast((p_partkey * 5) % 13 AS double) - 8.0e0",
        "cast((p_partkey * 3) % 13 AS double) + 49.0e0",
    ),
    "laea": (
        3035,
        "cast((p_partkey * 7) % 41 AS double) - 10.0e0",
        "cast((p_partkey * 13) % 38 AS double) + 34.0e0",
    ),
    "lcc": (
        2154,
        "cast((p_partkey * 11) % 17 AS double) - 5.0e0",
        "cast((p_partkey * 19) % 12 AS double) + 41.0e0",
    ),
    "albers": (
        5070,
        "cast((p_partkey * 13) % 45 AS double) - 120.0e0",
        "cast((p_partkey * 7) % 24 AS double) + 25.0e0",
    ),
    "sterea": (
        28992,
        "cast((p_partkey * 3) % 5 AS double) + 3.0e0",
        "cast((p_partkey * 5) % 4 AS double) + 50.0e0",
    ),
}


def _epsg_forward_sql(code: int) -> tuple[str, str]:
    """(e_sql, n_sql) over columns lon/lat — the family-dispatched
    DuckDB twin generated from the SAME params object the kernel
    uses."""
    from osm2pgsql_spark.functions import projection as PJ

    p = PJ.epsg_params(code)
    if isinstance(p, PJ.TmSoParams):  # subclass: dispatch before 9807
        return PJ.tmso_forward_sql("lon", "lat", p)
    if isinstance(p, PJ.TmercParams):
        return PJ.tmerc_forward_sql("lon", "lat", p)
    if isinstance(p, PJ.LccParams):
        return PJ.lcc_forward_sql("lon", "lat", p)
    if isinstance(p, PJ.AlbersParams):
        return PJ.albers_forward_sql("lon", "lat", p)
    if isinstance(p, PJ.StereaParams):
        return PJ.sterea_forward_sql("lon", "lat", p)
    if isinstance(p, PJ.HomParams):
        return PJ.hom_forward_sql("lon", "lat", p)
    if isinstance(p, PJ.Lcc1Params):
        return PJ.lcc_forward_sql("lon", "lat", p)  # shared surface
    if isinstance(p, PJ.PolarParams):
        return PJ.polar_forward_sql("lon", "lat", p)
    if isinstance(p, PJ.MercParams):
        return PJ.merc_forward_sql("lon", "lat", p)
    if isinstance(p, PJ.KrovakParams):
        return PJ.krovak_forward_sql("lon", "lat", p)
    if isinstance(p, PJ.CassiniParams):
        return PJ.cassini_forward_sql("lon", "lat", p)
    if isinstance(p, PJ.NzmgParams):
        return PJ.nzmg_forward_sql("lon", "lat", p)
    if isinstance(p, PJ.LabordeParams):
        return PJ.laborde_forward_sql("lon", "lat", p)
    if isinstance(p, PJ.BonneSoParams):  # subclass: before 9827
        return PJ.bonne_so_forward_sql("lon", "lat", p)
    if isinstance(p, PJ.BonneParams):
        return PJ.bonne_forward_sql("lon", "lat", p)
    return PJ.laea_forward_sql("lon", "lat", p)


def _epsg_oracle(chk: str, specs: dict | None = None) -> str:
    code, lon_sql, lat_sql = (specs or _EPSG_GRATICULES)[chk]
    e_sql, n_sql = _epsg_forward_sql(code)
    return (
        f"SELECT id, {roundn_sql(e_sql, 0)} AS e, {roundn_sql(n_sql, 0)} AS n "
        f"FROM (SELECT p_partkey AS id, {lon_sql} AS lon, {lat_sql} AS lat FROM part)"
    )


def _geom_epsg_fused(spark: SparkSession, sf_dir: str, specs: dict) -> DataFrame:
    """All of `specs`' EPSG graticule branches in ONE scan + ONE Arrow
    kernel: every graticule's lon/lat computed as JVM columns, one
    mapInPandas running the family-dispatched forward (forward_xy)
    and emitting the long-form rows (id, chk, e, n) directly —
    emitting long-form inside the kernel avoids the
    fan-out-from-one-frame subplan re-execution a per-branch union
    would risk."""
    import pandas as pd

    specs = dict(specs)
    cols = [F.col("p_partkey").alias("id")]
    for chk, (_code, lon_sql, lat_sql) in specs.items():
        cols.append(F.expr(lon_sql).alias(f"lon_{chk}"))
        cols.append(F.expr(lat_sql).alias(f"lat_{chk}"))
    base = load_table(spark, sf_dir, "part").select(*cols)

    def kern(it):
        from osm2pgsql_spark.functions import projection as PJ

        params = {chk: PJ.epsg_params(spec[0]) for chk, spec in specs.items()}
        for pdf in it:
            frames = []
            for chk, p in params.items():
                e, n = PJ.forward_xy(
                    pdf[f"lon_{chk}"].to_numpy(),
                    pdf[f"lat_{chk}"].to_numpy(),
                    p,
                )
                frames.append(
                    pd.DataFrame(
                        {"id": pdf["id"], "chk": chk, "e": e, "n": n}
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    out = base.mapInPandas(kern, "id bigint, chk string, e double, n double")
    return out.select(
        "id", "chk", roundn(F.col("e"), 0).alias("e"), roundn(F.col("n"), 0).alias("n")
    )


def q_geom_epsg_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 6 original graticule branches fused (benched geom_suite
    scope — FROZEN; round-10 registry-tail codes live in the separate
    epsg_registry_tail gate)."""
    return _geom_epsg_fused(spark, sf_dir, _EPSG_GRATICULES)


# round-10 registry tail — the codes the r9 VERDICT named as the
# visible capability gap (31370/2056-class), each inside its belt.
# Unbenched on purpose: geom_suite's bench scope is frozen at r7.
_EPSG_GRATICULES_R10 = {
    "lcc_belge": (  # Belgian Lambert 72 (LCC 2SP, false origin at pole)
        31370,
        "cast((p_partkey * 7) % 5 AS double) + 2.0e0",
        "cast((p_partkey * 11) % 4 AS double) + 49.0e0",
    ),
    "hom_lv95": (  # CH1903+ / LV95 (Hotine B, alpha=90)
        2056,
        "cast((p_partkey * 3) % 5 AS double) + 6.0e0",
        "cast((p_partkey * 5) % 3 AS double) + 46.0e0",
    ),
    "hom_rso": (  # Timbalai 1948 / RSO Borneo (skew Hotine B)
        29873,
        "cast((p_partkey * 13) % 9 AS double) + 111.0e0",
        "cast((p_partkey * 7) % 6 AS double) + 1.0e0",
    ),
    "tm_itm": (  # IRENET95 / Irish TM
        2157,
        "cast((p_partkey * 5) % 8 AS double) - 11.0e0",
        "cast((p_partkey * 3) % 5 AS double) + 51.0e0",
    ),
    "tm_nztm": (  # NZGD2000 / NZTM (southern hemisphere)
        2193,
        "cast((p_partkey * 11) % 9 AS double) + 168.0e0",
        "cast((p_partkey * 13) % 13 AS double) - 47.0e0",
    ),
    "tm_gk4": (  # DHDN / Gauss-Krueger zone 4 (range-derived row)
        31468,
        "cast((p_partkey * 3) % 6 AS double) + 9.0e0",
        "cast((p_partkey * 7) % 8 AS double) + 47.0e0",
    ),
    "lcc1_jamaica": (  # Jamaica National Grid (LCC 1SP, method 9801)
        24200,
        "cast((p_partkey * 5) % 3 AS double) - 79.0e0",
        "cast((p_partkey * 7) % 2 AS double) + 17.0e0",
    ),
    "polar_ant": (  # Antarctic Polar Stereographic (9829 variant B)
        3031,
        "cast((p_partkey * 11) % 360 AS double) - 179.0e0",
        "cast((p_partkey * 13) % 28 AS double) - 88.0e0",
    ),
    "merc_world": (  # WGS84 World Mercator (9804)
        3395,
        "cast((p_partkey * 7) % 359 AS double) - 179.0e0",
        "cast((p_partkey * 17) % 160 AS double) - 80.0e0",
    ),
    "tmso_lo19": (  # Hartebeesthoek94 / Lo19 (TM South Orientated 9808)
        2048,
        "cast((p_partkey * 7) % 4 AS double) + 17.0e0",
        "cast((p_partkey * 5) % 7 AS double) - 34.0e0",
    ),
    # --- round-11 additions (Krovak 9819, Cassini-Soldner 9806) ---
    "krovak_sjtsk": (  # S-JTSK / Krovak East North (Czech + Slovak)
        5514,
        "cast((p_partkey * 7) % 7 AS double) + 12.0e0",
        "cast((p_partkey * 5) % 4 AS double) + 47.5e0",
    ),
    "cassini_palestine": (  # Palestine 1923 / Palestine Grid
        28191,
        "cast((p_partkey * 3) % 2 AS double) + 34.0e0",
        "cast((p_partkey * 11) % 3 AS double) + 30.5e0",
    ),
    "cassini_trinidad": (  # Trinidad 1903 grid (Clarke's links)
        30200,
        "cast((p_partkey * 5) % 2 AS double) - 62.0e0",
        "cast((p_partkey * 7) % 2 AS double) + 10.0e0",
    ),
    "nzmg": (  # NZGD49 / New Zealand Map Grid (9811, complex series)
        27200,
        "cast((p_partkey * 13) % 11 AS double) + 167.0e0",
        "cast((p_partkey * 7) % 13 AS double) - 47.0e0",
    ),
    # --- round-12 additions (Hotine variant A 9812, Laborde 9813,
    # --- Bonne 9827 method example) ---
    "homa_michigan": (  # NAD83 / Michigan Oblique Mercator
        3078,
        "cast((p_partkey * 7) % 8 AS double) - 90.0e0",
        "cast((p_partkey * 5) % 7 AS double) + 41.0e0",
    ),
    "laborde_madagascar": (  # Tananarive (Paris) / Laborde Grid
        29701,
        "cast((p_partkey * 11) % 8 AS double) + 43.0e0",
        "cast((p_partkey * 13) % 14 AS double) - 26.0e0",
    ),
    "bonne_example": (  # Bonne 9827 method example (see METHOD_EXAMPLES)
        "bonne_example",
        "cast((p_partkey * 3) % 4 AS double) - 10.0e0",
        "cast((p_partkey * 7) % 5 AS double) + 37.0e0",
    ),
    "bonne_so_example": (  # Bonne South Orientated (9828) twin
        "bonne_so_example",
        "cast((p_partkey * 5) % 4 AS double) - 10.0e0",
        "cast((p_partkey * 11) % 5 AS double) + 37.0e0",
    ),
}


def _epsg_registry_tail_oracle() -> str:
    parts = [
        f"SELECT id, '{chk}' AS chk, e, n FROM ({_epsg_oracle(chk, _EPSG_GRATICULES_R10)})"
        for chk in _EPSG_GRATICULES_R10
    ]
    return "\nUNION ALL\n".join(parts)


@register("epsg_registry_tail", oracle=_epsg_registry_tail_oracle())
def q_epsg_registry_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPSG registry tail (projection.py registry rows for Belgian
    Lambert 72, Swiss LV95, RSO Borneo, Irish TM, NZTM, a
    Gauss-Krueger zone, Jamaica National Grid (LCC 1SP), Antarctic
    Polar Stereographic, World Mercator, round 11's Krovak S-JTSK
    5514 plus Cassini-Soldner Palestine/Trinidad grids, and — round
    12 — Hotine variant A (Michigan 3078), Laborde Madagascar 29701
    (GN7-2 worked example mm-pinned) and the Bonne 9827 method
    example) — the reference reprojects to these via PROJ
    (src/reprojection-generic-proj6.cpp); here each family kernel is
    checked against a DuckDB twin generated from the same params
    object."""
    return _geom_epsg_fused(spark, sf_dir, _EPSG_GRATICULES_R10)


def q_geom_epsg(spark: SparkSession, sf_dir: str, chk: str) -> DataFrame:
    from osm2pgsql_spark.operators import geom_udfs

    code, lon_sql, lat_sql = _EPSG_GRATICULES[chk]
    p = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("id"),
        F.expr(lon_sql).alias("lon"),
        F.expr(lat_sql).alias("lat"),
    )
    g = p.select(
        "id",
        geom_udfs.wkb_transform_epsg(
            geom_udfs.point_wkb(F.col("lon"), F.col("lat")), code
        ).alias("geom"),
    )
    b = geom_udfs.wkb_bbox(F.col("geom"))
    return g.select(
        "id",
        roundn(b["min_x"], 0).alias("e"),
        roundn(b["min_y"], 0).alias("n"),
    )


_GEOM_DI_ORACLE = f"""
    SELECT p_partkey AS id,
           sqrt(8.0e0 * ({osm_synth.SQUARE_S_SQL}) * ({osm_synth.SQUARE_S_SQL})) AS dist,
           ({osm_synth.SQUARE_CX_SQL}) - ({osm_synth.SQUARE_S_SQL}) / 2.0e0 AS ix,
           ({osm_synth.SQUARE_CY_SQL}) - ({osm_synth.SQUARE_S_SQL}) / 2.0e0 AS iy
    FROM part WHERE {osm_synth.SQUARE_FILTER_SQL}
    """


def q_geom_distance_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """distance (geom-functions.cpp:25) between the square's opposite
    corners is exactly sqrt(8 s^2) — the squared terms are dyadic so
    both engines feed sqrt the identical double; interpolate
    (geom-functions.cpp:32) at 1/4 of the diagonal lands on the exact
    dyadic point (cx - s/2, cy - s/2) because 0.25 * total / total
    folds to exactly 0.25."""
    from osm2pgsql_spark.operators import geom_udfs

    base = _square_base(spark, sf_dir)
    cx, cy, s = F.col("cx"), F.col("cy"), F.col("s")
    pa = geom_udfs.point_wkb(cx - s, cy - s)
    pb = geom_udfs.point_wkb(cx + s, cy + s)
    diag = assembly.pts_to_linestring_wkb(
        F.array(_xy(cx - s, cy - s), _xy(cx + s, cy + s))
    )
    g = base.select(
        "id",
        geom_udfs.wkb_distance(pa, pb).alias("dist"),
        geom_udfs.wkb_interpolate_xy(diag, 0.25).alias("ip"),
    )
    return g.select(
        "id", "dist", g["ip"]["x"].alias("ix"), g["ip"]["y"].alias("iy")
    )


# ---------------------------------------------------------------------------
# §2.4 rivers width-from-areas: line-in-polygon intersection length +
# weighted-width seeding (gen-rivers.cpp:213-233).  Each fixture line
# crosses its own big square (inside length 2s, width w) and a small
# square (inside length s, width w/2) laid out on a 16-unit cell grid
# so no other fixture's areas can intersect; weighted width is
# (2s*w + s*w/2) / 3s = 5w/6, stable under round6 (the kernel's
# crossing parameters carry ~1 ulp).
# ---------------------------------------------------------------------------

_CELL_CX_SQL = "(p_partkey % 128) * 16.0e0"
_CELL_CY_SQL = "floor(p_partkey / 128.0e0) * 16.0e0"
_AREA_W_SQL = "((p_partkey % 40) + 4) / 8.0e0"


@register(
    "river_width_from_areas",
    oracle=f"""
    SELECT p_partkey AS edge_id,
           {roundn_sql(f'5.0e0 * ({_AREA_W_SQL}) / 6.0e0', 6)} AS width
    FROM part WHERE {osm_synth.SQUARE_FILTER_SQL}
    """,
)
def q_river_width_from_areas(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm2pgsql_spark.operators import geom_udfs
    from osm2pgsql_spark.operators.line_in_polygon import width_from_areas

    p = load_table(spark, sf_dir, "part").where(F.expr(osm_synth.SQUARE_FILTER_SQL))
    base = p.select(
        F.col("p_partkey").alias("id"),
        F.expr(_CELL_CX_SQL).alias("cx"),
        F.expr(_CELL_CY_SQL).alias("cy"),
        F.expr(osm_synth.SQUARE_S_SQL).alias("s"),
        F.expr(_AREA_W_SQL).alias("w"),
    )
    cx, cy, s = F.col("cx"), F.col("cy"), F.col("s")

    def ring(mx, my, h):
        return F.array(
            _xy(mx - h, my - h), _xy(mx + h, my - h), _xy(mx + h, my + h),
            _xy(mx - h, my + h), _xy(mx - h, my - h),
        )

    lines = base.select(
        F.col("id").alias("edge_id"),
        assembly.pts_to_linestring_wkb(
            F.array(_xy(cx - 2 * s, cy), _xy(cx + 3 * s, cy))
        ).alias("geom"),
    )
    areas = base.select(
        assembly.pts_to_polygon_wkb(ring(cx, cy, s)).alias("area_geom"),
        F.col("w").alias("width"),
    ).unionByName(
        base.select(
            assembly.pts_to_polygon_wkb(ring(cx + 2 * s, cy, s / 2)).alias("area_geom"),
            (F.col("w") / 2).alias("width"),
        )
    )
    r = width_from_areas(lines, areas, grid_cell=16.0)
    return r.select("edge_id", round6(F.col("width")).alias("width"))


# ---------------------------------------------------------------------------
# §2.9 spherical_area, sphere mode (geom-functions.cpp:373-394): the
# solid-angle excess sum over great-circle edges, replicated verbatim
# in the oracle (Danielsen per-edge excess over a lead() window).  The
# ellipsoid mode adds Vincenty densification + the authalic mapping —
# an iterative algorithm with no SQL twin; it's pinned by reference
# Catch2 vectors in tests/test_geometry.py instead.
# ---------------------------------------------------------------------------


def q_spherical_polygon_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm2pgsql_spark.operators import geom_udfs

    base = _square_base(spark, sf_dir)
    cx, cy, s = F.col("cx"), F.col("cy"), F.col("s")
    ring = F.array(
        _xy(cx - s, cy - s), _xy(cx + s, cy - s), _xy(cx + s, cy + s),
        _xy(cx - s, cy + s), _xy(cx - s, cy - s),
    )
    area = geom_udfs.wkb_spherical_area_sphere(assembly.pts_to_polygon_wkb(ring))
    return base.select("id", roundn(area, -3).alias("sph_area"))


def _spherical_polygon_area_oracle() -> str:
    from osm2pgsql_spark.functions.geometry import AUTHALIC_RADIUS

    r = repr(AUTHALIC_RADIUS)
    return f"""
    WITH base AS (
        SELECT p_partkey AS id,
               ({osm_synth.SQUARE_CX_SQL}) AS cx,
               ({osm_synth.SQUARE_CY_SQL}) AS cy,
               ({osm_synth.SQUARE_S_SQL}) AS s
        FROM part WHERE {osm_synth.SQUARE_FILTER_SQL}),
    c(ci, dx, dy) AS (VALUES
        (1, -1.0e0, -1.0e0), (2, 1.0e0, -1.0e0), (3, 1.0e0, 1.0e0),
        (4, -1.0e0, 1.0e0), (5, -1.0e0, -1.0e0)),
    pts AS (
        SELECT id, ci, cx + s * dx AS lon, cy + s * dy AS lat
        FROM base CROSS JOIN c),
    seg AS (
        SELECT id,
               radians(lon) AS lam, radians(lat) AS phi,
               lead(radians(lon)) OVER w AS lam2,
               lead(radians(lat)) OVER w AS phi2
        FROM pts WINDOW w AS (PARTITION BY id ORDER BY ci)),
    ex AS (
        SELECT id,
               2.0e0 * atan(tan((lam2 - lam) / 2.0e0)
                            * sin((phi2 + phi) / 2.0e0)
                            / cos((phi2 - phi) / 2.0e0)) AS e
        FROM seg WHERE lam2 IS NOT NULL)
    SELECT id,
           {roundn_sql(f'abs(sum(e)) * {r} * {r}', -3)} AS sph_area
    FROM ex GROUP BY id
    """




# ---------------------------------------------------------------------------
# §2.5 per-tile vector cutting (gen-tile-vector.cpp:41-80): features
# centered on tile centers with half-size f*extent (0.5 < f < 1) cover
# exactly a 3x3 tile block; Sutherland-Hodgman / Liang-Barsky clipping
# partitions each feature, so the clipped pieces' total area/length
# reconstitutes the original measure — the oracle states both facts in
# closed form.
# ---------------------------------------------------------------------------

_VT_ZOOM = 12
_VT_F_SQL = "(0.55e0 + (p_partkey % 5) * 0.05e0)"


def q_vector_tile_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm2pgsql_spark.operators import geom_udfs
    from osm2pgsql_spark.operators.expire import EARTH_CIRCUMFERENCE
    from osm2pgsql_spark.operators.vector_tiles import cut_to_tiles

    extent = EARTH_CIRCUMFERENCE / (1 << _VT_ZOOM)
    half = EARTH_CIRCUMFERENCE / 2.0
    p = load_table(spark, sf_dir, "part").where(F.expr(osm_synth.SQUARE_FILTER_SQL))
    base = p.select(
        F.col("p_partkey").alias("id"),
        (F.lit(-half) + ((F.col("p_partkey") * 7 % 1024) + F.lit(1536.5)) * extent).alias("cx"),
        (F.lit(half) - ((F.col("p_partkey") * 11 % 1024) + F.lit(1536.5)) * extent).alias("cy"),
        (F.expr(_VT_F_SQL) * extent).alias("r"),
    )
    cx, cy, r = F.col("cx"), F.col("cy"), F.col("r")
    polys = base.select(
        "id",
        assembly.pts_to_polygon_wkb(
            F.array(
                _xy(cx - r, cy - r), _xy(cx + r, cy - r), _xy(cx + r, cy + r),
                _xy(cx - r, cy + r), _xy(cx - r, cy - r),
            )
        ).alias("geom"),
    )
    lines = base.select(
        "id",
        assembly.pts_to_linestring_wkb(
            F.array(_xy(cx - r, cy), _xy(cx + r, cy))
        ).alias("geom"),
    )
    pc = (
        cut_to_tiles(polys, zoom=_VT_ZOOM, id_col="id")
        .withColumn("m", geom_udfs.wkb_area(F.col("geom")))
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_tiles"),
            roundn(F.sum("m"), -3).alias("measure"),
        )
        .withColumn("kind", F.lit("poly"))
    )
    lc = (
        cut_to_tiles(lines, zoom=_VT_ZOOM, id_col="id")
        .withColumn("m", geom_udfs.wkb_length(F.col("geom")))
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_tiles"),
            round2(F.sum("m")).alias("measure"),
        )
        .withColumn("kind", F.lit("line"))
    )

    # union branch: the gen vector-union dissolve (exact overlay kernel,
    # gen-tile-vector.cpp:52-58) over analytically-unionable rectangle
    # scenarios -- overlap / disjoint / nested / edge-adjacent / frame
    # (hole) by id%5; each scenario fits one z12 tile so the per-tile
    # group IS the per-id group and the closed-form union area is the
    # oracle.  n_tiles doubles as the dumped-polygon count.
    from osm2pgsql_spark.operators.vector_union import tile_vector_union

    r2 = F.col("r") / 8
    sc = F.col("id") % 5

    def rect(x0, y0, x1, y1):
        return F.array(_xy(x0, y0), _xy(x1, y0), _xy(x1, y1), _xy(x0, y1), _xy(x0, y0))

    rects = (
        F.when(sc == 0, F.array(
            rect(cx - r2, cy - r2, cx + r2, cy + r2),
            rect(cx, cy, cx + 2 * r2, cy + 2 * r2)))
        .when(sc == 1, F.array(
            rect(cx - r2, cy - r2, cx + r2, cy + r2),
            rect(cx + 2 * r2, cy, cx + 4 * r2, cy + 2 * r2)))
        .when(sc == 2, F.array(
            rect(cx - r2, cy - r2, cx + r2, cy + r2),
            rect(cx - r2 / 2, cy - r2 / 2, cx + r2 / 2, cy + r2 / 2)))
        .when(sc == 3, F.array(
            rect(cx - r2, cy - r2, cx + r2, cy + r2),
            rect(cx + r2, cy - r2, cx + 3 * r2, cy + r2)))
        .otherwise(F.array(
            rect(cx - 2 * r2, cy + r2, cx + 2 * r2, cy + 2 * r2),
            rect(cx - 2 * r2, cy - 2 * r2, cx + 2 * r2, cy - r2),
            rect(cx - 2 * r2, cy - r2, cx - r2, cy + r2),
            rect(cx + r2, cy - r2, cx + 2 * r2, cy + r2)))
    )
    upolys = (
        base.select(F.col("id").cast("string").alias("gid"), F.explode(rects).alias("pts"))
        .select("gid", assembly.pts_to_polygon_wkb(F.col("pts")).alias("geom"))
    )
    uc = (
        tile_vector_union(upolys, zoom=_VT_ZOOM, buffer_size=0.0, group_by="gid")
        .withColumn("m", geom_udfs.wkb_area(F.col("geom")))
        .groupBy("gid")
        .agg(
            F.count(F.lit(1)).alias("n_tiles"),
            roundn(F.sum("m"), -3).alias("measure"),
        )
        .select(
            F.col("gid").cast("bigint").alias("id"),
            F.lit("union").alias("kind"),
            "n_tiles",
            "measure",
        )
    )
    return pc.unionByName(lc).unionByName(uc).select("id", "kind", "n_tiles", "measure")


def _vector_tile_cut_oracle() -> str:
    from osm2pgsql_spark.operators.expire import EARTH_CIRCUMFERENCE

    e = repr(EARTH_CIRCUMFERENCE / (1 << _VT_ZOOM))
    return f"""
    WITH base AS (
        SELECT p_partkey AS id, {_VT_F_SQL} * {e} AS r
        FROM part WHERE {osm_synth.SQUARE_FILTER_SQL})
    SELECT id, 'poly' AS kind, cast(9 AS bigint) AS n_tiles,
           {roundn_sql('(2.0e0 * r) * (2.0e0 * r)', -3)} AS measure
    FROM base
    UNION ALL
    SELECT id, 'line' AS kind, cast(3 AS bigint) AS n_tiles,
           {roundn_sql('2.0e0 * r', 2)} AS measure
    FROM base
    UNION ALL
    SELECT id, 'union' AS kind,
           cast(CASE WHEN id % 5 = 1 THEN 2 ELSE 1 END AS bigint) AS n_tiles,
           {roundn_sql(
               '''(r / 8.0e0) * (r / 8.0e0) * CASE id % 5
                   WHEN 0 THEN 7.0e0 WHEN 1 THEN 8.0e0 WHEN 2 THEN 4.0e0
                   WHEN 3 THEN 8.0e0 ELSE 12.0e0 END''', -3)} AS measure
    FROM base
    """


register("vector_tile_cut", oracle=_vector_tile_cut_oracle())(q_vector_tile_cut)


# ---------------------------------------------------------------------------
# §2.9 reverse + split_multi + geometry_type kernels
# (geom-functions.cpp:514-557, :497; flex-lua-geom.cpp:146-230):
# reverse the square diagonal, interpolate 1/4 along it — that's the
# 3/4 point of the forward line, closed-form exact; split the
# relation multilinestring into parts and count them (1 ring without
# a hole, 2 with).
# ---------------------------------------------------------------------------


_GEOM_RS_ORACLE = f"""
    SELECT p_partkey AS id,
           'LINESTRING' AS gtype,
           ({osm_synth.SQUARE_CX_SQL}) + ({osm_synth.SQUARE_S_SQL}) / 2.0e0 AS rx,
           ({osm_synth.SQUARE_CY_SQL}) + ({osm_synth.SQUARE_S_SQL}) / 2.0e0 AS ry,
           cast(CASE WHEN {osm_synth.SQUARE_HOLE_SQL} THEN 2 ELSE 1 END AS bigint) AS n_parts,
           cast(5 AS bigint) AS part_points
    FROM part WHERE {osm_synth.SQUARE_FILTER_SQL}
    """


def q_geom_reverse_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm2pgsql_spark.operators import geom_udfs
    from osm2pgsql_spark.operators.relations import relation_multilinestrings

    base = _square_base(spark, sf_dir)
    cx, cy, s = F.col("cx"), F.col("cy"), F.col("s")
    diag = assembly.pts_to_linestring_wkb(
        F.array(_xy(cx - s, cy - s), _xy(cx + s, cy + s))
    )
    # staged column: rev feeds geometry_type + interpolate.  The pinned
    # reverse kernel, used twice in one projection, would run twice;
    # staged as a named column, consumers share one evaluation (§4.4).
    rev = geom_udfs.wkb_reverse(diag)
    staged = base.select("id", rev.alias("rev"))
    ip = geom_udfs.wkb_interpolate_xy(F.col("rev"), 0.25)
    scalar = staged.select(
        "id",
        geom_udfs.wkb_geometry_type(F.col("rev")).alias("gtype"),
        ip["x"].alias("rx"),
        ip["y"].alias("ry"),
    )

    nodes, ways_df, rels = osm_synth.square_relations(spark, sf_dir)
    # kernel-bound (pure-Python line_merge per relation): widen the
    # aggregation to the compute parallelism — AQE's byte-sized
    # coalescing leaves 1-2 partitions at bench scale and the kernel
    # runs near-serial (PERF_NOTES round-14)
    ml = relation_multilinestrings(
        rels, ways_df, nodes,
        kernel_partitions=spark.sparkContext.defaultParallelism,
    )
    # fused part stats (r15): the old split_multi -> explode ->
    # num_points -> groupBy chain paid two extra Python boundary
    # crossings (the part WKB array out, the exploded parts back in)
    # plus an aggregation Exchange (ArrowEvalPython does not propagate
    # its child's partitioning, so the groupBy re-shuffled rows the
    # rel_id repartition had already placed).  wkb_multi_part_stats
    # computes (n_parts, max part_points) straight off the merged
    # geometry's header scan — one kernel, no explode, no shuffle;
    # n_parts IS NULL reproduces the explode's empty-array row drop.
    # staged column: the pinned kernel keeps the filter above it, and
    # referenced twice in one projection it would run twice — consumers
    # share the staged attribute (the `rev` pattern above).
    st = geom_udfs.wkb_multi_part_stats(F.col("geom"))
    parts = (
        ml.select(F.col("rel_id").alias("id"), st.alias("st"))
        .where(F.col("st.n_parts").isNotNull())
        .select(
            "id",
            F.col("st.n_parts").alias("n_parts"),
            F.col("st.part_points").alias("part_points"),
        )
    )
    return scalar.join(parts, "id").select(
        "id", "gtype", "rx", "ry", "n_parts", "part_points"
    )


# ---------------------------------------------------------------------------
# §2.9 geometry-function suite: ONE driver gate covering the scalar
# WKB kernels — centroid/get_bbox, Douglas-Peucker simplify,
# segmentize, 4326->3857 transform, distance/interpolate,
# reverse/split_multi/geometry_type, and sphere-mode spherical_area —
# each sub-check a (chk, v1..v4, txt) row family unioned into a
# uniform schema; the per-kernel closed-form oracles above are reused
# verbatim as subqueries.
# ---------------------------------------------------------------------------


def _geom_suite_oracle() -> str:
    parts = [
        f"SELECT id, 'centroid' AS chk, cx AS v1, cy AS v2,"
        f" cast(n_points AS double) AS v3, cast(NULL AS double) AS v4,"
        f" cast(NULL AS varchar) AS txt FROM ({_GEOM_CB_ORACLE})",
        f"SELECT id, 'bbox', min_x, min_y, max_x, max_y,"
        f" cast(NULL AS varchar) FROM ({_GEOM_CB_ORACLE})",
        f"SELECT id, 'simplify', cast(n_points AS double), length,"
        f" cast(NULL AS double), cast(NULL AS double),"
        f" cast(NULL AS varchar) FROM ({_GEOM_SIMPLIFY_ORACLE})",
        f"SELECT id, 'segmentize', cast(n_parts AS double),"
        f" cast(n_points AS double), length, cast(NULL AS double),"
        f" cast(NULL AS varchar) FROM ({_GEOM_SEGMENTIZE_ORACLE})",
        f"SELECT node_id AS id, 'merc', x, y, cast(NULL AS double),"
        f" cast(NULL AS double), cast(NULL AS varchar) FROM ({_GEOM_MERC_ORACLE})",
        f"SELECT id, 'dist_interp', dist, ix, iy, cast(NULL AS double),"
        f" cast(NULL AS varchar) FROM ({_GEOM_DI_ORACLE})",
        f"SELECT id, 'rev_split', rx, ry, cast(n_parts AS double),"
        f" cast(part_points AS double), gtype FROM ({_GEOM_RS_ORACLE})",
        f"SELECT id, 'sph_area', sph_area, cast(NULL AS double),"
        f" cast(NULL AS double), cast(NULL AS double),"
        f" cast(NULL AS varchar) FROM ({_spherical_polygon_area_oracle()})",
    ]
    for chk in _EPSG_GRATICULES:
        parts.append(
            f"SELECT id, '{chk}', e, n, cast(NULL AS double),"
            f" cast(NULL AS double), cast(NULL AS varchar) FROM ({_epsg_oracle(chk)})"
        )
    return "\nUNION ALL\n".join(parts)


def _suite_rows(
    df: DataFrame,
    chk: str,
    v1: str | None = None,
    v2: str | None = None,
    v3: str | None = None,
    v4: str | None = None,
    txt: str | None = None,
    id_col: str = "id",
) -> DataFrame:
    sel = [F.col(id_col).alias("id"), F.lit(chk).alias("chk")]
    for i, v in enumerate([v1, v2, v3, v4], 1):
        col = F.col(v).cast("double") if v else F.lit(None).cast("double")
        sel.append(col.alias(f"v{i}"))
    sel.append((F.col(txt) if txt else F.lit(None).cast("string")).alias("txt"))
    return df.select(*sel)


@register("geom_suite", oracle=_geom_suite_oracle())
def q_geom_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    cb = q_geom_centroid_bbox(spark, sf_dir)
    out = _suite_rows(cb, "centroid", "cx", "cy", "n_points")
    out = out.unionByName(_suite_rows(cb, "bbox", "min_x", "min_y", "max_x", "max_y"))
    out = out.unionByName(
        _suite_rows(q_geom_simplify(spark, sf_dir), "simplify", "n_points", "length")
    )
    out = out.unionByName(
        _suite_rows(
            q_geom_segmentize(spark, sf_dir), "segmentize", "n_parts", "n_points", "length"
        )
    )
    out = out.unionByName(
        _suite_rows(
            q_geom_transform_3857(spark, sf_dir), "merc", "x", "y", id_col="node_id"
        )
    )
    out = out.unionByName(
        _suite_rows(
            q_geom_distance_interpolate(spark, sf_dir), "dist_interp", "dist", "ix", "iy"
        )
    )
    out = out.unionByName(
        _suite_rows(
            q_geom_reverse_split(spark, sf_dir),
            "rev_split", "rx", "ry", "n_parts", "part_points", txt="gtype",
        )
    )
    out = out.unionByName(
        _suite_rows(q_spherical_polygon_area(spark, sf_dir), "sph_area", "sph_area")
    )
    # all 6 projection branches fused into one scan + one Arrow kernel
    # (q_geom_epsg_all emits the long form with chk labels built in)
    epsg = q_geom_epsg_all(spark, sf_dir)
    out = out.unionByName(
        epsg.select(
            "id", "chk",
            F.col("e").alias("v1"), F.col("n").alias("v2"),
            F.lit(None).cast("double").alias("v3"),
            F.lit(None).cast("double").alias("v4"),
            F.lit(None).cast("string").alias("txt"),
        )
    )
    return out


# ---------------------------------------------------------------------------
# §2.2 COPY pipeline typed text encoding (db-copy-mgr.hpp:84-238):
# the JVM-side column encoders (sinks/writers.py copy_*_expr) over a
# corpus-derived row with every encoder case — injected tab/newline/
# backslash in text, NULL-able int and bool, bigint array with a NULL
# element, hstore with quote/backslash values, utf-8 binary as \\x hex.
# The oracle rebuilds the byte-identical line with DuckDB string ops.
# ---------------------------------------------------------------------------

_COPY_ESC_SQL = (
    "replace(replace(replace(replace({v}, chr(92), chr(92)||chr(92)), "
    "chr(9), chr(92)||'t'), chr(10), chr(92)||'n'), chr(13), chr(92)||'r')"
)
_COPY_ESCQ_SQL = (
    "replace(replace({v}, chr(92), chr(92)||chr(92)), '\"', chr(92)||'\"')"
)


def _copy_encoding_oracle() -> str:
    def esc(v: str) -> str:
        return _COPY_ESC_SQL.format(v=v)

    def escq(v: str) -> str:
        return _COPY_ESCQ_SQL.format(v=v)

    txt = "p_name || chr(9) || p_brand || chr(92) || p_type || chr(10) || p_brand"
    n = "CASE WHEN p_partkey % 7 = 0 THEN chr(92)||'N' ELSE cast(p_size AS varchar) END"
    b = (
        "CASE WHEN p_partkey % 11 = 0 THEN chr(92)||'N' "
        "WHEN p_partkey % 3 = 0 THEN 't' ELSE 'f' END"
    )
    arr = (
        "'{' || cast(p_partkey AS varchar) || ',' "
        "|| cast((p_partkey * 7) % 100 AS varchar) || ',' "
        "|| (CASE WHEN p_partkey % 5 = 0 THEN 'NULL' "
        "ELSE cast(p_partkey % 13 AS varchar) END) || '}'"
    )
    # string array: elements always double-quoted + escaped (ADVICE r4)
    sarr = (
        "'{' || '\"' || " + escq("p_brand || ',x'") + " || '\",' "
        "|| '\"a' || chr(92) || '\"b\",' "
        "|| (CASE WHEN p_partkey % 4 = 0 THEN 'NULL' "
        "ELSE '\"' || " + escq("p_type || chr(92) || 'y'") + " || '\"' END) || '}'"
    )
    hs = (
        "'\"brand\"=>\"' || " + escq("p_brand || '\"q'")
        + " || '\",\"type\"=>\"' || " + escq("p_type || chr(92) || 'z'")
        + " || '\"'"
    )
    g = "chr(92) || chr(92) || 'x' || lower(hex(encode(p_name)))"
    line = " || chr(9) || ".join(
        [
            "cast(p_partkey AS varchar)",
            esc(f"({txt})"),
            f"({n})",
            f"({b})",
            esc(f"({arr})"),
            esc(f"({sarr})"),
            esc(f"({hs})"),
            f"({g})",
        ]
    )
    return f"SELECT p_partkey AS id, {line} AS copy_line FROM part"


@register("copy_encoding", oracle=_copy_encoding_oracle())
def q_copy_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm2pgsql_spark.sinks import writers as W

    p = load_table(spark, sf_dir, "part")
    k = F.col("p_partkey")
    txt = F.concat(
        F.col("p_name"), F.lit("\t"), F.col("p_brand"), F.lit("\\"),
        F.col("p_type"), F.lit("\n"), F.col("p_brand"),
    )
    num = F.when(k % 7 == 0, F.lit(None).cast("long")).otherwise(
        F.col("p_size").cast("long")
    )
    bl = F.when(k % 11 == 0, F.lit(None).cast("boolean")).otherwise(k % 3 == 0)
    arr = F.array(
        k,
        (k * 7 % 100).cast("long"),
        F.when(k % 5 == 0, F.lit(None).cast("long")).otherwise(
            (k % 13).cast("long")
        ),
    )
    sarr = F.array(
        F.concat(F.col("p_brand"), F.lit(",x")),
        F.lit('a"b'),
        F.when(k % 4 == 0, F.lit(None).cast("string")).otherwise(
            F.concat(F.col("p_type"), F.lit("\\y"))
        ),
    )
    hs = F.map_from_arrays(
        F.array(F.lit("brand"), F.lit("type")),
        F.array(
            F.concat(F.col("p_brand"), F.lit('"q')),
            F.concat(F.col("p_type"), F.lit("\\z")),
        ),
    )
    bin_ = F.encode(F.col("p_name"), "UTF-8")
    line = F.concat_ws(
        "\t",
        W.copy_int_expr(k),
        W.copy_text_expr(txt),
        W.copy_int_expr(num),
        W.copy_bool_expr(bl),
        W.copy_array_expr(arr),
        W.copy_array_expr(sarr, T.StringType()),
        W.copy_hstore_expr(hs),
        W.copy_binary_expr(bin_),
    )
    return p.select(k.alias("id"), line.alias("copy_line"))


# ---------------------------------------------------------------------------
# §2.9 pole_of_inaccessibility through the WKB pandas-UDF kernel
# (geom-pole-of-inaccessibility.cpp:24-46 + functions/polylabel.py):
# on axis-aligned rectangles the bbox-center seed is the unique pole
# and ties never replace `best`, so the kernel returns the bit-exact
# dyadic center — for the plain square (stretch=1) AND the wide 4s x 2s
# rectangle under stretch=2 (stretched space is square, center again).
# Refinement-heavy shapes are pinned by tests/test_polylabel.py vectors.
# ---------------------------------------------------------------------------

@register(
    "polylabel",
    oracle=f"""
    SELECT p_partkey AS id,
           ({osm_synth.SQUARE_CX_SQL}) AS sx,
           ({osm_synth.SQUARE_CY_SQL}) AS sy,
           ({osm_synth.SQUARE_CX_SQL}) AS rx,
           ({osm_synth.SQUARE_CY_SQL}) AS ry
    FROM part WHERE {osm_synth.SQUARE_FILTER_SQL}
    """,
)
def q_polylabel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm2pgsql_spark.operators import geom_udfs

    base = _square_base(spark, sf_dir)
    cx, cy, s = F.col("cx"), F.col("cy"), F.col("s")

    def ring(hx, hy):
        return F.array(
            _xy(cx - hx, cy - hy), _xy(cx + hx, cy - hy), _xy(cx + hx, cy + hy),
            _xy(cx - hx, cy + hy), _xy(cx - hx, cy - hy),
        )

    g = base.select(
        "id",
        assembly.pts_to_polygon_wkb(ring(s, s)).alias("sq"),
        assembly.pts_to_polygon_wkb(ring(2 * s, s)).alias("rect"),
    )
    ps = geom_udfs.wkb_polylabel_xy(F.col("sq"), stretch=1.0)
    pr = geom_udfs.wkb_polylabel_xy(F.col("rect"), stretch=2.0)
    return g.select(
        "id",
        ps["x"].alias("sx"), ps["y"].alias("sy"),
        pr["x"].alias("rx"), pr["y"].alias("ry"),
    )


# ---------------------------------------------------------------------------
# public surface for __spark_entry__
# ---------------------------------------------------------------------------

# The external driver's correctness budget samples the FIRST 50
# registered gates; the window spans every operator family (r10
# VERDICT #3) and is ROTATED each round so every gate gets a
# driver-checked row at least every other round (r11 VERDICT #4).
# r13 VERDICT #1 made the rotation MECHANICAL: the window is derived
# from the round number's parity, not hand-edited.  33 gates are
# permanent window residents; the remaining 34 form 17 same-family
# pairs whose members alternate between window and tail each round.
# All gates keep their oracles and run in the full sweep
# (tools/check_correctness.py --json -> CORRECTNESS_full_rN.json).

# Slot template for the 50-gate window.  Plain names are permanent;
# integers are slots filled from _ROTATING_PAIRS[i] by round parity.
_WINDOW_SLOTS = [
    0, "bbox_filter", "merge_dedup", "z_order",
    "way_polygon_area", 1, "quadkey_buckets",
    "reverse_deps", "locator_all_intersecting", 2,
    "url_filter_decisions", 3, "quality_classifier",
    "doc_chunks", "sketch_suite", "unimax_mixture",
    4, 5, 6,
    7, "discrete_isolation", "relation_member_join",
    8, "pii_scrub", "flex_casts",
    9, 10, 11,
    "two_stage_refs", 12, 13,
    "embedding_near_dups", "input_validation", 14,
    15, "river_width_propagation", "dsir_selection",
    "bpe_encode", "semdedup_decisions", "relation_multipolygon_rings",
    16, "append_diff_fold", "river_width_from_areas",
    "pgsql_legacy_suite", "river_contraction", "epsg_registry_tail",
    "geom_suite", "vector_tile_cut", "copy_encoding", "polylabel",
]

# Same-family pairs: pair[round % 2] is in-window that round, the
# other member rides the tail with its partner as family rep.  Index
# i fills slot value i in _WINDOW_SLOTS.  On EVEN rounds element 0 is
# in-window (the r12 layout); on ODD rounds element 1 is (the r12
# tail set — all 17 driver-checked in r13 per r12 VERDICT #1).
_ROTATING_PAIRS = [
    ("way_length", "way_node_join"),            # way->node assembly join
    ("wildcard_tag_filter", "tag_filter_json"), # style tag filtering
    ("dedup_exact_fingerprint", "line_dedup"),  # exact-hash dedup family
    ("text_quality_signals", "text_stats"),     # text signal family
    ("exact_quantiles", "ccnet_ppl_buckets"),   # de-skewed rank family
    ("ngram_jaccard", "minhash_near_dups"),     # shingle-set near-dup
    ("ann_cosine_topk", "ann_lsh_topk"),        # ANN family
    ("events_hourly", "sessionize"),            # streaming family
    ("topk_per_group", "importance_rank"),      # window/rank family
    ("user_table", "pricing_summary"),          # stats/agg family
    ("expire_line_tiles", "tile_expiry_rollup"),  # tile expiry family
    ("stratified_sample", "decontam_spans"),    # decontam/sampling family
    ("flex_route_relations", "flex_generic_lines"),  # flex DSL family
    ("ann_pq_suite", "ann_ivf_topk"),           # ANN (IVF inside PQ suite)
    ("dedup_decisions", "simhash_hamming_pairs"),  # banded near-dup family
    ("token_budget_mix", "sequence_packing"),   # two-phase prefix family
    ("relation_collect_suite", "relation_multiline_merge"),  # lmerge branch
]

# Gates that are ALWAYS tail (window is capped at 50): each maps to a
# permanent-window family rep.  Empty today; new gates land here (or
# extend _ROTATING_PAIRS) so the window stays deliberate.
_PERMANENT_TAIL: dict = {}


def _current_round() -> int:
    """The build round, derived from the newest CORRECTNESS_r*.json
    the driver has written at the repo root: current = max + 1 (the
    driver writes round N's file only after running round N's
    queries).  SPARK_GRAFT_ROUND env overrides for tests.  Falls back
    to 13 (the round this helper shipped) when no files are found,
    e.g. a bare checkout."""
    import os
    import re

    env = os.environ.get("SPARK_GRAFT_ROUND")
    if env:
        return int(env)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    best = 0
    try:
        for fn in os.listdir(root):
            m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", fn)
            if m:
                best = max(best, int(m.group(1)))
    except OSError:
        pass
    return best + 1 if best else 13


def _window_for_round(round_no: int) -> tuple[list, dict]:
    """(window, tail) for a given round: the 50 in-window gate names
    in slot order, and {tail gate -> in-window family rep}."""
    par = round_no % 2
    window = [
        _ROTATING_PAIRS[s][par] if isinstance(s, int) else s
        for s in _WINDOW_SLOTS
    ]
    tail = {pair[1 - par]: pair[par] for pair in _ROTATING_PAIRS}
    tail.update(_PERMANENT_TAIL)
    return window, tail


def _driver_layout() -> tuple[list, dict]:
    return _window_for_round(_current_round())


def _window_order(d: dict) -> dict:
    window, tail = _driver_layout()
    missing = [n for n in window if n not in _QUERIES]
    if missing:
        raise KeyError(
            f"driver window names unknown gates: {missing}")
    untriaged = [n for n in _QUERIES
                 if n not in window and n not in tail]
    if untriaged:
        raise KeyError(
            "registered gates neither in the driver window nor in the "
            f"documented tail: {untriaged} — triage them (add to "
            "_ROTATING_PAIRS or _PERMANENT_TAIL) so the driver window "
            "stays deliberate")
    out = {n: d[n] for n in window if n in d}
    out.update({n: v for n, v in d.items() if n not in out})
    return out


def queries() -> dict[str, QueryFn]:
    return _window_order(_QUERIES)


def oracle_sql() -> dict[str, str]:
    return _window_order(_ORACLES)
