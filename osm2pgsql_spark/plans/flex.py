"""Flex config DSL — the engine's user-facing table/transform surface.

Reference: the Lua flex output.  Tables are declared at runtime
(osm2pgsql.define_table, /root/reference/src/flex-lua-table.cpp:40-197)
with typed columns (/root/reference/src/flex-table-column.hpp:24-57),
id schemes (/root/reference/src/flex-table.hpp:40-49), and per-object
callbacks (process_node/way/relation,
/root/reference/src/output-flex.cpp:1469-1501) that build rows and
call table:insert (/root/reference/src/output-flex.cpp:766-843).
Value conversion semantics: /root/reference/src/flex-write.cpp:261-469.

Spark-first redesign: the callback becomes a *declarative rule* —
a filter predicate + per-column expressions over the entity DataFrame
— compiled straight into one Catalyst plan per table (the reference
serializes all user code under a global Lua mutex,
src/output-flex.cpp:53-54; here the same logic is vectorized and
embarrassingly parallel).  A python row-callback escape hatch can be
added per-rule via pandas UDFs, but every built-in helper keeps you
on the expression fast path.

Insert-time cast semantics (flex-write.cpp) are applied automatically
based on the declared column type; rows violating not_null are
dropped and counted (the reference raises a per-object error and
continues: src/flex-write.cpp:40-50).
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from osm2pgsql_spark.functions import tags as TG

# column type -> (spark type, needs_string_cast_semantics)
_SCALAR_TYPES = {
    "text": "string",
    "boolean": "boolean",
    "int2": "smallint",
    "int4": "int",
    "int8": "bigint",
    "real": "float",
    "double": "double",
    "double_precision": "double",
    "timestamp": "timestamp",
    "timestamptz": "timestamp",
    "hstore": "map<string,string>",
    "json": "string",
    "jsonb": "string",
    "direction": "smallint",
}

GEOM_TYPES = {
    "point",
    "linestring",
    "polygon",
    "multipoint",
    "multilinestring",
    "multipolygon",
    "geometry",
    "geometrycollection",
}

ID_TYPES = {"id_type", "id_num"}


@dataclass
class ColumnDef:
    """One declared output column (flex-table-column.hpp:107-145)."""

    name: str
    type: str
    srid: int = 4326
    not_null: bool = False
    create_only: bool = False
    expire: str | None = None  # name of an expire output fed by this column

    def __post_init__(self) -> None:
        t = self.type.lower()
        if t not in _SCALAR_TYPES and t not in GEOM_TYPES and t not in ID_TYPES:
            raise ValueError(f"unknown column type {self.type!r}")
        self.type = t


@dataclass
class TableDef:
    """A declared output table (flex_table_t, flex-table.hpp:54-281)."""

    name: str
    ids: str  # node | way | relation | area | any_object | tile
    columns: list[ColumnDef]
    schema: str = "public"
    cluster_by_geom: bool = True

    def __post_init__(self) -> None:
        if self.ids not in {"node", "way", "relation", "area", "any_object",
                            "any_single", "tile", "none"}:
            raise ValueError(f"unknown id scheme {self.ids!r}")

    def geom_columns(self) -> list[ColumnDef]:
        return [c for c in self.columns if c.type in GEOM_TYPES]


@dataclass
class Rule:
    """One declarative insert rule: entity kind + predicate + values.

    values maps column name -> Column expression over the entity
    DataFrame (tags available as `tags` MapType column; geometry
    columns get the assembled geometry injected by the runner).

    relation_geometry picks the assembly for relation-kind rules
    (reference: the Lua callback calls object:as_multipolygon() or
    as_multilinestring(), src/output-flex.cpp:453-606)."""

    table: str
    kind: str  # node | way | relation
    when: Column | None
    values: dict[str, Column]
    relation_geometry: str = "multipolygon"  # or "multilinestring"
    # how a WAY fills a column declared as generic 'geometry': the Lua
    # callback's as_polygon()/as_linestring() choice (generic.lua's
    # polygons table declares 'geometry' but inserts as_polygon())
    way_geometry: str | None = None  # linestring | polygon
    # post-assembly transform: the as_multilinestring():line_merge()
    # chain of boundary-style callbacks (geom-functions line_merge)
    geom_transform: str | None = None  # line_merge


@dataclass
class ExpireOutputDef:
    """An expire output a geometry column can feed (reference
    define_expire_output, /root/reference/src/flex-lua-expire-output.cpp:
    26-54: filename or schema/table + maxzoom)."""

    name: str
    maxzoom: int = 12
    minzoom: int | None = None
    buffer: float = 0.1
    mode: str = "full_area"
    full_area_limit: float = 0.0
    max_tiles_geometry: int = 0
    max_tiles_overall: int = 0


def _callback_mapper(kind: str, fn, valid_tables: frozenset):
    """Arrow-batch executor for one process() callback: builds the
    per-object dict (tags, refs/members, pre-assembled WKB geometry),
    invokes the user function, and flattens its (table, row) results
    into the unified callback frame."""

    def mapper(batches):
        import pandas as pd

        from osm2pgsql_spark.functions import geometry as G

        for pdf in batches:
            rows: list[tuple] = []
            for rec in pdf.to_dict("records"):
                obj: dict = {"id": int(rec["id"]), "tags": dict(rec["tags"] or {})}
                # object attributes when the source carries them — the
                # reference pushes version/changeset/uid/user onto the
                # Lua object (src/output-flex.cpp:140-155)
                for attr in ("version", "changeset", "uid", "user", "visible"):
                    if attr in rec:
                        v = rec[attr]
                        obj[attr] = None if v is None or (v != v) else (
                            v if attr in ("user", "visible") else int(v)
                        )
                # object.timestamp (reference src/output-flex.cpp
                # :140-155 pushes it with -x): ISO string form so a
                # timestamp column round-trips it; None when absent
                ts = rec.get("ts")
                obj["timestamp"] = (
                    None if ts is None or pd.isna(ts) else str(ts)
                )
                if kind == "node":
                    # visible=False / deleted nodes carry no location
                    # (NULL lon/lat -> NaN after Arrow) — hand the
                    # callback a null geometry instead of crashing
                    lon, lat = rec.get("lon"), rec.get("lat")
                    has_loc = (
                        lon is not None and lat is not None
                        and not pd.isna(lon) and not pd.isna(lat)
                    )
                    obj["geom_point"] = (
                        G.to_wkb(("point", (float(lon), float(lat))))
                        if has_loc
                        else None
                    )
                elif kind == "way":
                    refs = rec.get("refs")
                    obj["refs"] = [] if refs is None else [int(r) for r in refs]
                    pts = rec.get("pts")
                    if pts is not None and len(pts):
                        coords = [(p["x"], p["y"]) for p in pts]
                        obj["geom_line"] = G.to_wkb(G.make_linestring(coords))
                        obj["geom_poly"] = G.to_wkb(G.make_polygon_from_way(coords))
                    else:
                        obj["geom_line"] = None
                        obj["geom_poly"] = None
                else:
                    members = rec.get("members")
                    obj["members"] = (
                        []
                        if members is None
                        else [(m["type"], int(m["ref"]), m["role"]) for m in members]
                    )
                for tbl, row in fn(obj) or ():
                    if tbl not in valid_tables:
                        # reference flex raises on insert into an
                        # unknown table; silent drop would lose data
                        raise ValueError(
                            f"callback inserted into undefined table {tbl!r} "
                            f"(defined: {sorted(valid_tables)})"
                        )
                    vals: dict[str, str] = {}
                    geom = None
                    for k, v in row.items():
                        if isinstance(v, (bytes, bytearray)):
                            geom = bytes(v)
                        elif isinstance(v, bool):
                            vals[k] = "true" if v else "false"
                        elif isinstance(v, dict):
                            import json

                            vals[k] = json.dumps(v, sort_keys=True)
                        elif v is not None:
                            vals[k] = str(v)
                    rows.append((tbl, kind[0], obj["id"], vals, geom))
            yield pd.DataFrame(
                rows, columns=["tbl", "osm_kind", "osm_id", "vals", "geom"]
            )

    return mapper


class FlexConfig:
    """Collects table definitions and insert rules; `run` compiles
    them to one DataFrame per table."""

    # (callback execution helper lives at module level: _callback_mapper)

    def __init__(self) -> None:
        self.tables: dict[str, TableDef] = {}
        self.rules: list[Rule] = []
        self.expire_outputs: dict[str, ExpireOutputDef] = {}
        self._stage2: dict | None = None
        self.callbacks: dict[str, object] = {}

    def process(self, kind: str, fn) -> None:
        """Register an arbitrary-Python callback for <kind> objects —
        the GENERAL path of the reference's Lua UDF surface
        (process_node/way/relation, src/output-flex.cpp:1469-1501),
        complementing the declarative insert() fast path that compiles
        to Catalyst expressions.

        fn receives one dict per object:
          node:     {"id", "tags", "geom_point" (WKB|None)}
          way:      {"id", "tags", "refs", "geom_line", "geom_poly"}
          relation: {"id", "tags", "members" [(type, ref, role), ...]}
        and returns an iterable of (table_name, row_dict) — several
        rows, several tables, or nothing (the reference's
        table:insert{} from inside a callback, output-flex.cpp:766-843).
        Scalar row values go through the declared column casts; a
        bytes value is taken as the row's geometry (4326 WKB;
        columns declared srid=3857 are reprojected).

        Executed via mapInPandas over Arrow batches — embarrassingly
        parallel, where the reference serializes all user code under
        one global Lua mutex (output-flex.cpp:53-54)."""
        if kind not in ("node", "way", "relation"):
            raise ValueError(f"unknown kind {kind!r}")
        self.callbacks[kind] = fn

    def select_relation_members(
        self,
        when: Column | None = None,
        member_type: str = "w",
        role: str | None = None,
        **attrs: Column,
    ) -> None:
        """Declare two-stage processing (reference
        select_relation_members + osm2pgsql.stage == 2 reprocessing,
        src/output-flex.cpp:337-377,1506-1613): member ways of
        relations matching `when` receive the aggregated relation
        attrs as extra columns during way-rule evaluation (sorted
        comma-joined, the lcn_ref accumulation pattern), plus a
        literal `stage` column — 2 for marked ways, 1 otherwise — that
        rule predicates and values may reference like osm2pgsql.stage."""
        self._stage2 = {
            "when": when, "member_type": member_type, "role": role, "attrs": attrs,
        }

    def define_expire_output(self, name: str, **kw) -> ExpireOutputDef:
        e = ExpireOutputDef(name=name, **kw)
        self.expire_outputs[name] = e
        return e

    def compute_expire(self, tables: dict[str, DataFrame]) -> dict[str, DataFrame]:
        """Dirty-tile DataFrames per expire output: every geometry
        column wired to an output (ColumnDef.expire) contributes its
        rows' tiles (reference per-column expire wiring,
        src/flex-table-column.hpp:132-145).  Geometry columns are
        expected in EPSG:3857 (the reference only expires 3857
        geometries, expire_tiles_t::from_geometry_if_3857)."""
        from osm2pgsql_spark.functions.tiles import rollup_zoom
        from osm2pgsql_spark.operators.expire import ExpireConfig, dirty_tiles

        out: dict[str, DataFrame] = {}
        for tname, tdef in self.tables.items():
            if tname not in tables:
                continue
            for cd in tdef.geom_columns():
                if cd.expire is None:
                    continue
                if cd.srid != 3857:
                    continue  # reference: only 3857 geometries expire
                # a column may feed SEVERAL outputs (comma-joined
                # names — forests.lua wires one geometry to three)
                for expire_name in cd.expire.split(","):
                    if expire_name not in self.expire_outputs:
                        continue
                    eo = self.expire_outputs[expire_name]
                    cfg = ExpireConfig(
                        maxzoom=eo.maxzoom,
                        buffer=eo.buffer,
                        mode=eo.mode,
                        full_area_limit=eo.full_area_limit,
                        max_tiles_geometry=eo.max_tiles_geometry,
                        max_tiles_overall=eo.max_tiles_overall,
                    )
                    tiles = dirty_tiles(tables[tname], cfg, wkb_col=cd.name)
                    if eo.minzoom is not None and eo.minzoom < eo.maxzoom:
                        tiles_z = rollup_zoom(tiles, eo.minzoom, eo.maxzoom)
                    else:
                        from pyspark.sql import functions as FF

                        tiles_z = tiles.select(
                            FF.lit(eo.maxzoom).alias("zoom"), "x", "y"
                        )
                    out[eo.name] = (
                        tiles_z
                        if eo.name not in out
                        else out[eo.name].unionByName(tiles_z).distinct()
                    )
        return out

    def compute_expire_diff(
        self,
        old_tables: dict[str, DataFrame],
        new_tables: dict[str, DataFrame],
        touched_ids: DataFrame,
    ) -> dict[str, DataFrame]:
        """Dirty tiles for one append batch: the union of the OLD and
        the NEW geometry's tiles of every touched object — the
        reference expires the row it deletes AND the row it re-inserts
        (src/output-flex.cpp:1175-1282 delete_from_table +
        expire_from_result on insert), which is why a moved node dirties
        both where the way was and where it now is
        (tests/bdd/flex/expire-diff.feature).  A full import expires
        nothing (the reference only records expiry in append mode);
        only rows semi-joined to `touched_ids` (column: osm_id)
        contribute."""
        ids = touched_ids.select(
            F.col(touched_ids.columns[0]).alias("osm_id")
        ).distinct()

        def touched(tables: dict[str, DataFrame]) -> dict[str, DataFrame]:
            return {
                name: df.join(ids, "osm_id", "leftsemi")
                for name, df in tables.items()
            }

        old_t = self.compute_expire(touched(old_tables))
        new_t = self.compute_expire(touched(new_tables))
        out: dict[str, DataFrame] = {}
        for name in set(old_t) | set(new_t):
            parts = [t for t in (old_t.get(name), new_t.get(name)) if t is not None]
            d = parts[0]
            for p in parts[1:]:
                d = d.unionByName(p)
            out[name] = d.distinct()
        return out

    def describe(self) -> dict:
        """Structured dump of the config (the reference's debug/
        taginfo output, src/debug-output.cpp:34-71 table list +
        :7-32 expire outputs), json.dumps-able."""
        return {
            "tables": [
                {
                    "name": t.name,
                    "schema": t.schema,
                    "ids": t.ids,
                    "cluster": t.cluster_by_geom,
                    "columns": [
                        {
                            "name": c.name,
                            "type": c.type,
                            "srid": c.srid,
                            "not_null": c.not_null,
                            "create_only": c.create_only,
                            **({"expire": c.expire} if c.expire else {}),
                        }
                        for c in t.columns
                    ],
                }
                for t in self.tables.values()
            ],
            "expire_outputs": [
                {
                    "name": e.name,
                    "zoom": (
                        str(e.maxzoom)
                        if e.minzoom is None or e.minzoom == e.maxzoom
                        else f"{e.minzoom}-{e.maxzoom}"
                    ),
                    "mode": e.mode,
                    "buffer": e.buffer,
                }
                for e in self.expire_outputs.values()
            ],
            "rules": [
                {
                    "table": r.table,
                    "kind": r.kind,
                    "filtered": r.when is not None,
                    "values": sorted(r.values),
                    **(
                        {"relation_geometry": r.relation_geometry}
                        if r.kind == "relation"
                        else {}
                    ),
                }
                for r in self.rules
            ],
            **(
                {
                    "two_stage": {
                        "member_type": self._stage2["member_type"],
                        "filtered": self._stage2["when"] is not None,
                        "attrs": sorted(self._stage2["attrs"]),
                    }
                }
                if self._stage2 is not None
                else {}
            ),
        }

    def describe_json(self) -> str:
        import json

        return json.dumps(self.describe(), indent=2, sort_keys=True)

    def define_table(
        self, name: str, ids: str, columns: list[ColumnDef], **kw
    ) -> TableDef:
        if name in self.tables:
            raise ValueError(f"table {name!r} already defined")
        t = TableDef(name=name, ids=ids, columns=columns, **kw)
        self.tables[name] = t
        return t

    def insert(
        self,
        table: str,
        kind: str,
        when: Column | None = None,
        relation_geometry: str = "multipolygon",
        way_geometry: str | None = None,
        geom_transform: str | None = None,
        **values: Column,
    ) -> None:
        """Declare: for every <kind> object matching <when>, insert a
        row into <table> with the given column expressions.  The
        reference equivalent is a process_<kind> callback calling
        table:insert{...}."""
        if table not in self.tables:
            raise ValueError(f"unknown table {table!r}")
        if relation_geometry not in (
            "multipolygon", "multilinestring", "multipoint", "geometrycollection"
        ):
            raise ValueError(f"unknown relation_geometry {relation_geometry!r}")
        if way_geometry not in (None, "linestring", "polygon"):
            raise ValueError(f"unknown way_geometry {way_geometry!r}")
        if geom_transform not in (None, "line_merge"):
            raise ValueError(f"unknown geom_transform {geom_transform!r}")
        self.rules.append(
            Rule(
                table=table, kind=kind, when=when, values=values,
                relation_geometry=relation_geometry,
                way_geometry=way_geometry, geom_transform=geom_transform,
            )
        )

    # -- value conversion (flex-write.cpp:261-469 semantics) ----------

    @staticmethod
    def _convert(col: Column, cd: ColumnDef) -> Column:
        t = cd.type
        if t == "boolean":
            return TG.cast_boolean(col.cast("string"))
        if t == "direction":
            return TG.cast_direction(col.cast("string"))
        if t in ("int2", "int4", "int8"):
            return TG.cast_integer(col.cast("string"), t)
        if t in ("real", "double", "double_precision"):
            return TG.cast_double(col.cast("string")).cast(_SCALAR_TYPES[t])
        if t in ("timestamp", "timestamptz"):
            # epoch int or ISO string (flex-write.cpp:362-381 passes
            # strings straight to Postgres, whose parser also accepts
            # the compact 'YYYYMMDDTHHMMSSZ' basic form — normalize it
            # before the cast so both spellings land identically)
            s = col.cast("string")
            compact = F.regexp_replace(
                s,
                r"^(\d{4})(\d{2})(\d{2})T(\d{2})(\d{2})(\d{2})Z?$",
                r"$1-$2-$3 $4:$5:$6",
            )
            return F.when(
                s.rlike(r"^\d+$"), F.timestamp_seconds(s.cast("bigint"))
            ).otherwise(compact.cast("timestamp"))
        if t == "hstore":
            return col  # expect MapType already
        if t in ("json", "jsonb"):
            return F.to_json(col)
        if t == "text":
            return col.cast("string")
        return col

    # -- compilation --------------------------------------------------

    def run(
        self,
        nodes: DataFrame | None = None,
        ways: DataFrame | None = None,
        relations: DataFrame | None = None,
        way_geoms: DataFrame | None = None,
    ) -> dict[str, DataFrame]:
        """Compile all rules into one DataFrame per table.

        nodes/ways/relations follow model.NODE/WAY/RELATION_SCHEMA.
        way_geoms: optional pre-assembled (id, pts) from
        operators.assembly (the runner builds it if ways+nodes given).
        Point lists the runner builds also feed relation assembly; a
        caller's way_geoms feeds way rules and callbacks only.

        Geometry columns: for node rules, point geometry from lon/lat;
        for way rules, linestring/polygon WKB from assembled points;
        for relation rules, multipolygon/multilinestring WKB from
        member-way assembly (reference as_multipolygon /
        as_multilinestring, src/output-flex.cpp:453-606), selected per
        rule via relation_geometry.  Declared srid 3857 reprojects.
        """
        from osm2pgsql_spark.operators import assembly
        from osm2pgsql_spark.operators.iterate import checkpoint

    # (keep import local: assembly pulls pandas)

        # stage 2: join the declared relation attrs onto member ways
        # BEFORE rule evaluation — the reference's "collect all marks,
        # then reprocess" ordering is the aggregation barrier of the
        # attrs groupBy, so no mutable mark-set is needed
        ways_in = ways
        if self._stage2 is not None and ways is not None and relations is not None:
            from osm2pgsql_spark.plans.two_stage import relation_attrs_for_members

            spec = self._stage2
            attrs_df = relation_attrs_for_members(
                relations,
                when=spec["when"],
                member_type=spec["member_type"],
                role=spec.get("role"),
                **spec["attrs"],
            ).withColumnRenamed("id", "__s2id")
            ways_in = (
                ways.join(attrs_df, ways["id"] == F.col("__s2id"), "left")
                .withColumn(
                    "stage",
                    F.when(F.col("__s2id").isNotNull(), F.lit(2)).otherwise(F.lit(1)),
                )
                .drop("__s2id")
            )

        sources: dict[str, DataFrame | None] = {
            "node": nodes,
            "way": ways_in,
            "relation": relations,
        }

        # a caller's way_geoms may cover only some ways, so only point
        # lists built here feed relation assembly
        own_way_points = way_geoms is None and ways is not None and nodes is not None
        if own_way_points:
            refs = ways.select(
                F.col("id").alias("way_id"), F.posexplode("refs").alias("pos", "ref")
            )
            nloc = nodes.select(F.col("id").alias("node_id"), "lon", "lat")
            way_geoms = assembly.assemble_points(
                refs, nloc, way_id="way_id", pos="pos", ref="ref",
                node_id="node_id", x="lon", y="lat",
            )

        # A rule reads its entity frame joined with the geometry it needs:
        # "way" (way point lists) or a relation assembly kind.  Each such
        # frame is built once per run; one read by two or more rules,
        # tables or assemblies is materialized once, one with a single
        # reader stays lazy and keeps its plan.
        readers = Counter(
            self._geometry_source(r) for r in self.rules
            if self.tables[r.table].geom_columns() and sources[r.kind] is not None
        )
        if "way" in self.callbacks:
            readers["way"] += 1
        if own_way_points and relations is not None:
            readers["way"] += sum(k in readers for k in ("multipolygon", "multilinestring"))
        joined: dict[str, DataFrame] = {}

        def with_geometry(key: str) -> DataFrame:
            if key not in joined:
                if key == "way":
                    src = sources["way"]
                    df = src.join(
                        way_geoms.withColumnRenamed("way_id", "__gid"),
                        src["id"] == F.col("__gid"),
                        "left",
                    )
                else:
                    rg = rel_geoms(key)
                    if rg is not None:
                        df = relations.join(rg, relations["id"] == F.col("__gid"), "left")
                    else:
                        # assembly inputs missing: geometry resolves to
                        # NULL instead of an unresolvable column
                        df = relations.withColumn("__rel_geom", F.lit(None).cast("binary"))
                if readers[key] >= 2:
                    df = checkpoint(df)
                joined[key] = df
            return joined[key]

        def relation_way_points() -> DataFrame | None:
            if not own_way_points:
                return None
            if readers["way"] >= 2:
                return with_geometry("way").select(F.col("id").alias("way_id"), "pts")
            return way_geoms

        def rel_geoms(which: str) -> DataFrame | None:
            # multipoint assembly needs only node members; the other
            # kinds stitch member ways
            need_ways = which != "multipoint"
            if relations is None or nodes is None or (need_ways and ways is None):
                return None
            from osm2pgsql_spark.operators.relations import (
                grouped_member_wkbs,
                relation_collections,
                relation_multilinestrings,
                relation_multipoints,
                relation_multipolygons,
            )

            if which == "multipoint":
                built = relation_multipoints(relations, nodes)
            elif which == "geometrycollection":
                built = relation_collections(relations, ways, nodes)
            elif which == "multipolygon":
                built = relation_multipolygons(
                    None, grouped=grouped_member_wkbs(
                        relations, ways, nodes, way_points=relation_way_points()))
            else:
                built = relation_multilinestrings(
                    relations, ways, nodes, way_points=relation_way_points())
            return built.select(
                F.col("rel_id").alias("__gid"), F.col("geom").alias("__rel_geom")
            )

        has_way_frame = ways is not None and way_geoms is not None
        cb_df = self._run_callbacks(
            sources,
            with_geometry("way") if "way" in self.callbacks and has_way_frame else None,
        )

        out: dict[str, DataFrame] = {}
        for table_name, tdef in self.tables.items():
            rules = [r for r in self.rules if r.table == table_name]
            if not rules and cb_df is None:
                continue
            parts: list[DataFrame] = []
            for rule in rules:
                df = sources[rule.kind]
                if df is None:
                    continue
                key = self._geometry_source(rule) if tdef.geom_columns() else None
                if key is not None and (key != "way" or has_way_frame):
                    df = with_geometry(key)
                if rule.when is not None:
                    df = df.where(rule.when)
                # multi-geometry splitting (reference flex semantics:
                # inserting a multi value into a SINGLE-geometry
                # column splits it, one row per part — multigeom
                # BDD feature; src/flex-write.cpp geometry handling):
                # a relation rule whose declared column is the single
                # counterpart of the assembled multi explodes parts.
                _single_of = {
                    "polygon": "multipolygon",
                    "linestring": "multilinestring",
                    "point": "multipoint",
                }
                if rule.kind == "relation":
                    split_cols = [
                        cd for cd in tdef.geom_columns()
                        if _single_of.get(cd.type) == rule.relation_geometry
                    ]
                    if len(split_cols) > 1:
                        raise ValueError(
                            "only one geometry column may split a multi value"
                        )
                    if split_cols:
                        from osm2pgsql_spark.operators.geom_udfs import (
                            wkb_split_parts,
                        )

                        df = df.withColumn(
                            "__rel_geom",
                            F.explode(wkb_split_parts(F.col("__rel_geom"))),
                        )
                cols: list[Column] = []
                # id scheme (flex-table.hpp:40-49, map_id :166)
                if tdef.ids in ("node", "way", "relation"):
                    cols.append(F.col("id").alias("osm_id"))
                elif tdef.ids == "area":
                    # ways +id, relations -id
                    sign = 1 if rule.kind == "way" else -1
                    cols.append((F.col("id") * sign).alias("osm_id"))
                elif tdef.ids == "any_object":
                    cols.append(F.lit(rule.kind[0]).alias("osm_type"))
                    cols.append(F.col("id").alias("osm_id"))
                elif tdef.ids == "tile":
                    # tile-keyed table (gen output; flex-table.hpp:40-49):
                    # the rule provides x/y expressions
                    for axis in ("x", "y"):
                        if axis not in rule.values:
                            raise ValueError(
                                f"table {table_name!r} uses tile ids; rule must "
                                f"provide an {axis!r} value"
                            )
                        cols.append(rule.values[axis].cast("int").alias(axis))
                not_null_names: list[str] = []
                for cd in tdef.columns:
                    if cd.type in ID_TYPES:
                        continue
                    if cd.name in ("x", "y") and tdef.ids == "tile":
                        continue  # emitted by the id scheme above
                    if cd.type in GEOM_TYPES:
                        if cd.name in rule.values:
                            # explicit geometry value (the reference's
                            # insert{geom = <expression>} general case,
                            # e.g. a Lua method chain): inserted AS-IS
                            # — the expression owns its projection, and
                            # it may be a generator (explode of split
                            # parts), which is why not_null filtering
                            # happens on the aliased output column below
                            geom = rule.values[cd.name]
                        else:
                            geom = self._geometry_for(rule, cd)
                        cols.append(geom.alias(cd.name))
                        if cd.not_null:
                            not_null_names.append(cd.name)
                        continue
                    if cd.name in rule.values:
                        conv = self._convert(rule.values[cd.name], cd)
                    else:
                        conv = F.lit(None).cast(_SCALAR_TYPES[cd.type])
                    cols.append(conv.alias(cd.name))
                    if cd.not_null:
                        not_null_names.append(cd.name)
                proj = df.select(*cols)
                # reference: not-null violation -> row error, object
                # skipped (flex-write.cpp:40-50); we drop the row.
                # Filtering on the ALIASED columns (not the raw
                # expressions) keeps each expression single-evaluated
                # and generator-safe.
                for nm in not_null_names:
                    proj = proj.where(F.col(nm).isNotNull())
                parts.append(proj)
            if cb_df is not None:
                cbp = self._callback_rows_for_table(cb_df, tdef)
                if cbp is not None:
                    parts.append(cbp)
            if parts:
                result = parts[0]
                for p in parts[1:]:
                    result = result.unionByName(p)
                out[table_name] = result
        return out

    @staticmethod
    def _geometry_source(rule: Rule) -> str | None:
        """The geometry a rule's entity frame is joined with: "way"
        (way point lists), a relation assembly kind, or None (nodes)."""
        if rule.kind == "way":
            return "way"
        if rule.kind == "relation":
            return rule.relation_geometry
        return None

    def _run_callbacks(self, sources, way_frame) -> DataFrame | None:
        """mapInPandas execution of registered process() callbacks into
        one unified frame (tbl, osm_kind, osm_id, vals, geom).
        way_frame: the ways joined with their point lists, if any."""
        if not self.callbacks:
            return None
        import pandas as pd  # noqa: F401  (needed by the workers)

        out_schema = (
            "tbl string, osm_kind string, osm_id long, "
            "vals map<string,string>, geom binary"
        )
        frames: list[DataFrame] = []
        for kind, fn in self.callbacks.items():
            src = sources.get(kind)
            if src is None:
                continue
            attrs = [c for c in ("version", "ts", "changeset", "uid", "user", "visible")
                     if c in src.columns]
            if kind == "node":
                prep = src.select("id", "tags", "lon", "lat", *attrs)
            elif kind == "way":
                if way_frame is not None:
                    prep = way_frame.select("id", "tags", "refs", *attrs, "pts")
                else:
                    prep = src.select("id", "tags", "refs", *attrs)
            else:
                prep = src.select("id", "tags", "members", *attrs)
            frames.append(
                prep.mapInPandas(
                    _callback_mapper(kind, fn, frozenset(self.tables)), out_schema
                )
            )
        if not frames:
            return None
        result = frames[0]
        for f in frames[1:]:
            result = result.unionByName(f)
        # every output table embeds this frame in its plan: materialize
        # it once so the (Python, per-row) callbacks run once, not once
        # per table.  localCheckpoint (eager) instead of persist():
        # run() hands lazy tables to the caller with no unpersist
        # point, and a persist() would pin executor storage forever —
        # checkpoint blocks are dropped by the ContextCleaner as soon
        # as the frame is unreferenced (ADVICE r2: flex.py persist leak).
        return result.localCheckpoint()

    def _callback_rows_for_table(
        self, cb_df: DataFrame, tdef: TableDef
    ) -> DataFrame | None:
        """Project the unified callback frame into one table's typed
        schema (same id scheme / casts / not-null policy as the
        declarative path, so the two union cleanly)."""
        from osm2pgsql_spark.operators.geom_udfs import wkb_transform_3857

        cbt = cb_df.where(F.col("tbl") == tdef.name)
        cols: list[Column] = []
        if tdef.ids == "way":
            # relations written into way-id tables store -id (the old
            # C-transform convention, flex-table.cpp:95-130)
            cols.append(
                F.when(F.col("osm_kind") == "r", -F.col("osm_id"))
                .otherwise(F.col("osm_id"))
                .alias("osm_id")
            )
        elif tdef.ids in ("node", "relation"):
            cols.append(F.col("osm_id"))
        elif tdef.ids == "any_single":
            # single-column any-object ids: node id, way -id, relation
            # -id - 10^17 (flex-table.cpp:107-122)
            cols.append(
                F.when(F.col("osm_kind") == "w", -F.col("osm_id"))
                .when(
                    F.col("osm_kind") == "r",
                    -F.col("osm_id") - F.lit(100000000000000000).cast("long"),
                )
                .otherwise(F.col("osm_id"))
                .alias("osm_id")
            )
        elif tdef.ids == "area":
            cols.append(
                F.when(F.col("osm_kind") == "r", -F.col("osm_id"))
                .otherwise(F.col("osm_id"))
                .alias("osm_id")
            )
        elif tdef.ids == "any_object":
            cols.append(F.col("osm_kind").alias("osm_type"))
            cols.append(F.col("osm_id"))
        elif tdef.ids == "tile":
            for axis in ("x", "y"):
                cols.append(F.col("vals")[axis].cast("int").alias(axis))
        not_null_conds: list[Column] = []
        for cd in tdef.columns:
            if cd.type in ID_TYPES:
                continue
            if cd.name in ("x", "y") and tdef.ids == "tile":
                continue
            if cd.type in GEOM_TYPES:
                g = F.col("geom")
                if "geom_srid" in cb_df.columns:
                    # Lua callbacks may hand over already-transformed
                    # geometry (object:as_X():transform(srid)); only
                    # reproject rows still in 4326 (reference: per-row
                    # srid check on insert, flex-write.cpp:433-462)
                    if cd.srid == 3857:
                        g = F.when(
                            F.col("geom_srid") == 4326, wkb_transform_3857(g)
                        ).otherwise(g)
                    elif cd.srid == 4326:
                        # a geometry already projected away from 4326
                        # cannot be written to a 4326 column (reference
                        # raises; we null it and let not_null filter)
                        g = F.when(F.col("geom_srid") == 4326, g)
                    else:
                        from osm2pgsql_spark.operators.geom_udfs import (
                            wkb_transform_epsg,
                        )

                        g = F.when(F.col("geom_srid") == cd.srid, g).otherwise(
                            F.when(
                                F.col("geom_srid") == 4326,
                                wkb_transform_epsg(g, cd.srid),
                            )
                        )
                elif cd.srid == 3857:
                    g = wkb_transform_3857(g)
                cols.append(g.alias(cd.name))
                if cd.not_null:
                    not_null_conds.append(g.isNotNull())
                continue
            if cd.type == "hstore":
                # callbacks serialize dict values as JSON strings
                conv = F.from_json(F.col("vals")[cd.name], "map<string,string>")
            elif cd.type in ("json", "jsonb"):
                # already JSON text from the mapper — _convert's to_json
                # would crash on a string input
                conv = F.col("vals")[cd.name]
            else:
                conv = self._convert(F.col("vals")[cd.name], cd)
            cols.append(conv.alias(cd.name))
            if cd.not_null:
                not_null_conds.append(conv.isNotNull())
        proj = cbt.select(*cols)
        if not_null_conds:
            pred = not_null_conds[0]
            for c in not_null_conds[1:]:
                pred = pred & c
            proj = proj.where(pred)
        return proj

    @staticmethod
    def _geometry_for(rule: Rule, cd: ColumnDef) -> Column:
        """Geometry WKB for the rule's entity kind and the declared
        column type.  Reprojection to 3857 happens in the kernel
        (reference: per-column SRID auto-reproject,
        flex-write.cpp:433-462)."""
        from osm2pgsql_spark.operators import assembly
        from osm2pgsql_spark.operators.geom_udfs import (
            point_wkb,
            pts_linestring_wkb_3857,
            pts_polygon_wkb_3857,
            wkb_transform_3857,
        )

        if rule.kind == "node":
            if cd.type not in ("point", "geometry"):
                return F.lit(None).cast("binary")
            if cd.srid == 3857:
                return point_wkb(F.col("lon"), F.col("lat"), 3857)
            return point_wkb(F.col("lon"), F.col("lat"), 4326)
        if rule.kind == "way":
            eff = cd.type
            if eff == "geometry":
                # generic 'geometry' column: the rule's way_geometry
                # hint is the Lua as_polygon()/as_linestring() choice
                eff = rule.way_geometry or "linestring"
            # flex applies not_null filters on the geometry column itself
            # and chains further kernels over it; the kernel table pins
            # these kernels, so each runs once (operators/geom_udfs.py).
            if eff == "linestring":
                if cd.srid == 3857:
                    return pts_linestring_wkb_3857(F.col("pts"))
                return assembly.pts_to_linestring_wkb(F.col("pts"))
            if eff == "polygon":
                if cd.srid == 3857:
                    return pts_polygon_wkb_3857(F.col("pts"))
                return assembly.pts_to_polygon_wkb(F.col("pts"))
        if rule.kind == "relation":
            want = rule.relation_geometry
            ok = (
                cd.type == "geometry"
                or (cd.type == "multipolygon" and want == "multipolygon")
                or (cd.type == "multilinestring" and want == "multilinestring")
                or (cd.type == "multipoint" and want == "multipoint")
                or (cd.type == "geometrycollection" and want == "geometrycollection")
                # single column fed by the multi assembly: the run()
                # loop has already split __rel_geom into single parts
                or (cd.type == "polygon" and want == "multipolygon")
                or (cd.type == "linestring" and want == "multilinestring")
                or (cd.type == "point" and want == "multipoint")
            )
            if ok:
                g = F.col("__rel_geom")
                if rule.geom_transform == "line_merge":
                    from osm2pgsql_spark.operators.geom_udfs import wkb_line_merge

                    g = wkb_line_merge(g)
                if cd.srid == 3857:
                    return wkb_transform_3857(g)
                return g
        return F.lit(None).cast("binary")
