"""Main import/append binary — Spark port of the osm2pgsql executable.

Reference surface (/root/reference/src/osm2pgsql.cpp + the options it
wires from src/command-line-parser.cpp): read an OSM file, run the
flex output config, land tables; in --append mode fold a change file
into the middle, propagate dependencies, refresh the output tables,
and write the dirty-tile list.

Spark shape:
- the "database" is a parquet directory: OUT_DIR/middle/{nodes,ways,
  rels} (the slim middle, bucketed ParquetMergeTable so append MERGEs
  prune partitions) and OUT_DIR/tables/<name> (flex outputs);
- the style is a Python module with `tables(spark, nodes, ways, rels)
  -> dict[str, DataFrame]` (default: the generic config —
  examples/generic_import.py, the port of flex-config/generic.lua);
- append refreshes output tables from the updated middle (declarative
  equal-to-reimport semantics; the keyed incremental MERGE path is
  streaming/merge_sink.py and is used for the middle itself) and
  computes expiry incrementally: the OLD and NEW geometry tiles of
  every object touched directly or via dependency propagation
  (src/output-flex.cpp:1175-1282);
- osm2pgsql_properties lives at OUT_DIR/properties.json with the
  reference's append compatibility check (src/osm2pgsql.cpp:300-309).

Usage:
  python tools/import_tool.py INPUT OUT_DIR
      [--append] [--style MODULE.py] [--bbox minlon,minlat,maxlon,maxlat]
      [--expire-tiles Z] [--expire-output FILE]
      [--number-processes N]
"""

from __future__ import annotations

import argparse
import datetime
import importlib.util
import math
import os
import re
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
# executor python workers import the package too (expire kernel):
# they inherit the driver env, not the driver's sys.path
os.environ["PYTHONPATH"] = (
    _REPO + os.pathsep + os.environ["PYTHONPATH"]
    if os.environ.get("PYTHONPATH")
    else _REPO
)

from pyspark.sql import DataFrame, Observation, functions as F


def read_osm_any(spark, path: str, input_format: str = ""):
    """(nodes, ways, rels) from .pbf / .o5m / .opl / .osm[.xml][.gz].

    input_format forces the reader like the reference's
    -r/--input-reader (command-line-parser.cpp:545-550); detection
    failures and unknown formats use the reference wordings
    (input.cpp:313-321)."""
    from osm2pgsql_spark.sources.o5m import read_o5m
    from osm2pgsql_spark.sources.opl import read_opl
    from osm2pgsql_spark.sources.osm_xml import read_osm_xml
    from osm2pgsql_spark.sources.pbf import read_pbf

    readers = {"pbf": read_pbf, "o5m": read_o5m, "opl": read_opl,
               "xml": read_osm_xml}
    fmt = (input_format or "").lower()
    if fmt and fmt != "auto":
        reader = readers.get(fmt)
        if reader is None:
            raise SystemExit(f"Unknown file format '{input_format}'.")
        return reader(spark, path)

    low = path.lower()
    for gz in (".gz", ".bz2"):
        if low.endswith(gz):
            low = low[: -len(gz)]
    if low.endswith((".pbf",)):
        return read_pbf(spark, path)
    if low.endswith((".o5m", ".o5c")):
        return read_o5m(spark, path)
    if low.endswith(".opl"):
        return read_opl(spark, path)
    if low.endswith((".osm", ".xml", ".osc", ".osh")):
        return read_osm_xml(spark, path)
    raise SystemExit(
        f"Cannot detect file format for '{path}'. Try using -r.")


def load_style(path: str | None, region_db: str | None = None,
               mode: str = "create"):
    """Style module contract: `tables(spark, nodes, ways, rels) ->
    dict[str, DataFrame]`, optionally `ID_SPACES: dict[table ->
    node|way|relation|area]` (enables incremental append).  Default
    is the generic config."""
    if path is None:
        from examples import generic_import as g

        return g.generic_import, g.ID_SPACES
    if path.endswith(".lua"):
        # real osm2pgsql flex configs drive the import directly:
        # osm2pgsql -O flex -S config.lua twin (declarative subset on
        # the Catalyst fast path, anything else on the interpreter)
        from osm2pgsql_spark.plans.lua_config import load_lua_config

        cfg, _model = load_lua_config(path)
        if region_db is not None and hasattr(cfg, "region_db"):
            cfg.region_db = region_db
        if hasattr(cfg, "mode"):
            # osm2pgsql.mode in the Lua runtime ('create'/'append',
            # track-changes.lua branches on it)
            cfg.mode = mode

        def lua_tables(spark, nodes, ways, rels):
            return cfg.run(nodes=nodes, ways=ways, relations=rels)

        # expose the adapter so cmd_append can drive the file-reading
        # and process_deleted_* passes for ids=nil log tables
        lua_tables.cfg = cfg

        # None = an ids=nil append-only log table (or a tile table,
        # whose rows no object id refreshes); every other scheme is
        # id-tracked (delete+reinsert by mapped id, flex-table.cpp map_id)
        id_spaces = {
            name: None if t.ids in ("none", "tile") else t.ids
            for name, t in cfg.tables.items()
        }
        return lua_tables, id_spaces
    spec = importlib.util.spec_from_file_location("osm2pgsql_style", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    if not hasattr(mod, "tables"):
        raise SystemExit(f"style {path!r} must define tables(spark, nodes, ways, rels)")
    return mod.tables, getattr(mod, "ID_SPACES", None)


def load_pgsql_style(args):
    """-O pgsql: the legacy fixed-schema output driven by a .style
    file (reference output-pgsql.cpp), optionally with a Lua tag
    transform script replacing the C transform
    (--tag-transform-script, src/tagtransform-lua.cpp).  Same
    (style_fn, id_spaces) contract as load_style, so create and
    append work unchanged; id spaces follow the pgsql id convention
    (relations as -id, output-pgsql.cpp:396-399), which is exactly
    the 'area' mapped space."""
    from osm2pgsql_spark.plans.pgsql_style import (
        StylePlan,
        planet_tables_styled,
    )
    from osm2pgsql_spark.plans.style_file import read_style_file

    if args.hstore and args.hstore_all:
        raise SystemExit("--hstore and --hstore-all can not be used "
                         "at the same time")
    if not args.style:
        raise SystemExit(
            "the pgsql output needs a style file: -S default.style")
    prefix = args.prefix
    if any(c in "\"',.;$%&/()<>{}=?^*#" for c in prefix):
        # pgsql.cpp:259-269 check_identifier wording
        raise SystemExit("Special characters are not allowed in "
                         f"--prefix parameter: '{prefix}'.")
    exlist, enable_way_area = read_style_file(args.style)
    hstore_mode = "all" if args.hstore_all else (
        "norm" if args.hstore else "none")
    # check_options_output_pgsql warnings (command-line-parser.cpp:
    # 188-201): both options are silently dropped without hstore
    if (hstore_mode == "none" and not args.hstore_column
            and args.hstore_match_only):
        print("--hstore-match-only only makes sense with --hstore, "
              "--hstore-all, or --hstore-column; ignored.",
              file=sys.stderr)
        args.hstore_match_only = False
    if (getattr(args, "hstore_add_index", False)
            and hstore_mode == "none" and not args.hstore_column):
        print("--hstore-add-index only makes sense with hstore "
              "enabled; ignored.", file=sys.stderr)
        args.hstore_add_index = False
    plan = StylePlan(
        exlist,
        hstore_mode=hstore_mode,
        hstore_columns=tuple(args.hstore_column),
        hstore_match_only=args.hstore_match_only,
        keep_coastlines=args.keep_coastlines,
        enable_way_area=enable_way_area,
    )
    srid = resolve_srid(args)
    tt = None
    if args.tag_transform_script:
        from osm2pgsql_spark.plans.tagtransform import LuaTagTransform

        tt = LuaTagTransform(args.tag_transform_script,
                             extra_attributes=args.extra_attributes)

    def _renamed(tables: dict) -> dict:
        # -p/--prefix replaces the planet_osm table-name prefix
        # (output-pgsql.cpp table construction; default planet_osm)
        if prefix == "planet_osm":
            return tables
        return {prefix + k[len("planet_osm"):]: v
                for k, v in tables.items()}

    def style_fn(spark, nodes, ways, rels):
        if tt is not None:
            from osm2pgsql_spark.plans.tagtransform import planet_tables_lua

            return _renamed(planet_tables_lua(
                nodes, ways, rels, transform=tt, plan=plan, srid=srid,
                enable_multi=args.multi_geometry,
                reproject_area=args.reproject_area,
            ))
        return _renamed(planet_tables_styled(
            nodes, ways, rels, plan=plan, srid=srid,
            enable_multi=args.multi_geometry,
            reproject_area=args.reproject_area,
            extra_attributes=args.extra_attributes,
        ))

    id_spaces = {
        f"{prefix}_point": "node",
        f"{prefix}_line": "area",
        f"{prefix}_polygon": "area",
        f"{prefix}_roads": "area",
    }
    if getattr(args, "hstore_add_index", False):
        # the reference runs these against PostgreSQL at table stop
        # time (table.cpp:228-241); the parquet sink has no index
        # concept, so the DDL the reference would execute lands as
        # OUT_DIR/indexes.sql for the eventual database load
        stmts = []
        for t in id_spaces:
            if hstore_mode != "none":
                stmts.append(f"CREATE INDEX ON {t} USING GIN (tags);")
            for hcol in args.hstore_column:
                # our parquet column name for the prefix (':' -> '_',
                # plans/pgsql_style.py hstore_cols)
                stmts.append(
                    f'CREATE INDEX ON {t} USING GIN '
                    f'("{hcol.replace(":", "_")}");')
        style_fn.index_sql = stmts
    return style_fn, id_spaces


def resolve_srid(args) -> int:
    """Output projection from -l/-m/-E (command-line-parser.cpp:
    182-186, 397-440): exactly one may be given; default is web
    mercator."""
    given = (int(bool(args.latlong)) + int(bool(getattr(args, "merc", False)))
             + int(getattr(args, "proj", None) is not None))
    if given > 1:
        raise SystemExit("You can only use one of --latlong, -l, "
                         "--merc, -m, --proj, and -E")
    if getattr(args, "proj", None) is not None:
        return args.proj
    return 4326 if args.latlong else 3857


def _log_table_rows(style_fn, log_tables: set,
                    n_diff, w_diff, r_diff,
                    new_nodes, new_ways, new_rels) -> dict:
    """New rows for append-only ids=nil log tables (track-changes.lua).

    The reference's append run has two distinguishable sub-passes the
    config can observe: file reading (process_* over exactly the
    objects in the change file, with any file-reading guard flag still
    set) and dependent reprocessing (after after_relations fired).  An
    ids=nil table has no id tracking, so its rows can only come from
    the file pass plus process_deleted_* over the deletes
    (output-flex.cpp:1212-1245); dependent reprocessing must NOT
    contribute here — it is covered by the id-tracked refresh."""
    cfg = getattr(style_fn, "cfg", None)
    if cfg is None or not hasattr(cfg, "run_deleted"):
        raise SystemExit(
            "style defines ids=nil log tables but is not a procedural "
            "Lua config (no deleted-object callback path)")
    from osm2pgsql_spark.operators import assembly
    from osm2pgsql_spark.streaming.append import last_ops

    last = {"n": last_ops(n_diff), "w": last_ops(w_diff),
            "r": last_ops(r_diff)}

    def ids_of(df):
        return df.select("id").distinct()

    # post-diff snapshots exclude deleted objects, so these semijoins
    # yield exactly the created/modified objects of the change file
    live_nodes = new_nodes.join(ids_of(last["n"]), "id", "leftsemi")
    live_ways = new_ways.join(ids_of(last["w"]), "id", "leftsemi")
    live_rels = new_rels.join(ids_of(last["r"]), "id", "leftsemi")
    # way geometry resolves against the FULL updated node snapshot:
    # closure nodes contribute locations without entering process_node
    refs = live_ways.select(
        F.col("id").alias("way_id"),
        F.posexplode("refs").alias("pos", "ref"))
    nloc = new_nodes.select(F.col("id").alias("node_id"), "lon", "lat")
    way_geoms = assembly.assemble_points(
        refs, nloc, way_id="way_id", pos="pos", ref="ref",
        node_id="node_id", x="lon", y="lat")
    # relation member geometry resolves against the FULL updated
    # middle, not just members present in the same diff (reference
    # file pass has complete middle access, output-flex.cpp:1175-1282)
    file_out = cfg.run(nodes=live_nodes, ways=live_ways,
                       relations=live_rels, way_geoms=way_geoms,
                       middle_ways=new_ways, middle_nodes=new_nodes)
    deleted = {k: v.where(F.col("op") == "delete") for k, v in last.items()}
    del_out = cfg.run_deleted(nodes=deleted["n"], ways=deleted["w"],
                              relations=deleted["r"])
    out = {}
    for name in log_tables:
        parts = [d[name] for d in (file_out, del_out)
                 if d.get(name) is not None]
        if parts:
            df = parts[0]
            for p in parts[1:]:
                df = df.unionByName(p, allowMissingColumns=True)
            out[name] = df
    return out


def _middle(out_dir: str, name: str):
    from osm2pgsql_spark.streaming.merge_sink import ParquetMergeTable

    return ParquetMergeTable(os.path.join(out_dir, "middle", name), id_col="id")


def _write_tables(tables: dict[str, DataFrame], out_dir: str) -> dict[str, int]:
    counts = {}
    for name, df in tables.items():
        path = os.path.join(out_dir, "tables", name)
        # the row count rides on the write job, instead of three more
        # jobs to infer the written schema and count it back
        rows = Observation(f"rows:{name}")
        df.observe(rows, F.count(F.lit(1)).alias("n")).write.mode(
            "overwrite").parquet(path)
        counts[name] = rows.get["n"]
    return counts


def _write_tables_merge(
    tables: dict[str, DataFrame], out_dir: str, id_spaces: dict | None
) -> dict[str, int]:
    """--tables-format merge: id-tracked output tables are stored as
    hash-bucketed ParquetMergeTable snapshots, so a later append
    rewrites ONLY the buckets containing touched ids — table-refresh
    I/O proportional to the diff, not the table (the property the
    plain format lacks: its append rewrites every output table in
    full, O(planet) per minutely diff at scale).  ids=nil log tables
    stay plain parquet; appends only ADD files there."""
    from osm2pgsql_spark.streaming.merge_sink import ParquetMergeTable

    logs = {n: df for n, df in tables.items() if (id_spaces or {}).get(n) is None}
    counts = _write_tables(logs, out_dir)
    for name, df in tables.items():
        if name in logs:
            continue
        if "osm_id" not in df.columns:
            raise SystemExit(
                f"--tables-format merge needs an osm_id column in table {name!r}")
        # counted on the write job, like _write_tables
        rows = Observation(f"rows:{name}")
        ParquetMergeTable(os.path.join(out_dir, "tables", name), id_col="osm_id") \
            .write_full(df.observe(rows, F.count(F.lit(1)).alias("n")))
        counts[name] = rows.get["n"]
    return counts


def expire_tiles_of(
    tables: dict[str, DataFrame],
    touched: dict[str, tuple[DataFrame, list[str]]], maxzoom: int,
    buffer: float = 0.1, max_bbox: float = 20000.0,
) -> DataFrame | None:
    """Distinct (x, y) dirty tiles at maxzoom across every geometry
    column of the touched rows (old or new side; caller unions both).
    touched: per table, the touched keys and their column names
    (plans/flex.touched_keys); a table without an entry expires every
    row.  max_bbox is the --expire-bbox-size hybrid threshold (default
    20000 m, options.hpp:99): polygons larger than it expire the
    boundary only (output-flex.cpp:1377-1380, expire-tiles.cpp:116-135);
    0 forces full-area mode."""
    from osm2pgsql_spark.operators.expire import ExpireConfig, dirty_tiles

    parts = []
    for name, df in tables.items():
        geom_cols = [c for c, t in df.dtypes if t == "binary"]
        if not geom_cols:
            continue
        sel = df.join(*touched[name], "leftsemi") if name in touched else df
        for g in geom_cols:
            parts.append(sel.select(F.col(g).alias("geom")))
    if not parts:
        return None
    allg = parts[0]
    for p in parts[1:]:
        allg = allg.unionByName(p)
    cfg = ExpireConfig(
        maxzoom=maxzoom, buffer=buffer,
        mode="hybrid" if max_bbox > 0.0 else "full_area",
        full_area_limit=max_bbox,
    )
    return dirty_tiles(allg, cfg).select(
        F.col("x").cast("int"), F.col("y").cast("int"))


def _newest_ts():
    """Newest object timestamp of a frame as epoch seconds: an instant,
    whatever the session's or the Python process's time zone."""
    return F.max(F.unix_seconds("ts")).alias("ts")


def _zulu(seconds: int | None) -> str | None:
    """Epoch seconds as the properties' Zulu text."""
    if seconds is None:
        return None
    return datetime.datetime.fromtimestamp(
        seconds, datetime.timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")


def _data_timestamp(frames) -> str | None:
    """Newest object timestamp across the input frames, in one pass."""
    allts = frames[0].select("ts")
    for df in frames[1:]:
        allts = allts.unionByName(df.select("ts"))
    return _zulu(allts.agg(_newest_ts()).first()[0])


_BBOX_NUM_RE = re.compile(
    r"[ \t]*[+-]?(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?"
    r"|[ \t]*[+-]?(?:inf(?:inity)?|nan)", re.IGNORECASE)


def parse_bbox_param(arg: str) -> tuple:
    """-b/--bbox validation with the reference's exact semantics and
    wordings (command-line-parser.cpp:34-80, pinned by
    test-options-parse.cpp): empty fields are skipped before the
    4-field check, each coordinate must consume its whole token
    (strtod + end check; leading whitespace ok) and be finite, and
    the order checks have dedicated messages."""

    def _bad():
        raise SystemExit("Bounding box must be specified like: "
                         "minlon,minlat,maxlon,maxlat.")

    values = [v for v in arg.split(",") if v != ""]
    if len(values) != 4:
        _bad()

    def _coord(s: str) -> float:
        m = _BBOX_NUM_RE.fullmatch(s)
        if m is None:
            _bad()
        v = float(s)
        if not math.isfinite(v):
            _bad()
        return v

    minx, miny, maxx, maxy = (_coord(v) for v in values)
    if maxx <= minx:
        raise SystemExit("Bounding box failed due to maxlon <= minlon.")
    if maxy <= miny:
        raise SystemExit("Bounding box failed due to maxlat <= minlat.")
    # osmium::Box::valid(): corner locations must be on the planet
    if not (-180 <= minx <= 180 and -180 <= maxx <= 180
            and -90 <= miny <= 90 and -90 <= maxy <= 90):
        _bad()
    return minx, miny, maxx, maxy


def cmd_create(args, spark) -> None:
    from osm2pgsql_spark.streaming.properties import Properties

    # change files carry multiple object versions (reference
    # input.cpp:326-329, file.has_multiple_object_versions())
    low = args.input.lower()
    for gz in (".gz", ".bz2"):
        if low.endswith(gz):
            low = low[: -len(gz)]
    if low.endswith((".osc", ".osh")):
        raise SystemExit(
            "Reading an OSM change file only works in append mode.")
    nodes, ways, rels = read_osm_any(
        spark, args.input, getattr(args, "input_reader", ""))
    if args.bbox:
        lo_x, lo_y, hi_x, hi_y = parse_bbox_param(args.bbox)
        inside = nodes.where(
            (F.col("lon") >= lo_x) & (F.col("lon") <= hi_x)
            & (F.col("lat") >= lo_y) & (F.col("lat") <= hi_y)
        )
        # complete-ways semantics (the reference reads via the middle,
        # so a way with ANY node in the box keeps ALL its nodes and
        # its geometry doesn't truncate at the boundary): keep ways
        # touching the box, then pull their full node closure back in
        way_refs = ways.select(F.col("id").alias("way_id"), F.explode("refs").alias("ref"))
        touching = way_refs.join(
            inside.select(F.col("id").alias("ref")), "ref", "leftsemi"
        ).select("way_id").distinct()
        ways = ways.join(touching.withColumnRenamed("way_id", "id"), "id", "leftsemi")
        closure = (
            ways.select(F.explode("refs").alias("id"))
            .unionByName(inside.select("id"))
            .distinct()
        )
        nodes = nodes.join(closure, "id", "leftsemi")
    # slim middle (bucketed for append partition pruning).  Everything
    # after the write reads the middle's own frames, as the reference
    # fetches node locations through its middle: the parsed frames are
    # consumed once, here, and every later job scans parquet instead of
    # re-deriving them from the parse
    # the newest object timestamp rides on the write jobs, like the
    # row counts of _write_tables
    newest = []
    for name, df in (("nodes", nodes), ("ways", ways), ("rels", rels)):
        obs = Observation(f"ts:{name}")
        _middle(args.out_dir, name).write_full(df.observe(obs, _newest_ts()))
        newest.append(obs.get["ts"])
    data_ts = _zulu(max((s for s in newest if s is not None), default=None))
    nodes, ways, rels = (
        _middle(args.out_dir, name).read(spark) for name in ("nodes", "ways", "rels"))
    out_backend = getattr(args, "output", "flex")
    if out_backend == "null":
        # reference output-null.cpp: parse the input, keep the middle
        # (slim mode), produce no tables
        style_fn = lambda spark, n, w, r: {}  # noqa: E731
        id_spaces_c: dict | None = {}
    elif out_backend == "pgsql":
        style_fn, id_spaces_c = load_pgsql_style(args)
    else:
        style_fn, id_spaces_c = load_style(
            args.style, getattr(args, "region_db", None))
    tables = style_fn(spark, nodes, ways, rels)
    fmt = getattr(args, "tables_format", "plain")
    if fmt == "merge":
        if not id_spaces_c and out_backend != "null":
            raise SystemExit(
                "--tables-format merge needs the style to define ID_SPACES")
        counts = _write_tables_merge(tables, args.out_dir, id_spaces_c)
    else:
        counts = _write_tables(tables, args.out_dir)
    index_sql = getattr(style_fn, "index_sql", None)
    if index_sql:
        # --hstore-add-index: the GIN DDL the reference executes at
        # table stop (table.cpp:228-241), as a load-time artifact
        with open(os.path.join(args.out_dir, "indexes.sql"), "w") as f:
            f.write("\n".join(index_sql) + "\n")
    if args.pg:
        # -d/--database twin: COPY-load the output tables into a LIVE
        # PostgreSQL (per-partition COPY FROM STDIN streams through
        # psql — sinks/pg_live.py; the reference's copy-thread flow,
        # table.cpp:118-240).  Geometry columns land as bytea WKB.
        from osm2pgsql_spark.sinks.pg_live import parse_conninfo, pg_load_tables
        from osm2pgsql_spark.streaming.merge_sink import ParquetMergeTable

        def _read_out(name: str):
            path = os.path.join(args.out_dir, "tables", name)
            if fmt == "merge" and (id_spaces_c or {}).get(name) is not None:
                return ParquetMergeTable(path, id_col="osm_id").read(spark)
            return spark.read.parquet(path)

        live = {name: _read_out(name) for name in counts}
        dsn = parse_conninfo(args.pg)
        mid_schema, out_schema = resolve_schemas(args)
        pg_counts = pg_load_tables(live, dsn, schema=out_schema)
        for name, n in pg_counts.items():
            want = live[name].count()
            if n != want:
                raise SystemExit(
                    f"postgresql table {name}: loaded {n} rows but Spark "
                    f"produced {want} — COPY load incomplete")
            print(f"postgresql table {name}: {n} rows")
        # index DDL at table stop (reference table.cpp:196-241): the
        # osm_id btree the slim pgsql output builds, plus the style's
        # declared GIN/hstore DDL (--hstore-add-index).  The geometry
        # GiST index is skipped with a logged reason: no PostGIS in
        # this environment, geometry columns land as bytea WKB.
        from osm2pgsql_spark.sinks.pg_live import _qual, run_psql_script

        ddl = [
            f'CREATE INDEX ON {_qual(name, out_schema)} ("osm_id") '
            "WITH (fillfactor = 90);"
            for name, df in live.items() if "osm_id" in df.columns
        ]
        ddl.extend(index_sql or [])
        if ddl:
            run_psql_script(dsn, "\n".join(ddl))
            print(f"postgresql: created {len(ddl)} index(es); geometry "
                  "GiST skipped (no PostGIS — way columns are bytea WKB)")
        if not args.drop:
            # slim middle in the database too (reference
            # middle-pgsql.cpp new-format tables; id PKs built after
            # the COPY like build_indexes, :1020-1063)
            prefix = getattr(args, "prefix", "planet_osm")
            mcounts = pg_load_tables(
                _pg_middle_frames(prefix, nodes, ways, rels), dsn,
                ddl_overrides=_pg_middle_ddl(prefix), schema=mid_schema)
            run_psql_script(dsn, "\n".join(
                f'ALTER TABLE {_qual(prefix + "_" + t, mid_schema)} '
                "ADD PRIMARY KEY (id);"
                for t in ("nodes", "ways", "rels")))
            for name, n in mcounts.items():
                print(f"postgresql middle {name}: {n} rows")
    if args.drop:
        # --create --slim --drop: middle only existed to build the
        # output; an appendless import reclaims it (reference --drop)
        import shutil

        shutil.rmtree(os.path.join(args.out_dir, "middle"), ignore_errors=True)
    props = Properties(os.path.join(args.out_dir, "properties.json"))
    props.set("db_format", "parquet-v1")
    props.set("style", args.style or "generic")
    props.set("output", out_backend)
    props.set("updatable", "false" if args.drop else "true")
    props.set("tables_format", fmt)
    props.set("attributes", "false")
    props.set("import_timestamp", datetime.datetime.utcnow().isoformat() + "Z")
    # the reference stores the data's newest object timestamp
    # ('current_timestamp') and any replication headers from a PBF
    # input — osm2pgsql-replication init reads both (properties.cpp,
    # scripts/osm2pgsql-replication:167-193)
    if data_ts is not None:
        props.set("current_timestamp", data_ts)
    if args.input.endswith((".pbf", ".osm.pbf")):
        from osm2pgsql_spark.streaming.replication import (
            osm_date, replication_header_from_pbf)

        base_url, seq, hts = replication_header_from_pbf(args.input)
        if base_url:
            props.set("replication_base_url", base_url)
        if seq is not None:
            props.set("replication_sequence_number", str(seq))
        if hts is not None:
            props.set("replication_timestamp", osm_date(hts))
    props.save()
    if args.pg:
        # the reference creates osm2pgsql_properties in the database
        # at import (properties.cpp:22, middle schema) — mirror the
        # local store there
        from osm2pgsql_spark.sinks.pg_live import pg_write_properties

        pg_write_properties(parse_conninfo(args.pg), props.as_dict(),
                            schema=resolve_schemas(args)[0])
    for name, n in counts.items():
        print(f"table {name}: {n} rows")


def _pg_middle_frames(prefix: str, nodes, ways, rels,
                      keep_op: bool = False) -> dict:
    """Slim middle tables for the live database — the reference's
    middle-pgsql NEW-format shapes (middle-pgsql.cpp table DDL:
    {prefix}_nodes(id, lat, lon int4 — osmium's 1e7-scaled int32
    locations), {prefix}_ways(id, nodes int8[], tags jsonb),
    {prefix}_rels(id, members jsonb, tags jsonb); member type letters
    uppercased like the reference's JSON encoder).  keep_op carries
    the diff's op column through for the append replay."""
    mid_nodes = nodes.select(
        "id",
        F.round(F.col("lat") * 1e7).cast("int").alias("lat"),
        F.round(F.col("lon") * 1e7).cast("int").alias("lon"),
        *(["op"] if keep_op else []),
    )
    mid_ways = ways.select(
        "id",
        F.col("refs").alias("nodes"),
        F.to_json("tags").alias("tags"),
        *(["op"] if keep_op else []),
    )
    mid_rels = rels.select(
        "id",
        F.to_json(F.expr(
            "transform(members, m -> named_struct("
            "'type', upper(m.type), 'ref', m.ref, 'role', m.role))"
        )).alias("members"),
        F.to_json("tags").alias("tags"),
        *(["op"] if keep_op else []),
    )
    return {f"{prefix}_nodes": mid_nodes, f"{prefix}_ways": mid_ways,
            f"{prefix}_rels": mid_rels}


def _pg_middle_ddl(prefix: str) -> dict:
    return {
        f"{prefix}_ways": {"tags": "jsonb"},
        f"{prefix}_rels": {"members": "jsonb", "tags": "jsonb"},
    }


def resolve_schemas(args) -> tuple[str, str]:
    """(middle_schema, output_schema) for the live-PG path with the
    reference's defaulting chain and validation
    (command-line-parser.cpp:648-665): --middle-schema and
    --output-pgsql-schema fall back to --schema; empty --schema and
    special characters raise with the reference wordings.  'public'
    normalizes to '' (unqualified names — the pre---schema
    transcripts stay byte-identical)."""
    schema = getattr(args, "schema", "public")
    if schema == "":
        raise SystemExit("Schema can not be empty.")

    def check(value: str, what: str) -> None:
        if any(c in "\"',.;$%&/()<>{}=?^*#" for c in value):
            raise SystemExit("Special characters are not allowed in "
                             f"{what} parameter: '{value}'.")

    check(schema, "--schema")
    mid = getattr(args, "middle_schema", "") or schema
    out = getattr(args, "output_pgsql_schema", "") or schema
    check(mid, "--middle-schema")
    check(out, "--output-pgsql-schema")
    return ("" if mid == "public" else mid,
            "" if out == "public" else out)


def _pg_apply_append(args, new_side, log_new, keys, log_tables,
                     diffs=None) -> None:
    """--append --pg: replay the diff against the live PostgreSQL.

    The reference's append flow — touched ids deleted in batches, new
    rows re-inserted, per connection (db-copy.hpp delete-before-insert
    order; middle-pgsql.cpp:1020-1063) — runs through SqlBatchWriter
    over the psql shim: every touched key is deleted, rows present in
    the refreshed output re-insert (modify = delete + re-add), keys
    with no refreshed row are pure deletes.  Each partition's
    statements execute as one psql -1 transaction, so a replayed
    partition (task retry) is idempotent."""
    from osm2pgsql_spark.sinks.live import write_delete_before_insert
    from osm2pgsql_spark.sinks.pg_live import (
        PsqlConnectFactory, parse_conninfo)

    from osm2pgsql_spark.sinks.pg_live import _qual

    mid_schema, out_schema = resolve_schemas(args)
    fac = PsqlConnectFactory(parse_conninfo(args.pg))
    for name, new_rows in new_side.items():
        # materialize once: the touched-closure style pipeline would
        # otherwise re-evaluate for the insert AND the anti-join side
        new_rows = new_rows.localCheckpoint()
        touched, key_cols = keys[name]
        schema = dict(new_rows.dtypes)
        ins = new_rows.withColumn("op", F.lit("modify"))
        dels = (
            touched.join(new_rows.select(*key_cols), key_cols, "left_anti")
            .select(*[
                F.col(c) if c in key_cols
                else F.lit(None).cast(schema[c]).alias(c)
                for c in new_rows.columns
            ])
            .withColumn("op", F.lit("delete"))
        )
        change = ins.unionByName(dels)
        write_delete_before_insert(
            change, fac, _qual(name, out_schema),
            id_col=key_cols[-1],
            type_col=key_cols[0] if len(key_cols) == 2 else None,
            columns=list(new_rows.columns),
            quote_idents=True,
            # diff-sized data: a handful of psql sessions, not one per
            # shuffle partition (planet appends raise this)
            num_partitions=8,
        )
        print(f"postgresql table {name}: diff applied")
    for name in log_tables:
        add = log_new.get(name)
        if add is None:
            continue
        cols = list(add.columns)

        def _ins(rows, table=_qual(name, out_schema), cols=cols, fac=fac):
            con = fac()
            ph = ",".join(["?"] * len(cols))
            quoted = ", ".join(f'"{c}"' for c in cols)
            con.executemany(
                f"INSERT INTO {table} ({quoted}) VALUES ({ph})",
                [tuple(r[c] for c in cols) for r in rows],
            )
            con.close()

        add.foreachPartition(_ins)
        print(f"postgresql table {name}: log rows appended")
    if diffs is not None:
        # middle replay: the reference's append updates the slim
        # middle tables in the database (middle-pgsql.cpp node/way/rel
        # delete+insert flow).  Skipped when the import didn't load a
        # middle (e.g. --drop), detected from the catalog.
        from osm2pgsql_spark.sinks.pg_live import query as pg_query
        from osm2pgsql_spark.streaming.append import last_ops

        prefix = getattr(args, "prefix", "planet_osm")
        schema_cond = (
            f"schemaname = '{mid_schema}'" if mid_schema
            else "schemaname = 'public'"
        )
        present = pg_query(
            fac.dsn,
            "SELECT count(*) FROM pg_tables WHERE tablename = "
            f"'{prefix}_ways' AND {schema_cond}")
        if present and present[0][0] != "0":
            n_diff, w_diff, r_diff = diffs
            mid = _pg_middle_frames(
                prefix, last_ops(n_diff), last_ops(w_diff),
                last_ops(r_diff), keep_op=True)
            for name, change in mid.items():
                write_delete_before_insert(
                    change, fac, _qual(name, mid_schema), id_col="id",
                    quote_idents=True, num_partitions=4)
                print(f"postgresql middle {name}: diff applied")
        else:
            print("postgresql middle: not present in database; "
                  "skipping middle replay")


def cmd_append(args, spark) -> None:
    from osm2pgsql_spark.plans.flex import touched_keys
    from osm2pgsql_spark.streaming.append import (
        affected_ids, apply_diff, relations_to_recompute, ways_to_recompute,
    )
    from osm2pgsql_spark.streaming.properties import Properties

    out_backend = getattr(args, "output", "flex")
    props = Properties(os.path.join(args.out_dir, "properties.json"))
    problems = props.check_compatible(
        db_format="parquet-v1", style=args.style or "generic",
        output=out_backend, updatable="true"
    )
    if problems:
        raise SystemExit("append incompatible with import: " + "; ".join(problems))

    from osm2pgsql_spark.sources.osm_xml import read_osc_xml

    n_diff, w_diff, r_diff = read_osc_xml(spark, args.input)
    if out_backend == "null":
        style_fn, id_spaces = (lambda spark, n, w, r: {}), {}
    elif out_backend == "pgsql":
        style_fn, id_spaces = load_pgsql_style(args)
    else:
        style_fn, id_spaces = load_style(
            args.style, getattr(args, "region_db", None), mode="append")
    # a style that declares its tables' id spaces refreshes only the
    # touched rows; without them every table is re-derived in full
    incremental = id_spaces is not None
    # ids=nil log tables (track-changes.lua): append-only — the
    # reference never deletes their rows; their new rows come from a
    # dedicated file-reading + process_deleted_* pass, never from the
    # id-tracked refresh below
    log_tables = {n for n, s in (id_spaces or {}).items() if s is None}

    mids = {name: _middle(args.out_dir, name) for name in ("nodes", "ways", "rels")}
    old_nodes = mids["nodes"].read(spark)
    old_ways = mids["ways"].read(spark)
    old_rels = mids["rels"].read(spark)
    # old-side rows are only needed for the expire list; procedural
    # styles execute eagerly, so don't run them over the whole old
    # database for nothing
    old_tables = (style_fn(spark, old_nodes, old_ways, old_rels)
                  if args.expire_tiles else {})

    new_nodes = apply_diff(old_nodes, n_diff)
    new_ways = apply_diff(old_ways, w_diff)
    new_rels = apply_diff(old_rels, r_diff)
    sets = affected_ids(n_diff, w_diff, r_diff, new_ways, new_rels, spark=spark)
    node_ids = sets.changed_nodes
    way_ids = ways_to_recompute(sets)
    rel_ids = relations_to_recompute(sets)
    # every id-tracked table's touched keys under its own id scheme
    # (relations as -id in area tables, kind-tagged or offset ids in
    # any tables): the refresh, the output merge, the live-database
    # replay and the expiry all select a table's touched rows by them
    keys = {name: touched_keys(space, node_ids, way_ids, rel_ids)
            for name, space in (id_spaces or {}).items() if space is not None}

    if incremental and set(id_spaces) == log_tables:
        # every table is an append-only log: the dedicated log pass
        # below does all the work, skip the id-tracked refresh
        new_side = {}
    elif incremental:
        # feed the style ONLY the touched objects plus their closure
        # (nodes of touched ways, members of touched relations): the
        # append cost scales with the diff, not the database.  The
        # style's output is then filtered per table to the id space's
        # touched set, so closure-only objects don't produce rows.
        rels_in = new_rels.join(rel_ids, "id", "leftsemi")
        member = rels_in.select(F.explode("members").alias("m"))
        member_way_ids = member.where(F.col("m.type") == "w").select(
            F.col("m.ref").alias("id")
        )
        member_node_ids = member.where(F.col("m.type") == "n").select(
            F.col("m.ref").alias("id")
        )
        ways_in = new_ways.join(
            way_ids.unionByName(member_way_ids).distinct(), "id", "leftsemi"
        )
        need_nodes = (
            ways_in.select(F.explode("refs").alias("id"))
            .unionByName(node_ids)
            .unionByName(member_node_ids)
            .distinct()
        )
        nodes_in = new_nodes.join(need_nodes, "id", "leftsemi")
        sub_tables = style_fn(spark, nodes_in, ways_in, rels_in)

        new_side = {
            name: df.join(*keys[name], "leftsemi")
            for name, df in sub_tables.items()
            if name not in log_tables
        }
    else:
        new_side = {name: df
                    for name, df in style_fn(
                        spark, new_nodes, new_ways, new_rels).items()
                    if name not in log_tables}
    log_new = (_log_table_rows(style_fn, log_tables, n_diff, w_diff, r_diff,
                               new_nodes, new_ways, new_rels)
               if log_tables else {})

    # expire BEFORE swapping: old tables must still be readable.
    # Dirty = old+new tiles of directly-changed and dependency-pending
    # objects (src/output-flex.cpp delete_from_table + insert expiry).
    if args.expire_tiles:
        # tables without id-tracked keys (styles without ID_SPACES, log
        # tables) select by the raw touched ids on an osm_id column
        raw = (node_ids.unionByName(way_ids).unionByName(rel_ids).distinct()
               .withColumnRenamed("id", "osm_id"), ["osm_id"])
        dirty = []
        for side in (old_tables, new_side):
            touched = {name: keys.get(name, raw) for name, df in side.items()
                       if name in keys or "osm_id" in df.columns}
            t = expire_tiles_of(side, touched, args.expire_tiles,
                                max_bbox=args.expire_bbox_size)
            if t is not None:
                dirty.append(t)
        if dirty:
            allt = dirty[0]
            for t in dirty[1:]:
                allt = allt.unionByName(t)
            out = args.expire_output or os.path.join(args.out_dir, "dirty_tiles.list")
            from osm2pgsql_spark.sinks.writers import write_expire_file

            tiles = allt.distinct().withColumn(
                "zoom", F.lit(args.expire_tiles))
            if getattr(args, "pg", None):
                # two consumers (file + PG upsert): evaluate the
                # old+new expire pipeline once
                tiles = tiles.localCheckpoint()
            write_expire_file(tiles, out)
            print(f"expire list: {out}")
            if getattr(args, "pg", None):
                # flex expire-output-table semantics on the live path:
                # dirty tiles upsert into {prefix}_expire with ON
                # CONFLICT DO NOTHING (expire-output.cpp:107-163)
                from osm2pgsql_spark.sinks.live import (
                    create_expire_table, upsert_expire_tiles)
                from osm2pgsql_spark.sinks.pg_live import (
                    PsqlCon, PsqlConnectFactory, _qual, parse_conninfo)

                dsn = parse_conninfo(args.pg)
                expire_name = f"{args.prefix}_expire"
                expire_table = _qual(expire_name, resolve_schemas(args)[1])
                con = PsqlCon(dsn)
                create_expire_table(con, expire_table)
                con.close()
                upsert_expire_tiles(
                    tiles.select("zoom", "x", "y"),
                    PsqlConnectFactory(dsn), expire_table)
                print(f"postgresql expire table: {expire_name}")

    # --tables-format merge: partition-pruned output MERGE — delete
    # touched keys from the touched buckets only, insert the new rows;
    # log tables only ADD files.  Refresh I/O ~ diff, not table size.
    fmt = props.get("tables_format") or "plain"
    if fmt == "merge" and not incremental:
        raise SystemExit(
            "--tables-format merge requires an incremental-capable "
            "style (ID_SPACES)")
    if getattr(args, "pg", None) and not incremental:
        raise SystemExit(
            "--append --pg needs an incremental-capable style "
            "(ID_SPACES) — the live diff replay is id-tracked")

    # the refreshed outputs, the live-database replay and the output
    # merge all read the change-set lineage (touched closure,
    # affected-id frames), which still reads the middle parquet files
    # the middle MERGE below swaps: they all run before it
    if fmt != "merge":
        refreshed = _refreshed_tables(spark, args.out_dir, new_side, log_new,
                                      log_tables, keys, incremental)
    if getattr(args, "pg", None):
        _pg_apply_append(args, new_side, log_new, keys, log_tables,
                         diffs=(n_diff, w_diff, r_diff))
    if fmt == "merge":
        counts = _merge_tables(spark, args.out_dir, new_side, log_new,
                               log_tables, keys)

    # middle MERGE (partition-pruned on the touched id buckets)
    mids["nodes"].merge_diff(spark, n_diff)
    mids["ways"].merge_diff(spark, w_diff)
    mids["rels"].merge_diff(spark, r_diff)
    if fmt != "merge":
        counts = _write_tables(refreshed, args.out_dir)
    props.set(
        "append_timestamp", datetime.datetime.utcnow().isoformat() + "Z"
    )
    new = _data_timestamp((n_diff, w_diff, r_diff))
    if new is not None:
        cur = props.get("current_timestamp")
        if cur is None or new > cur:
            props.set("current_timestamp", new)
    props.save()
    for name, n in counts.items():
        print(f"table {name}: {n} rows")
    if getattr(args, "pg", None):
        # keep the database's osm2pgsql_properties in step with the
        # local store (reference updates it on every append,
        # properties.cpp:109)
        from osm2pgsql_spark.sinks.pg_live import (
            parse_conninfo, pg_write_properties)

        pg_write_properties(parse_conninfo(args.pg), props.as_dict(),
                            schema=resolve_schemas(args)[0])


def _refreshed_tables(spark, out_dir: str, new_side: dict, log_new: dict,
                      log_tables: set, keys: dict,
                      incremental: bool) -> dict[str, DataFrame]:
    """Plain-format append: every output table in full, materialized.
    Id-tracked tables keep their rows of untouched keys and take the
    new rows; log tables keep all rows and take the added ones."""
    if incremental:
        refreshed = {}
        for name, new_rows in new_side.items():
            old_rows = spark.read.parquet(os.path.join(out_dir, "tables", name))
            keep = old_rows.join(*keys[name], "left_anti")
            refreshed[name] = keep.unionByName(new_rows).localCheckpoint()
    else:
        refreshed = {n: df.localCheckpoint() for n, df in new_side.items()}
    for name in log_tables:
        # append-only: old rows always kept, file-pass + deleted rows added
        path = os.path.join(out_dir, "tables", name)
        old_rows = spark.read.parquet(path) if os.path.exists(path) else None
        add = log_new.get(name)
        if old_rows is None and add is None:
            continue
        if old_rows is None:
            refreshed[name] = add.localCheckpoint()
        elif add is None:
            refreshed[name] = old_rows.localCheckpoint()
        else:
            refreshed[name] = old_rows.unionByName(
                add, allowMissingColumns=True).localCheckpoint()
    return refreshed


def _merge_tables(spark, out_dir: str, new_side: dict, log_new: dict,
                  log_tables: set, keys: dict) -> dict[str, int]:
    """Merge-format append: each id-tracked table rewrites only the
    buckets holding touched keys; log tables add files.  Returns the
    tables' row counts."""
    from osm2pgsql_spark.streaming.merge_sink import ParquetMergeTable

    counts = {}
    for name, new_rows in new_side.items():
        touched, key_cols = keys[name]
        mt = ParquetMergeTable(
            os.path.join(out_dir, "tables", name), id_col="osm_id")
        buckets = mt.merge_refresh(
            spark, touched, new_rows.localCheckpoint(), key_cols)
        counts[name] = mt.read(spark).count()
        print(f"table {name}: merged {len(buckets)} bucket(s)")
    for name in log_tables:
        path = os.path.join(out_dir, "tables", name)
        add = log_new.get(name)
        if add is not None:
            add.write.mode("append").parquet(path)
        if os.path.exists(path):
            counts[name] = spark.read.parquet(path).count()
    return counts


def arg_parser() -> argparse.ArgumentParser:
    """The command line of main(); tools/replication.py builds its
    append runs from it too."""
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("input")
    ap.add_argument("out_dir")
    ap.add_argument("--append", action="store_true")
    ap.add_argument(
        "--drop", action="store_true",
        help="drop the middle after create (reference --slim --drop); "
        "the result cannot be appended to",
    )
    ap.add_argument("-S", "--style", default=None,
                    help="style: flex .lua config / python style module "
                    "(-O flex) or a .style file (-O pgsql)")
    ap.add_argument("-O", "--output", choices=("flex", "pgsql", "null"),
                    default="flex",
                    help="output backend (reference -O; its historic "
                    "default is pgsql, ours stays flex; null parses "
                    "the input and lands the middle but no tables)")
    # pgsql-output options (command-line-parser.cpp:338-460)
    ap.add_argument("-k", "--hstore", action="store_true",
                    help="add tags without column to a tags hstore column")
    ap.add_argument("-j", "--hstore-all", action="store_true",
                    help="add ALL tags to a tags hstore column")
    ap.add_argument("-z", "--hstore-column", action="append", default=[],
                    metavar="PREFIX", help="add a prefix hstore column")
    ap.add_argument("--hstore-match-only", action="store_true")
    ap.add_argument("-G", "--multi-geometry", action="store_true")
    ap.add_argument("--reproject-area", action="store_true")
    ap.add_argument("-x", "--extra-attributes", action="store_true",
                    help="pass osm_user/osm_uid/osm_version/osm_timestamp/"
                    "osm_changeset pseudo-tags into the transform")
    ap.add_argument("--keep-coastlines", action="store_true")
    ap.add_argument("-p", "--prefix", default="planet_osm",
                    help="pgsql output table-name prefix")
    ap.add_argument("-l", "--latlong", action="store_true",
                    help="store coordinates in WGS84 instead of web mercator")
    ap.add_argument("-m", "--merc", action="store_true",
                    help="store coordinates in web mercator (default)")
    ap.add_argument("-E", "--proj", type=int, default=None, metavar="SRID",
                    help="use projection EPSG:SRID")
    ap.add_argument("--hstore-add-index", action="store_true",
                    help="emit the GIN index DDL the reference creates "
                    "on hstore columns (OUT_DIR/indexes.sql)")
    ap.add_argument("--middle-with-nodes", action="store_true",
                    help="store tagged nodes in the middle (reference "
                    "flag for flat-node-file setups; the parquet middle "
                    "always stores all nodes with tags, so this is "
                    "accepted for command-line compatibility)")
    ap.add_argument("--tag-transform-script", default=None, metavar="LUA",
                    help="legacy Lua tag transform for the pgsql output")
    ap.add_argument("--region-db", default=None,
                    help="DuckDB file serving locator add_from_db queries")
    ap.add_argument("--bbox", default=None, help="minlon,minlat,maxlon,maxlat")
    ap.add_argument(
        "-r", "--input-reader", default="", metavar="FORMAT",
        help="Input format ('xml', 'pbf', 'o5m', 'opl', 'auto' - "
        "autodetect format (default)).")
    ap.add_argument("--expire-tiles", type=int, default=0, metavar="Z")
    ap.add_argument("--expire-output", default=None)
    ap.add_argument(
        "--expire-bbox-size", type=float, default=20000.0, metavar="SIZE",
        help="Max size for a polygon to expire the whole polygon, not "
        "just the boundary (default: 20000).")
    ap.add_argument(
        "--tables-format", choices=("plain", "merge"), default="plain",
        help="output table storage: plain parquet (append rewrites "
        "tables in full) or hash-bucketed merge snapshots (append "
        "rewrites only buckets containing touched ids)")
    ap.add_argument(
        "--pg", default=None, metavar="CONNINFO",
        help="after the parquet write, COPY-load the output tables "
        "into a live PostgreSQL (libpq keyword conninfo, e.g. "
        "'host=/sock/dir port=5432 user=postgres dbname=gis'); the "
        "reference's -d/--database twin")
    ap.add_argument("--schema", default="public", metavar="SCHEMA",
                    help="database schema (default: 'public')")
    ap.add_argument("--middle-schema", default="", metavar="SCHEMA",
                    help="database schema for middle tables "
                    "(default: setting of --schema)")
    ap.add_argument("--output-pgsql-schema", default="", metavar="SCHEMA",
                    help="database schema for output tables "
                    "(default: setting of --schema)")
    ap.add_argument("--number-processes", type=int, default=0)
    return ap


def main() -> None:
    args = arg_parser().parse_args()

    # check_options_expire (command-line-parser.cpp:229-249): clamp
    # the zoom to the 32-bit tile-index limit, and expiry needs the
    # mercator tile grid
    if args.expire_tiles > 31:
        print("Maximum zoom level for tile expiry is too large and "
              "has been set to 31.", file=sys.stderr)
        args.expire_tiles = 31
    if args.expire_tiles and resolve_srid(args) != 3857:
        raise SystemExit(
            "Expire has been enabled (with -e or --expire-tiles) but "
            "target SRS is not Mercator (EPSG:3857)")

    if args.number_processes:
        os.environ["SPARK_GRAFT_CPUS"] = str(args.number_processes)
    from osm2pgsql_spark.session import get_spark

    spark = get_spark("osm2pgsql-import")
    spark.sparkContext.setLogLevel("ERROR")
    if args.append:
        cmd_append(args, spark)
    else:
        cmd_create(args, spark)


if __name__ == "__main__":
    main()
