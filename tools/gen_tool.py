"""Standalone generalization tool — Spark port of osm2pgsql-gen.

Reference: /root/reference/src/gen/osm2pgsql-gen.cpp — runs a named
generalization strategy over imported tables, full-extent or (append
mode) restricted to an expire/dirty tile list, with per-strategy
params.  Strategies here read/write parquet instead of PostGIS
tables; the tile list comes from a z/x/y text file (the expire sink
format) or a parquet (x, y[, zoom]) table.

Usage:
  python tools/gen_tool.py raster-union --input polys.parquet \
      --output out.parquet --zoom 10 [--dirty expire.list] \
      [--resolution 2048] [--close-size 2] [--margin 0.05] \
      [--max-tiles N]
  python tools/gen_tool.py builtup --input layers.parquet \
      --output out.parquet --zoom 10 --buffer landuse=8 --buffer roads=4 \
      [--turdsize 16] [--min-area 0] ...
  python tools/gen_tool.py discrete-isolation --input points.parquet \
      --output out.parquet [--cell 3.0]
  python tools/gen_tool.py tile-sql --input feats.parquet --view feats \
      --sql "SELECT t.x, t.y, count(*) AS n FROM __tiles__ t JOIN feats f
             ON f.x = t.x AND f.y = t.y GROUP BY t.x, t.y" \
      --dirty expire.list --output out.parquet

Inputs: raster-union/builtup expect EPSG:3857 WKB in a `geom` column
(builtup also a `layer` column); discrete-isolation expects
(id, x, y, importance).
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def load_dirty(spark, path: str, zoom: int):
    """Tile list from an expire z/x/y text file or a parquet table.
    Returns (tiles_df, dirty_zoom)."""
    from pyspark.sql import functions as F

    if path.endswith(".parquet"):
        t = spark.read.parquet(path)
        dz = zoom
        if "zoom" in t.columns:
            row = t.select(F.max("zoom").alias("z")).collect()[0]
            dz = int(row["z"])
            t = t.where(F.col("zoom") == dz)
        return t.select("x", "y"), dz
    lines = spark.read.text(path)
    parts = F.split(F.col("value"), "/")
    t = lines.select(
        parts.getItem(0).cast("int").alias("zoom"),
        parts.getItem(1).cast("bigint").alias("x"),
        parts.getItem(2).cast("bigint").alias("y"),
    )
    row = t.selectExpr("max(zoom) AS z").collect()[0]
    dz = int(row["z"])
    return t.where(F.col("zoom") == dz).select("x", "y"), dz


def run_style(args) -> None:
    """--style config.lua mode: load a gen Lua config (reference
    osm2pgsql-gen -S config.lua, src/gen/osm2pgsql-gen.cpp:289-360),
    call its process_gen(), and execute each recorded run_gen
    invocation against parquet tables in --tables-dir (src_table read,
    dest_table written)."""
    from pyspark.sql import functions as F

    from osm2pgsql_spark.operators import gen, raster_union
    from osm2pgsql_spark.operators.vector_union import tile_vector_union
    from osm2pgsql_spark.plans.lua_flex import LuaFlexRuntime
    from osm2pgsql_spark.session import get_spark

    rt = LuaFlexRuntime(open(args.style).read())
    runs = rt.collect_gen_runs()
    if not runs:
        raise SystemExit(f"{args.style} defines no process_gen()/run_gen")
    spark = get_spark("osm2pgsql-gen")
    for strategy, opts in runs:
        name = opts.get("name") or opts.get("dest_table") or strategy
        if strategy == "sql":
            # run_sql: execute against temp views of the table dir
            for t in os.listdir(args.tables_dir):
                p = os.path.join(args.tables_dir, t)
                if os.path.isdir(p):
                    spark.read.parquet(p).createOrReplaceTempView(t)
            spark.sql(opts["sql"])
            print(f"ran sql step {opts.get('description', '')!r}")
            continue
        src_path = os.path.join(args.tables_dir, str(opts["src_table"]))
        dest_path = os.path.join(args.tables_dir, str(opts["dest_table"]))
        feats = spark.read.parquet(src_path)
        gcol = str(opts.get("geom_column") or "geom")
        if gcol != "geom":
            feats = feats.withColumnRenamed(gcol, "geom")
        zoom = int(opts.get("zoom") or args.zoom)
        margin = float(opts.get("margin") or 0.0)
        if args.dirty:
            dirty, dz = load_dirty(spark, args.dirty, zoom)
            tiles = gen.tiles_to_process(
                zoom, dirty_tiles=dirty, dirty_zoom=dz,
                max_tiles_per_run=args.max_tiles)
        else:
            tiles = gen.tiles_to_process(zoom, features=feats, wkb_col="geom")
        if strategy == "raster-union":
            cut = gen.cut_to_dirty_tiles(
                feats, zoom, tiles, margin=margin, wkb_col="geom")
            out = raster_union.tile_raster_union(
                cut, zoom, resolution=args.resolution,
                close_size=args.close_size, margin=margin)
        elif strategy == "vector-union":
            out = tile_vector_union(
                feats, zoom, margin=margin,
                group_by=opts.get("group_by"),
                tiles=tiles if args.dirty else None)
        else:
            raise SystemExit(
                f"run_gen strategy {strategy!r} is not supported in "
                "--style mode (raster-union, vector-union, sql are)")
        out.write.mode("overwrite").parquet(dest_path)
        n = spark.read.parquet(dest_path).count()
        print(f"gen {name}: wrote {n} rows to {dest_path}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "strategy",
        choices=[
            "raster-union", "builtup", "discrete-isolation", "tile-sql",
            "vector-union", "rivers", "style",
        ],
    )
    ap.add_argument("--style", help="style mode: gen Lua config path")
    ap.add_argument("--tables-dir",
                    help="style mode: directory of per-table parquet dirs")
    ap.add_argument("--input")
    ap.add_argument("--output")
    ap.add_argument("--zoom", type=int, default=10)
    ap.add_argument("--dirty", help="expire z/x/y list or parquet tile table")
    ap.add_argument("--max-tiles", type=int, default=0)
    ap.add_argument("--resolution", type=int, default=2048)
    ap.add_argument("--close-size", type=int, default=0)
    ap.add_argument("--margin", type=float, default=0.0)
    ap.add_argument("--buffer", action="append", default=[],
                    help="builtup per-layer buffer px, LAYER=N")
    ap.add_argument("--turdsize", type=int, default=0)
    ap.add_argument("--min-area", type=float, default=0.0)
    ap.add_argument("--cell", type=float, default=3.0)
    ap.add_argument("--view", help="tile-sql: view name for the input table")
    ap.add_argument("--sql", help="tile-sql: query over __tiles__ + views")
    ap.add_argument("--buffer-size", type=float, default=10.0,
                    help="vector-union: ST_Buffer distance (meters)")
    ap.add_argument("--quad-segs", type=int, default=4,
                    help="vector-union: circle approximation segments/quadrant")
    ap.add_argument("--group-by", help="vector-union: per-tile group column")
    ap.add_argument("--areas", help="rivers: waterway areas parquet "
                    "(area_geom WKB, width) for width-from-areas")
    ap.add_argument("--grid-cell", type=float, default=None,
                    help="rivers: spatial grid cell (m) for the "
                    "line/area pairing join (default: broadcast areas)")
    ap.add_argument("--pg", metavar="CONNINFO",
                    help="raster-union: also write PNG tile tables to "
                    "a live PostgreSQL server (libpq conninfo)")
    ap.add_argument("--img-table",
                    help="raster-union --pg: tile table prefix; writes "
                    "<prefix>_i (input canvas) and <prefix>_o (output "
                    "canvas) like gen-tile-raster.cpp:62-76")
    args = ap.parse_args()

    if args.strategy == "style":
        if not (args.style and args.tables_dir):
            raise SystemExit("style mode needs --style and --tables-dir")
        run_style(args)
        return
    if not (args.input and args.output):
        raise SystemExit("--input and --output are required")

    from osm2pgsql_spark.operators import gen, isolation, raster_union, tile_sql
    from osm2pgsql_spark.session import get_spark

    spark = get_spark("osm2pgsql-gen")
    feats = spark.read.parquet(args.input)

    if args.strategy == "discrete-isolation":
        out = isolation.grid(feats, cell=args.cell)
        out.write.mode("overwrite").parquet(args.output)
        print(f"wrote {out.count()} isolation rows to {args.output}")
        return

    if args.strategy == "rivers":
        # reference gen-rivers (src/gen/gen-rivers.cpp:180-260): width
        # from areas onto segments, downstream max-width propagation,
        # degree-2 chain contraction.  Input: either a ready edge table
        # (edge_id, x1, y1, x2, y2, width[, length, name]) or
        # (geom WKB linestring, width[, name]) which is exploded into
        # segment edges here.
        from pyspark.sql import functions as F

        from osm2pgsql_spark.operators.line_in_polygon import width_from_areas
        from osm2pgsql_spark.operators.rivers import (
            contract_chains, merge_chains, propagate_width,
        )

        if "x1" not in feats.columns:
            import pandas as pd

            from osm2pgsql_spark.functions import geometry as G

            has_name = "name" in feats.columns
            lines = feats.select(
                # edge ids are (partition_id << 40) | per-partition
                # counter: unique at any row count up to 2^23 partitions
                # x 2^40 segments each, with no overflow — the previous
                # monotonically_increasing_id()*100000 scheme went
                # negative past ~10,700 partitions (ADVICE r6).
                F.spark_partition_id().cast("long").alias("pid"),
                "geom",
                F.col("width").cast("double").alias("width"),
                (F.col("name") if has_name else F.lit(None).cast("string")).alias("name"),
            )

            def explode_segments(it):
                seg_counter = 0
                for pdf in it:
                    rows = []
                    for _, row in pdf.iterrows():
                        g = G.from_wkb(bytes(row["geom"])) if row["geom"] is not None else None
                        if g is None or g[0] != "linestring":
                            continue
                        pts = g[1]
                        for i in range(len(pts) - 1):
                            seg_counter += 1
                            rows.append({
                                "edge_id": (int(row["pid"]) << 40) | seg_counter,
                                "x1": float(pts[i][0]), "y1": float(pts[i][1]),
                                "x2": float(pts[i + 1][0]), "y2": float(pts[i + 1][1]),
                                "width": float(row["width"]) if pd.notna(row["width"]) else 0.0,
                                "name": row["name"],
                            })
                    yield pd.DataFrame(
                        rows,
                        columns=["edge_id", "x1", "y1", "x2", "y2", "width", "name"],
                    )

            feats = lines.mapInPandas(
                explode_segments,
                "edge_id bigint, x1 double, y1 double, x2 double, y2 double, "
                "width double, name string",
            )
        if "length" not in feats.columns:
            feats = feats.withColumn(
                "length",
                F.sqrt((F.col("x2") - F.col("x1")) ** 2 + (F.col("y2") - F.col("y1")) ** 2),
            )
        if "name" not in feats.columns:
            feats = feats.withColumn("name", F.lit(None).cast("string"))
        if args.areas:
            from osm2pgsql_spark.operators.assembly import pts_to_linestring_wkb
            areas = spark.read.parquet(args.areas)
            lines = feats.select(
                "edge_id",
                pts_to_linestring_wkb(F.array(
                    F.struct(F.col("x1").alias("x"), F.col("y1").alias("y")),
                    F.struct(F.col("x2").alias("x"), F.col("y2").alias("y")),
                )).alias("geom"),
            )
            w = width_from_areas(lines, areas, grid_cell=args.grid_cell)
            feats = feats.drop("width").join(w, "edge_id", "left").withColumn(
                "width", F.coalesce(F.col("width"), F.lit(0.0))
            )
        out = merge_chains(contract_chains(propagate_width(feats))).select(
            "chain_id", "edge_id", "name", "length", "width",
            F.size("member_edges").alias("n_segments"),
        )
        out.write.mode("overwrite").parquet(args.output)
        print(f"wrote {spark.read.parquet(args.output).count()} river chains to {args.output}")
        return

    if args.dirty:
        dirty, dz = load_dirty(spark, args.dirty, args.zoom)
        tiles = gen.tiles_to_process(
            args.zoom, dirty_tiles=dirty, dirty_zoom=dz,
            max_tiles_per_run=args.max_tiles,
        )
    elif args.strategy != "tile-sql":
        tiles = gen.tiles_to_process(args.zoom, features=feats, wkb_col="geom")
    else:
        tiles = None

    if args.strategy == "vector-union":
        from osm2pgsql_spark.operators.vector_union import tile_vector_union

        out = tile_vector_union(
            feats, args.zoom, buffer_size=args.buffer_size,
            margin=args.margin, group_by=args.group_by,
            quad_segs=args.quad_segs,
            tiles=tiles if args.dirty else None,
        )
        out.write.mode("overwrite").parquet(args.output)
        print(f"wrote {spark.read.parquet(args.output).count()} dissolved polygons to {args.output}")
        return

    if args.strategy == "tile-sql":
        if not (args.view and args.sql):
            raise SystemExit("tile-sql needs --view and --sql")
        feats.createOrReplaceTempView(args.view)
        if tiles is None:
            raise SystemExit("tile-sql needs --dirty (the tile list)")
        out = tile_sql.run_tile_sql_vectorized(spark, args.sql, tiles)
        out.write.mode("overwrite").parquet(args.output)
        print(f"wrote {out.count()} tile-sql rows to {args.output}")
        return

    if args.strategy == "raster-union":
        cut = gen.cut_to_dirty_tiles(
            feats, args.zoom, tiles, margin=args.margin, wkb_col="geom"
        )
        out = raster_union.tile_raster_union(
            cut, args.zoom, resolution=args.resolution,
            close_size=args.close_size, margin=args.margin,
        )
        if args.pg and args.img_table:
            # the reference's raster tile tables (img_table param,
            # src/gen/gen-tile-raster.cpp:62-76): <prefix>_i holds the
            # drawn input canvas (all cut features ORed per tile),
            # <prefix>_o the processed output canvas — here PNG bytes
            # in a bytea `rast` column (no PostGIS RASTER type in this
            # environment), loaded via the exactly-once COPY path
            from osm2pgsql_spark.sinks.pg_live import (
                parse_conninfo, pg_load_tables,
            )
            from osm2pgsql_spark.sinks.png import render_raster_tiles

            dsn = parse_conninfo(args.pg)
            out = out.localCheckpoint(eager=True)  # consumed twice
            png_tables = {
                f"{args.img_table}_i": render_raster_tiles(
                    cut, args.zoom, resolution=args.resolution),
                f"{args.img_table}_o": render_raster_tiles(
                    out, args.zoom, resolution=args.resolution),
            }
            counts = pg_load_tables(png_tables, dsn)
            for t, n in counts.items():
                print(f"gen raster: wrote {n} tiles to {t}")
    else:  # builtup
        buffers = {}
        for spec in args.buffer:
            layer, _, n = spec.partition("=")
            buffers[layer] = int(n or 0)
        # the cut kernel drops extra columns, so cut per layer and
        # re-attach the layer literal
        from pyspark.sql import functions as F

        parts = []
        for layer in [r["layer"] for r in feats.select("layer").distinct().collect()]:
            c = gen.cut_to_dirty_tiles(
                feats.where(F.col("layer") == layer), args.zoom, tiles,
                margin=args.margin, wkb_col="geom",
            )
            parts.append(c.withColumn("layer", F.lit(layer)))
        cut = parts[0]
        for p in parts[1:]:
            cut = cut.unionByName(p)
        out = raster_union.tile_builtup(
            cut, args.zoom, buffer_sizes=buffers, resolution=args.resolution,
            turdsize=args.turdsize, min_area=args.min_area, margin=args.margin,
        )
    out.write.mode("overwrite").parquet(args.output)
    print(f"wrote {spark.read.parquet(args.output).count()} rows to {args.output}")


if __name__ == "__main__":
    main()
