"""The traced run (``--trace 1``): per-layer numbers for one unit.

After set-up (which includes the warm-up), the engine's public
functions are wrapped (see ``install``) and one unit runs inside a root
span: the same unit that ``--trace 0`` times as ``wall_s``, so the
layer self times account for that wall.  The roll-up gives each layer's
self time, Spark jobs and tasks, shuffle and spill bytes and the
Python-worker SQL metrics of the work it launched.  Counters that need
a Spark action (row counts) run after the unit, outside every span, so
the traced unit runs the same Spark work as the untraced one; the
tracer's own cost inside the unit (job-group calls, reading results,
the middle copies on ``append``) is reported as ``trace.overhead_s``.
The geometry kernels are then timed directly on a fixed WKB batch, and
the workload's output check runs.  Every span and the check's outcome
are written to ``perfbench/out/`` as JSON.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time

from spans import Tracer, write_json

def per_layer_names() -> list[str]:
    """The per-layer metrics the benchmark reports (BENCHMARK.json)."""
    import bench

    names = [
        "session.jobs", "session.tasks",
        "sources.read_s", "sources.objects", "sources.bytes_in",
        "plans.style_s", "plans.rows_out",
        "streaming.middle_write_s", "streaming.middle_merge_s",
        "streaming.buckets_rewritten", "streaming.buckets_total",
        "streaming.affected_s", "streaming.diff_objects", "streaming.touched_objects",
        "operators.self_s", "operators.shuffle_bytes", "operators.spill_bytes",
        "operators.expire_s", "operators.dirty_tiles",
        "functions.python_init_s", "functions.python_run_s", "functions.python_bytes",
        "functions.batch_length_s", "functions.batch_centroid_xy_s",
        "functions.batch_spherical_area_sphere_s", "functions.batch_transform_3857_s",
        "functions.tiles_for_geometry_s",
        "sinks.table_write_s", "sinks.rows_written", "sinks.bytes_written",
        "queries.self_s",
        "trace.wall_s", "trace.unattributed_s", "trace.overhead_s",
        "env.steal_s",
    ]
    names += [f"queries.{q}_s" for q in bench.HEADLINE + bench.HEAVY]
    return names


def _file_objects(path: str) -> int:
    with open(path, "rb") as fh:
        data = fh.read()
    if path.endswith(".osc"):
        return data.count(b" version=")
    return sum(1 for line in data.splitlines() if line[:1] in (b"n", b"w", b"r"))


def _du(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


class MiddleSnapshots:
    """The middle as each ``cmd_append`` call found it.

    ``cmd_append`` rewrites middle buckets in place, so a DataFrame it
    built over the old middle cannot be counted after the unit.  Before
    each call the middle directory is copied (a ``trace`` span, part of
    ``trace.overhead_s``); the deferred counters of call k run with
    copy k put back in place (``enter``), and ``restore`` puts the live
    middle back.  Copies keep file names and times, so the file
    listings the DataFrames hold stay valid."""

    def __init__(self, work: str) -> None:
        self.root = os.path.join(work, "middle-snapshots")
        self.calls: list[tuple[str, str]] = []  # (live middle, copy)
        self.parked: str | None = None

    def wrap_append(self, tr: Tracer, tool) -> None:
        orig = tool.cmd_append

        def cmd_append(args, spark):
            with tr.span("snapshot:middle", "trace"):
                live = os.path.join(args.out_dir, "middle")
                copy = os.path.join(self.root, str(len(self.calls)))
                shutil.copytree(live, copy)
                self.calls.append((live, copy))
            tr.epoch = len(self.calls)
            return orig(args, spark)

        tool.cmd_append = cmd_append
        tr._patched.append((tool, "cmd_append", orig))

    def enter(self, epoch: int) -> None:
        if epoch == 0 or not self.calls:
            return
        live, copy = self.calls[epoch - 1]
        if self.parked is None:
            self.parked = os.path.join(self.root, "live")
            os.rename(live, self.parked)
        shutil.rmtree(live, ignore_errors=True)
        shutil.copytree(copy, live)

    def restore(self) -> None:
        if self.parked is not None:
            live = self.calls[0][0]
            shutil.rmtree(live, ignore_errors=True)
            os.rename(self.parked, live)
            self.parked = None
        shutil.rmtree(self.root, ignore_errors=True)


def install(tr: Tracer, wl, snapshots: MiddleSnapshots) -> None:
    """Wrap the public entry points of each layer that the unchanged
    cmd_create / cmd_append / query functions call."""
    import examples.generic_import as gi
    from osm2pgsql_spark import queries as Q
    from osm2pgsql_spark.operators import (ann, assembly, dedup, isolation,
                                           locator, reverse_deps)
    from osm2pgsql_spark.plans import flex
    from osm2pgsql_spark.sinks import writers
    from osm2pgsql_spark.sources import opl, osm_synth, osm_xml, testdata
    from osm2pgsql_spark.streaming import append, merge_sink

    # counters that read a file or run a Spark action are deferred
    # until after the traced unit (Tracer.defer); the rest read the
    # call's result in place
    def read_counts(t, args, _kw, _res):
        path = args[1]

        def later(t):
            t.count("sources.objects", _file_objects(path))
            t.count("sources.bytes_in", os.path.getsize(path))
        t.defer(later)

    def table_counts(t, args, _kw, _res):
        path = os.path.join(args[1], f"{args[2]}.parquet")

        def later(t):
            import pyarrow.parquet as pq

            t.count("sources.objects", pq.ParquetFile(path).metadata.num_rows)
            t.count("sources.bytes_in", os.path.getsize(path))
        t.defer(later)

    tr.wrap(opl, "read_opl", "sources.read_opl", "sources", read_counts)
    tr.wrap(osm_xml, "read_osc_xml", "sources.read_osc_xml", "sources", read_counts)
    for mod in (testdata, Q, osm_synth):
        tr.wrap(mod, "load_table", "sources.load_table", "sources", table_counts)

    # rows of each output DataFrame that _write_tables wrote, by id
    # (the DataFrame is kept so that its id is not reused)
    written_rows: dict[int, tuple] = {}

    def style_rows(t, _args, _kw, res):
        frames = list(res.values())

        def later(t):
            t.count("plans.rows_out", sum(
                written_rows[id(df)][1] if id(df) in written_rows else df.count()
                for df in frames))
        t.defer(later)

    tr.wrap(gi, "generic_import", "plans.generic_import", "plans", style_rows)
    tr.wrap(flex.FlexConfig, "run", "plans.FlexConfig.run", "plans")

    def affected(t, args, _kw, res):
        diffs = [d for d in args[:3] if d is not None]
        sets = (res.changed_nodes, res.changed_ways, res.changed_rels,
                res.pending_ways, res.pending_rels)

        def later(t):
            t.count("streaming.diff_objects", sum(d.count() for d in diffs))
            t.count("streaming.touched_objects", sum(d.count() for d in sets))
        t.defer(later)

    def buckets(t, args, _kw, res):
        t.count("streaming.buckets_rewritten", len(res))
        t.count("streaming.buckets_total", args[0].num_buckets)

    tr.wrap(append, "apply_diff", "streaming.apply_diff", "streaming")
    tr.wrap(append, "affected_ids", "streaming.affected_ids", "streaming", affected)
    tr.wrap(merge_sink.ParquetMergeTable, "write_full",
            "streaming.middle_write", "streaming")
    tr.wrap(merge_sink.ParquetMergeTable, "merge_diff",
            "streaming.middle_merge", "streaming", buckets)

    def expire_lines(t, args, _kw, _res):
        path = args[1]

        def later(t):
            with open(path, encoding="utf-8") as fh:
                t.count("operators.dirty_tiles", sum(1 for line in fh if line.strip()))
        t.defer(later)

    tool = getattr(wl, "tool", None)
    if tool is not None:
        tr.wrap(tool, "expire_tiles_of", "operators.expire_tiles_of", "operators")

        def written(t, args, _kw, res):
            for name, df in args[0].items():
                written_rows[id(df)] = (df, res[name])
            t.count("sinks.rows_written", sum(res.values()))
            t.count("sinks.bytes_written", _du(os.path.join(args[1], "tables")))

        tr.wrap(tool, "_write_tables", "sinks.write_tables", "sinks", written)
        snapshots.wrap_append(tr, tool)
    tr.wrap(writers, "write_expire_file", "operators.write_expire_file",
            "operators", expire_lines)
    # the operator modules the analytics queries call through
    for mod in (ann, assembly, dedup, isolation, locator, reverse_deps):
        for name, fn in list(vars(mod).items()):
            if (not name.startswith("_") and callable(fn) and not isinstance(fn, type)
                    and getattr(fn, "__module__", None) == mod.__name__):
                tr.wrap(mod, name, f"operators.{mod.__name__.rsplit('.', 1)[1]}.{name}",
                        "operators")

    if hasattr(wl, "run_query"):
        inner = wl.run_query

        def run_query(name):
            with tr.span(f"queries.{name}", "queries"):
                return inner(name)

        wl.run_query = run_query


def kernel_batch(n: int = 2000) -> list:
    """A fixed batch of EPSG:4326 WKB geometries: the linestrings and
    polygons an import of a fixed generator extract outputs (its way
    geometries), the same for every workload and seed."""
    import struct

    import gen

    w = gen.OsmWorld(0, 100)
    out = []
    for way in sorted(w.ways.values(), key=lambda o: o.id):
        pts = [(w.nodes[r].lon, w.nodes[r].lat) for r in way.refs]
        flat = [c for p in pts for c in p]
        if way.refs[0] == way.refs[-1] and len(pts) >= 4:
            out.append(struct.pack(f"<BIII{len(flat)}d", 1, 3, 1, len(pts), *flat))
        else:
            out.append(struct.pack(f"<BII{len(flat)}d", 1, 2, len(pts), *flat))
    return out[:n]


def time_kernels(batch: list, reps: int = 5) -> dict:
    """Median wall of each kernel over the whole batch: the planar and
    expiry kernels on EPSG:3857 input, the spherical ones on 4326."""
    import pandas as pd

    from osm2pgsql_spark.functions import geombatch as GB
    from osm2pgsql_spark.functions.geometry import from_wkb
    from osm2pgsql_spark.operators.expire import ExpireConfig, tiles_for_geometry

    geo = pd.Series(batch, dtype=object)
    merc = GB.batch_transform_3857(geo)
    cfg = ExpireConfig(maxzoom=14, buffer=0.1, mode="hybrid", full_area_limit=20000.0)

    def tiles(v):
        for w in v:
            tiles_for_geometry(from_wkb(w), cfg)

    out = {}
    for name, fn, arg in (("batch_length", GB.batch_length, merc),
                          ("batch_centroid_xy", GB.batch_centroid_xy, merc),
                          ("batch_spherical_area_sphere", GB.batch_spherical_area_sphere, geo),
                          ("batch_transform_3857", GB.batch_transform_3857, geo),
                          ("tiles_for_geometry", tiles, merc)):
        samples = []
        for _ in range(reps):
            t0 = time.perf_counter()
            fn(arg)
            samples.append(time.perf_counter() - t0)
        out[f"functions.{name}_s"] = statistics.median(samples)
    return out


def run(wl, args, jvm, out_dir: str) -> dict:
    import bench

    tr = Tracer(wl.spark, f"{args.workload}-{args.seed}")
    snapshots = MiddleSnapshots(wl.work)
    install(tr, wl, snapshots)
    b0, s0, _ = bench._cpu_snap(jvm)
    try:
        with tr.span("run", "run"):
            wl.unit()
    finally:
        tr.unwrap_all()
    b1, s1, _ = bench._cpu_snap(jvm)
    roll = tr.rollup()
    # the deferred counters run now, outside every span, so their Spark
    # jobs are attributed to no layer
    try:
        tr.run_deferred(snapshots.enter)
    finally:
        snapshots.restore()
    roll["counters"] = dict(tr.counters)

    m: dict[str, float] = {name: 0.0 for name in per_layer_names()}
    m.update((k, v) for k, v in roll["counters"].items() if k in m)
    # inclusive time per span name, and per layer over its outermost spans
    layer_of = {s["id"]: s["layer"] for s in roll["spans"]}
    span_time: dict[str, float] = {}
    outer_time: dict[str, float] = {}
    for s in roll["spans"]:
        dt = s["end"] - s["start"]
        span_time[s["name"]] = span_time.get(s["name"], 0.0) + dt
        if layer_of.get(s["parent"]) != s["layer"]:
            outer_time[s["layer"]] = outer_time.get(s["layer"], 0.0) + dt
    m["sources.read_s"] = outer_time.get("sources", 0.0)
    m["plans.style_s"] = outer_time.get("plans", 0.0)
    m["streaming.middle_write_s"] = span_time.get("streaming.middle_write", 0.0)
    m["streaming.middle_merge_s"] = span_time.get("streaming.middle_merge", 0.0)
    m["streaming.affected_s"] = span_time.get("streaming.affected_ids", 0.0)
    m["operators.expire_s"] = (span_time.get("operators.expire_tiles_of", 0.0)
                               + span_time.get("operators.write_expire_file", 0.0))
    m["sinks.table_write_s"] = span_time.get("sinks.write_tables", 0.0)
    m["operators.self_s"] = roll["self_s"].get("operators", 0.0)
    m["queries.self_s"] = roll["self_s"].get("queries", 0.0)
    for k, v in span_time.items():
        if k.startswith("queries.") and f"{k}_s" in m:
            m[f"{k}_s"] = v
    stages = roll["stages"]
    m["session.jobs"] = sum(v for k, v in roll["jobs"].items() if k != "trace")
    m["session.tasks"] = sum(v.get("tasks", 0) for k, v in stages.items() if k != "trace")
    work = {k: v for k, v in stages.items() if k != "trace"}

    def wsum(key):
        return sum(v.get(key, 0) for v in work.values())

    m["operators.shuffle_bytes"] = wsum("shuffle_write_bytes")
    m["operators.spill_bytes"] = wsum("spill_bytes")
    m["functions.python_init_s"] = wsum("python_boot_s") + wsum("python_init_s")
    m["functions.python_run_s"] = wsum("python_run_s")
    m["functions.python_bytes"] = wsum("python_bytes_sent") + wsum("python_bytes_recv")
    m["trace.wall_s"] = roll["wall_s"]
    m["trace.unattributed_s"] = roll["unattributed_s"]
    # what tracing adds to the wall: the bookkeeping spans plus opening
    # and closing spans (job-group calls into the JVM)
    overhead = roll["self_s"].get("trace", 0.0) + tr.own_s
    m["trace.overhead_s"] = overhead
    m["env.steal_s"] = s1 - s0
    m.update(time_kernels(kernel_batch()))

    payload = {
        "workload": args.workload, "seed": args.seed,
        "traced_wall_s": roll["wall_s"],
        "tracing_overhead_s": overhead,
        "span_bookkeeping_s": tr.own_s,
        "self_s": roll["self_s"],
        "self_s_sum": sum(roll["self_s"].values()),
        "jobs_by_layer": roll["jobs"],
        "stages_by_layer": stages,
        "counters": roll["counters"],
        "span_time_s": span_time,
        "busy_cpu_s": b1 - b0,
        "metrics": m,
        "spans": roll["spans"],
    }
    wl.check()
    payload.update(correct=wl.failed == 0, attempted=wl.attempted, failed=wl.failed)
    path = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json")
    write_json(path, payload)
    print(f"# trace written to {os.path.relpath(path)}", file=sys.stderr)
    for layer, v in sorted(roll["self_s"].items()):
        print(f"self_s.{layer} {v:.6g} s", file=sys.stderr)
    for k, v in sorted(roll["counters"].items()):
        print(f"{k} {v:.6g} {'B' if 'bytes' in k else 'count'}", file=sys.stderr)
    return m

