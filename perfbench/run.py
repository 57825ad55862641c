#!/usr/bin/env python3
"""Benchmark of the osm2pgsql_spark engine: import, append, analytics.

  python3 perfbench/run.py --workload import|append|analytics \\
      --seed N --seconds S --trace 0|1

Run from the root of a checkout.  One Spark session on
``local[<cpus this process may use>]``, driven from this single client
process (a closed loop with one client: the next operation starts when
the previous one has returned).  Inputs are generated from ``--seed``
into ``perfbench/.work`` (removed at exit).  The last line of stdout is
one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``); lines before it print the same figures
and the workload-specific ones by name, with units.  See
perfbench/README.md for what each workload and metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, "out")

# input sizes (fixed per workload; the seed changes content, not size),
# measured to fit 22 runs of each workload in the time budget
# (README "Sizing")
IMPORT_GRID = 300          # ~108k OPL objects
WARM_GRID = 30             # ~1.1k objects: the import warm-up in set-up
APPEND_GRID = 60           # ~4.3k objects in the base database
APPEND_DIFFS = 2
APPEND_MOVES = 6           # node moves per diff
ANALYTICS_SF = 0.005       # lineitem ~30k rows
EXPIRE_ZOOM = 14

END_TO_END_UNITS = {"setup_s": "s", "wall_s": "s", "cpu_s": "s"}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def engine_present() -> bool:
    return all(os.path.exists(os.path.join(ROOT, p)) for p in
               ("osm2pgsql_spark/session.py", "tools/import_tool.py",
                "tools/check_correctness.py", "examples/generic_import.py",
                "bench.py"))


def load_tool(name: str):
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        name, os.path.join(ROOT, "tools", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def tool_args(inp: str, out: str, **over) -> argparse.Namespace:
    """import_tool's command-line defaults (tools/import_tool.py main)."""
    base = dict(
        input=inp, out_dir=out, append=False, drop=False, style=None,
        output="flex", hstore=False, hstore_all=False, hstore_column=[],
        hstore_match_only=False, multi_geometry=False, reproject_area=False,
        extra_attributes=False, keep_coastlines=False, prefix="planet_osm",
        latlong=False, merc=False, proj=None, hstore_add_index=False,
        middle_with_nodes=False, tag_transform_script=None, region_db=None,
        input_reader="", bbox=None, expire_tiles=0, expire_output=None,
        expire_bbox_size=20000.0, refresh="auto", tables_format="plain",
        pg=None, schema="public", middle_schema="", output_pgsql_schema="",
        number_processes=0)
    base.update(over)
    return argparse.Namespace(**base)


def quiet(fn, *args):
    """Run fn with its stdout lines (import_tool's per-table report)
    sent to stderr, so stdout carries only the benchmark's lines."""
    import contextlib

    with contextlib.redirect_stdout(sys.stderr):
        return fn(*args)


def tile_of(lon: float, lat: float, z: int) -> tuple[int, int]:
    import math

    n = 2 ** z
    x = int((lon + 180.0) / 360.0 * n)
    r = math.radians(lat)
    y = int((1.0 - math.log(math.tan(r) + 1.0 / math.cos(r)) / math.pi) / 2.0 * n)
    return x, y


# ------------------------------------------------------------ workloads

class Workload:
    """setup() once (input generation; on import and append also a
    first import, which warms the session up), then unit() (timed by
    the caller), then check() outside the timed region."""

    def __init__(self, spark, seed: int, work: str) -> None:
        self.spark = spark
        self.seed = seed
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.extra: dict[str, tuple[list[float], str]] = {}

    def note(self, name: str, value: float, unit: str) -> None:
        """A per-unit figure printed by name (median over the units)."""
        self.extra.setdefault(name, ([], unit))[0].append(value)

    def fail(self, what: str) -> None:
        self.failed += 1
        log(f"# FAILED: {what}")


class ImportWorkload(Workload):
    """cmd_create of the seeded extract (generic style, plain tables)."""

    def setup(self) -> None:
        """Generate the extract, then import a small extract of the same
        generator once: the first import of a session pays the JVM's
        and the Python workers' start-up, which the timed import
        should not."""
        import gen

        self.inputs = os.path.join(self.work, "in")
        self.manifest = gen.write_osm_inputs(self.seed, IMPORT_GRID, 0, 0, self.inputs)
        self.tool = load_tool("import_tool")
        warm = os.path.join(self.work, "warm")
        gen.write_osm_inputs(self.seed, WARM_GRID, 0, 0, warm)
        quiet(self.tool.cmd_create, tool_args(
            os.path.join(warm, "base.opl"), os.path.join(warm, "db")), self.spark)

    def unit(self) -> dict:
        db = self.db_dir()
        shutil.rmtree(db, ignore_errors=True)
        t0 = time.perf_counter()
        try:
            quiet(self.tool.cmd_create, tool_args(
                os.path.join(self.inputs, "base.opl"), db), self.spark)
        except Exception as ex:  # noqa: BLE001
            self.fail(f"cmd_create: {type(ex).__name__}: {ex}")
        self.attempted += 1
        dt = time.perf_counter() - t0
        self.note("objects_per_s", self.manifest["objects"] / dt, "1/s")
        return {"wall": dt, "ops": [dt]}

    def check_tables(self, db: str, expected: dict) -> None:
        for name, want in sorted(expected.items()):
            self.attempted += 1
            try:
                got = self.spark.read.parquet(os.path.join(db, "tables", name)).count()
            except Exception as ex:  # noqa: BLE001
                self.fail(f"table {name}: {ex}")
                continue
            if got != want:
                self.fail(f"table {name}: {got} rows, generator expects {want}")

    def check(self) -> None:
        self.check_tables(self.db_dir(), self.manifest["expected_rows"])

    def db_dir(self) -> str:
        return os.path.join(self.work, "db")


class AppendWorkload(ImportWorkload):
    """A seeded .osc sequence folded into a restored base database by
    cmd_append --expire-tiles 14."""

    def setup(self) -> None:
        """Generate the base extract and the diffs, and import the base
        (which also warms the session up)."""
        import gen

        self.inputs = os.path.join(self.work, "in")
        self.manifest = gen.write_osm_inputs(
            self.seed, APPEND_GRID, APPEND_DIFFS, APPEND_MOVES, self.inputs)
        self.tool = load_tool("import_tool")
        self.pristine = os.path.join(self.work, "pristine")
        quiet(self.tool.cmd_create, tool_args(
            os.path.join(self.inputs, "base.opl"), self.pristine), self.spark)
        self.check_tables(self.pristine, self.manifest["expected_rows"])

    def unit(self) -> dict:
        db = self.db_dir()
        shutil.rmtree(db, ignore_errors=True)
        shutil.copytree(self.pristine, db)
        ops = []
        t_all = time.perf_counter()
        for k, d in enumerate(self.manifest["diffs"]):
            t0 = time.perf_counter()
            try:
                quiet(self.tool.cmd_append, tool_args(
                    d["path"], db, append=True, expire_tiles=EXPIRE_ZOOM,
                    expire_output=os.path.join(db, f"dirty_{k:03d}.list")), self.spark)
            except Exception as ex:  # noqa: BLE001
                self.fail(f"cmd_append {os.path.basename(d['path'])}: "
                          f"{type(ex).__name__}: {ex}")
            self.attempted += 1
            ops.append(time.perf_counter() - t0)
        return {"wall": time.perf_counter() - t_all, "ops": ops}

    def check(self) -> None:
        db = self.db_dir()
        self.check_tables(db, self.manifest["post_expected_rows"])
        # the update invariant: tables after the diff sequence equal a
        # fresh import of the post-diff state
        fresh = os.path.join(self.work, "fresh")
        quiet(self.tool.cmd_create, tool_args(
            os.path.join(self.inputs, "post.opl"), fresh), self.spark)
        for name in sorted(self.manifest["post_expected_rows"]):
            self.attempted += 1
            a = self.spark.read.parquet(os.path.join(db, "tables", name))
            b = self.spark.read.parquet(os.path.join(fresh, "tables", name))
            cols = sorted(a.columns)
            if cols != sorted(b.columns):
                self.fail(f"table {name}: columns {cols} != {sorted(b.columns)}")
                continue
            diff = (a.select(cols).exceptAll(b.select(cols)).count()
                    + b.select(cols).exceptAll(a.select(cols)).count())
            if diff:
                self.fail(f"table {name}: {diff} rows differ from a fresh import")
        # every moved node's old and new tile is in that diff's expire list
        for k, d in enumerate(self.manifest["diffs"]):
            self.attempted += 1
            path = os.path.join(db, f"dirty_{k:03d}.list")
            try:
                with open(path, encoding="utf-8") as fh:
                    tiles = {tuple(int(v) for v in line.split("/")[1:])
                             for line in fh if line.strip()}
            except OSError as ex:
                self.fail(f"expire list {k}: {ex}")
                continue
            missing = [m["id"] for m in d["moves"] for pos in (m["old"], m["new"])
                       if tile_of(*pos, EXPIRE_ZOOM) not in tiles]
            if missing:
                self.fail(f"expire list {k}: moved nodes {missing} not covered")


class AnalyticsWorkload(Workload):
    """One pass of bench.py's HEADLINE + HEAVY queries over a seeded
    corpus, in a seed-permuted order, in a cold session.  Every query
    is oracle-gated, so each is timed to its collected rows, which the
    check hashes (bench.py warms up and times to a count, which it
    does not check; a warm-up pass does not fit a run, see README)."""

    def setup(self) -> None:
        import random

        import bench
        import gen

        self.sf_dir = os.path.join(self.work, "sf")
        gen.write_testdata(self.seed, ANALYTICS_SF, self.sf_dir)
        from osm2pgsql_spark import queries as Q

        self.qs = Q.queries()
        self.oracles = Q.oracle_sql()
        self.headline = list(bench.HEADLINE)
        self.heavy = list(bench.HEAVY)
        self.order = self.headline + self.heavy
        random.Random(self.seed).shuffle(self.order)
        self.results: dict[str, tuple] = {}

    def unit(self) -> dict:
        walls = {}
        t_all = time.perf_counter()
        for name in self.order:
            t0 = time.perf_counter()
            try:
                self.results[name] = self.run_query(name)
            except Exception as ex:  # noqa: BLE001
                self.fail(f"{name}: {type(ex).__name__}: {str(ex)[:300]}")
            self.attempted += 1
            walls[name] = time.perf_counter() - t0
        wall = time.perf_counter() - t_all
        self.note("headline_s", sum(walls[q] for q in self.headline), "s")
        self.note("heavy_s", sum(walls[q] for q in self.heavy), "s")
        return {"wall": wall, "ops": list(walls.values())}

    def run_query(self, name: str):
        df = self.qs[name](self.spark, self.sf_dir)
        return df.columns, [tuple(r) for r in df.collect()]

    def check(self) -> None:
        """Every query's order-insensitive hash equals its DuckDB
        oracle_sql() twin's on the measured corpus
        (tools/check_correctness.py's normalise/hash)."""
        cc = load_tool("check_correctness")
        con = cc.duck_con(self.sf_dir)
        for name, (cols, rows) in sorted(self.results.items()):
            self.attempted += 1
            res = con.execute(self.oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
            if sorted(cols) != sorted(dcols) or len(rows) != len(drows):
                self.fail(f"{name}: spark {sorted(cols)} x {len(rows)} rows, "
                          f"oracle {sorted(dcols)} x {len(drows)} rows")
            elif (cc.value_hash(cc.normalize(rows, cols))
                  != cc.value_hash(cc.normalize(drows, dcols))):
                self.fail(f"{name}: value hash differs from the DuckDB oracle")
        con.close()


WORKLOADS = {"import": ImportWorkload, "append": AppendWorkload,
             "analytics": AnalyticsWorkload}


# ---------------------------------------------------------------- main

def parse() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    # how long the timed units may take (see measure)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def start_spark(work: str):
    """The engine's own session factory, on local[cpus], with every
    scratch path inside the checkout."""
    n = cpus()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(n),
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "2g"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # executors' Python workers import the engine and the generic style
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    })
    from osm2pgsql_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in (it exits when its
    stdin closes), and wait until that process has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def vm_hwm_mb(pid: int | None) -> float:
    if pid is None:
        return 0.0
    with open(f"/proc/{pid}/status", encoding="utf-8") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def measure(wl: Workload, cpu_snap, jvm: int | None, seconds: float) -> dict:
    """Timed units after set-up, each with the machine's busy and steal
    CPU-seconds over it: at least one, and another only while one more
    of the last one's length still fits in ``seconds``.  Returns the
    median unit."""
    units = []
    t0 = time.perf_counter()
    while True:
        b0, s0, _ = cpu_snap(jvm)
        u = wl.unit()
        b1, s1, _ = cpu_snap(jvm)
        units.append({**u, "busy": b1 - b0, "steal": s1 - s0})
        if time.perf_counter() - t0 + u["wall"] > seconds:
            break
    return {"wall": statistics.median(u["wall"] for u in units),
            "busy": statistics.median(u["busy"] for u in units),
            "steal": sum(u["steal"] for u in units),
            "ops": [op for u in units for op in u["ops"]],
            "units": len(units)}


def main() -> int:
    args = parse()
    if not engine_present():
        log("perfbench: the engine sources (osm2pgsql_spark/, tools/, "
            "examples/, bench.py) are not next to perfbench/; run from "
            "the root of a full checkout")
        return 2
    sys.path[:0] = [HERE, ROOT]
    t_proc = time.perf_counter()
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        import bench

        spark = start_spark(work)
        session_s = time.perf_counter() - t_proc
        jvm = bench._jvm_pid()
        wl = WORKLOADS[args.workload](spark, args.seed, work)
        wl.setup()
        setup_s = time.perf_counter() - t_proc
        log(f"# setup_s {setup_s:.3f} s (session {session_s:.3f} s)")
        if args.trace:
            import traced_run

            metrics = traced_run.run(wl, args, jvm, OUT)
            units = {k: layer_unit(k) for k in metrics}
        else:
            m = measure(wl, bench._cpu_snap, jvm, args.seconds)
            metrics = {
                "setup_s": setup_s,
                "wall_s": m["wall"],
                "cpu_s": m["busy"],
            }
            units = END_TO_END_UNITS
            wl.check()
            report_extra(wl, args.workload, m, vm_hwm_mb(jvm))
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    for k, v in metrics.items():
        print(f"{k} {v:.6g} {units[k]}")
    print(json.dumps({
        "correct": wl.failed == 0, "attempted": wl.attempted, "failed": wl.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def report_extra(wl: Workload, workload: str, m: dict, rss_mb: float) -> None:
    """The end-to-end figures that are printed by name but not gated:
    workload-specific, possibly 0, or too noisy to gate."""
    ops = sorted(m["ops"])
    p50 = statistics.median(ops)
    name = {"import": "import_p50_s", "append": "diff_p50_s",
            "analytics": "query_p50_s"}[workload]
    print(f"{name} {p50:.6g} s (n={len(ops)})")
    # a tail percentile only where >= 10 samples lie beyond it
    for q in (0.99, 0.95, 0.9):
        if len(ops) * (1 - q) >= 10:
            print(f"{name.replace('p50', f'p{int(q * 100)}')} "
                  f"{ops[int(q * len(ops))]:.6g} s (n={len(ops)})")
            break
    for k, (vs, unit) in wl.extra.items():
        print(f"{k} {statistics.median(vs):.6g} {unit}")
    print(f"units {m['units']} count")
    print(f"failed_ops {wl.failed} count (attempted {wl.attempted})")
    print(f"peak_rss_mb {rss_mb:.6g} MB")
    print(f"env.steal_s {m['steal']:.6g} s")


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    return "B" if "bytes" in name else "count"


if __name__ == "__main__":
    sys.exit(main())
