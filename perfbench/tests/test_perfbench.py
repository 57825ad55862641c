"""Fast checks of the benchmark's own pieces (no Spark session):

  python -m pytest perfbench/tests -q
"""

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import steadiness  # noqa: E402
from spans import parse_metric  # noqa: E402


def _read(d):
    return {f: open(os.path.join(d, f), "rb").read()
            for f in sorted(os.listdir(d)) if f != "manifest.json"}


def test_osm_inputs_deterministic_by_seed(tmp_path):
    a = gen.write_osm_inputs(7, 30, 3, 4, str(tmp_path / "a"))
    b = gen.write_osm_inputs(7, 30, 3, 4, str(tmp_path / "b"))
    c = gen.write_osm_inputs(8, 30, 3, 4, str(tmp_path / "c"))
    assert _read(tmp_path / "a") == _read(tmp_path / "b")
    assert _read(tmp_path / "a") != _read(tmp_path / "c")
    # the seed changes content, not size
    for key in ("counts", "expected_rows", "post_expected_rows", "post_objects"):
        assert a[key] == b[key] == c[key]
    assert [d["objects"] for d in a["diffs"]] == [d["objects"] for d in c["diffs"]]


def test_diffs_keep_references_whole(tmp_path):
    """After the diff sequence every way ref and relation member still
    exists, so no diff operation can fail on a dangling reference."""
    w = gen.OsmWorld(3, 30)
    kinds = set()
    for _ in range(5):
        xml, moves = w.make_diff(6)
        assert moves
        for op in ("<create>", "<modify>", "<delete>"):
            if op in xml:
                kinds.add(op)
        for way in w.ways.values():
            assert all(r in w.nodes for r in way.refs)
        for rel in w.rels.values():
            pools = {"n": w.nodes, "w": w.ways, "r": w.rels}
            assert all(m[1] in pools[m[0]] for m in rel.members)
    assert kinds == {"<create>", "<modify>", "<delete>"}


def test_extract_has_every_object_kind():
    w = gen.OsmWorld(1, 40)
    rows = w.expected_rows()
    assert all(rows[t] > 0 for t in ("points", "lines", "polygons", "routes", "boundaries"))
    tagged = sum(1 for n in w.nodes.values() if n.tags)
    assert 0 < tagged < len(w.nodes)
    mp = [r for r in w.rels.values() if r.tags.get("type") == "multipolygon"]
    assert mp and all({m[2] for m in r.members} == {"outer", "inner"} for r in mp)


def test_coordinates_survive_both_readers():
    for v in (9.00012345678, 50.123456749, -0.0000001, 179.99999995):
        c = gen._coord(v)
        assert float(f"{c:.7f}") == c
        assert round(c * 1e7) / 1e7 == c


def test_testdata_shapes(tmp_path):
    pq = pytest.importorskip("pyarrow.parquet")
    rows = gen.write_testdata(5, 0.001, str(tmp_path))
    assert rows["lineitem"] == 6000 and rows["region"] == 5
    li = pq.read_table(str(tmp_path / "lineitem.parquet"))
    assert [f.name for f in li.schema] == [
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "l_shipdate"]
    nums = li.column("l_linenumber").to_pylist()
    assert min(nums) == 1 and max(nums) == 7


def test_parse_metric():
    assert parse_metric("total (min, med, max (stageId: taskId))\n1.5 s (0 ms, 1 ms)") == 1.5
    assert parse_metric("12.0 KiB") == 12.0 * 1024
    assert parse_metric("250 ms") == 0.25
    assert parse_metric("total\n3 B (1 B, 1 B, 1 B)") == 3


def test_steadiness_math():
    vals = [10.0, 10.2, 9.8, 10.1, 9.9, 10.0, 10.3, 9.7, 10.0, 10.1]
    assert steadiness.spread(vals) < 0.05
    assert steadiness.worse_by(10.0, 11.0, "lower") == pytest.approx(0.1)
    assert steadiness.worse_by(10.0, 9.0, "higher") == pytest.approx(0.1)
    assert steadiness.worse_by(10.0, 9.0, "lower") < 0


def test_benchmark_json_matches_the_runner():
    root = os.path.dirname(os.path.dirname(HERE))
    with open(os.path.join(root, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    import run
    import traced_run

    assert {m["name"] for m in bench["end_to_end"]} == set(run.END_TO_END_UNITS)
    for m in bench["end_to_end"]:
        assert m["unit"] == run.END_TO_END_UNITS[m["name"]]
    assert [m["name"] for m in bench["per_layer"]] == traced_run.per_layer_names()
    for m in bench["per_layer"]:
        assert m["unit"] == run.layer_unit(m["name"])
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS)


class _FakeSC:
    """Records the job-group calls a Tracer makes."""

    def __init__(self):
        self.groups = []

    def setJobGroup(self, gid, desc):
        self.groups.append(gid)

    def setLocalProperty(self, key, value):
        if key == "spark.jobGroup.id":
            self.groups.append(value)


def test_tracer_wraps_restores_and_nests():
    import time
    import types

    from spans import Tracer

    sc = _FakeSC()
    tr = Tracer(types.SimpleNamespace(sparkContext=sc), "r")
    mod = types.SimpleNamespace(work=lambda n: time.sleep(n) or n)
    orig = mod.work
    tr.wrap(mod, "work", "plans.work", "plans",
            after=lambda t, args, kw, res: t.count("plans.calls", 1))
    with tr.span("run", "run"):
        assert mod.work(0.02) == 0.02
        with tr.span("outer", "sinks"):
            mod.work(0.01)
    tr.unwrap_all()
    assert mod.work is orig
    assert tr.counters == {"plans.calls": 2}
    assert not tr.stack and sc.groups[-1] is None
    by_name = {}
    for s in tr.spans:
        by_name.setdefault(s["name"], []).append(s)
    inner = by_name["plans.work"][1]
    assert inner["parent"] == by_name["outer"][0]["id"]
    outer = by_name["outer"][0]
    assert outer["end"] - outer["start"] >= inner["end"] - inner["start"] >= 0.01
    # counting runs in its own "trace" span, after the wrapped call
    assert [s["layer"] for s in tr.spans].count("trace") == 2
    # the tracer's own bookkeeping is timed, and lies inside the spans
    assert 0 < tr.own_s < by_name["run"][0]["end"] - by_name["run"][0]["start"]


def test_steadiness_gates_every_end_to_end_metric():
    bench = {"end_to_end": [
        {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
        {"name": "wall_s", "unit": "s", "better": "lower", "bound": 0.25}]}

    def runs(setup):
        return [{"workload": "w", "seed": k, "set": 0, "rc": 0,
                 "result": {"correct": True, "failed": 0, "metrics": {
                     "setup_s": {"value": v, "unit": "s"},
                     "wall_s": {"value": 10.0 + k / 100, "unit": "s"}}}}
                for k, v in enumerate(setup)]

    ok, _ = steadiness.evaluate(bench, runs([10.0, 10.1, 9.9, 10.0, 10.2, 9.8]))
    assert ok
    ok, report = steadiness.evaluate(bench, runs([5.0, 15.0, 5.0, 15.0, 5.0, 15.0]))
    assert not ok and "WIDE" in report[-2]


def test_middle_snapshots_enter_and_restore(tmp_path):
    """Deferred counters of call k see the middle as call k found it;
    afterwards the live middle is back."""
    import types

    import traced_run
    from spans import Tracer

    db = tmp_path / "db"
    (db / "middle").mkdir(parents=True)
    state = db / "middle" / "state"
    state.write_text("0")

    def cmd_append(args, spark):
        state.write_text(str(int(state.read_text()) + 1))

    tool = types.SimpleNamespace(cmd_append=cmd_append)
    tr = Tracer(types.SimpleNamespace(sparkContext=_FakeSC()), "r")
    snaps = traced_run.MiddleSnapshots(str(tmp_path / "work"))
    snaps.wrap_append(tr, tool)
    seen = []
    with tr.span("run", "run"):
        for _ in range(3):
            tool.cmd_append(types.SimpleNamespace(out_dir=str(db)), None)
            tr.defer(lambda t: seen.append(state.read_text()))
    tr.unwrap_all()
    assert tool.cmd_append is cmd_append
    tr.run_deferred(snaps.enter)
    snaps.restore()
    assert seen == ["0", "1", "2"]
    assert state.read_text() == "3"
    assert not (tmp_path / "work" / "middle-snapshots").exists()
