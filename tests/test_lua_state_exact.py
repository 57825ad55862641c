"""Order-dependent scalar Lua state → exact sequential fallback
(plans/lua_flex.py:_scalar_merge_unsafe + LuaFlexAdapter._sequential).

The reference runs ALL user Lua in one VM under a global mutex
(output-flex.cpp:53-54), so running-max tracking, last-seen ids and
string accumulators are exact there.  A distributed run cannot merge
such scalars order-independently; the adapter now classifies them at
load time and drops the callback phases to ONE id-ordered partition,
matching the reference result exactly.  Pure-increment counters,
config constants and single-constant flags keep the fully distributed
path (pinned here on every shipped flex config).
"""

import glob
import os
import tempfile

import pytest

from osm2pgsql_spark.plans.lua_flex import (
    LuaFlexAdapter, LuaFlexRuntime, _scalar_merge_unsafe)
from osm2pgsql_spark.sources.opl import read_opl

FLEX = "/root/reference/flex-config"


def classify(src: str) -> frozenset:
    probe = LuaFlexRuntime(src)
    slots, base = set(), {}
    for _kind, name, v in probe._state_slots():
        if isinstance(v, (bool, int, float, str)):
            slots.add(name)
            base[name] = v
    return _scalar_merge_unsafe(src, probe._counters, slots, base)


TBL = ("local t = osm2pgsql.define_node_table('t', {\n"
       "    { column = 'name', type = 'text' },\n"
       "})\n")


class TestClassification:
    def test_pure_increment_counter_safe(self):
        src = TBL + ("local n = 0\n"
                     "osm2pgsql.process_node = function(o)\n"
                     "    n = n + 1\n    t:insert{ name = o.tags.name }\n"
                     "end\n")
        assert classify(src) == frozenset()

    def test_running_max_unsafe(self):
        src = TBL + ("local maxv = 0\n"
                     "osm2pgsql.process_node = function(o)\n"
                     "    local v = tonumber(o.tags.v) or 0\n"
                     "    if v > maxv then maxv = v end\n"
                     "end\n")
        assert classify(src) == {"maxv"}

    def test_last_seen_global_unsafe(self):
        # no `local` declaration anywhere: a callback-global holding
        # the last object's id is persistent order-dependent state
        src = TBL + ("osm2pgsql.process_node = function(o)\n"
                     "    last_id = o.id\n"
                     "end\n")
        assert classify(src) == {"last_id"}

    def test_string_accumulator_unsafe(self):
        src = TBL + ("local log = ''\n"
                     "osm2pgsql.process_node = function(o)\n"
                     "    log = log .. o.tags.name\n"
                     "end\n")
        assert classify(src) == {"log"}

    def test_single_constant_flag_safe(self):
        # idempotent flag: every writer writes the same constant, so
        # last-write-of-changed equals the sequential answer
        src = TBL + ("local found = false\n"
                     "osm2pgsql.process_node = function(o)\n"
                     "    if o.tags.name then found = true end\n"
                     "end\n")
        assert classify(src) == frozenset()

    def test_two_distinct_constants_unsafe(self):
        src = TBL + ("local state = 0\n"
                     "osm2pgsql.process_node = function(o)\n"
                     "    if o.tags.a then state = 1 else state = 2 end\n"
                     "end\n")
        assert classify(src) == {"state"}

    def test_function_body_locals_ignored(self):
        # multi-name local declarations (bbox.lua:74 pattern) and
        # declare-then-assign locals are call-frame temps, not state
        src = TBL + ("osm2pgsql.process_node = function(o)\n"
                     "    local xmin, ymin, xmax, ymax = 1, 2, 3, 4\n"
                     "    local area\n"
                     "    area = xmax * ymax\n"
                     "    ymax = ymax + area\n"
                     "end\n")
        assert classify(src) == frozenset()

    def test_table_constructor_fields_ignored(self):
        # `{ column = 'x', type = 'text' }` fields are not assignments
        src = TBL + ("local extra = osm2pgsql.define_node_table('e', {\n"
                     "    { column = 'kind', type = 'text' },\n"
                     "})\n"
                     "osm2pgsql.process_node = function(o)\n"
                     "    extra:insert{ kind = 'x' }\n"
                     "end\n")
        assert classify(src) == frozenset()

    def test_all_shipped_configs_stay_distributed(self):
        # listing FLEX first makes an absent tree fail with its path
        os.listdir(FLEX)
        configs = sorted(glob.glob(os.path.join(FLEX, "*.lua"))) + sorted(
            glob.glob(os.path.join(FLEX, "gen", "*.lua")))
        assert len(configs) >= 20
        unsafe = {}
        for p in configs:
            got = classify(open(p).read())
            if got:
                unsafe[os.path.basename(p)] = sorted(got)
        # none of the reference's shipped configs may pay the
        # sequential fallback — that would be a silent perf cliff
        assert unsafe == {}


MAX_CONFIG = """
local pois = osm2pgsql.define_node_table('pois', {
    { column = 'name', type = 'text' },
})
local stats = osm2pgsql.define_table{
    name = 'stats',
    ids = nil,
    columns = {
        { column = 'what', type = 'text' },
        { column = 'v', type = 'int' },
    }
}
local max_v = 0
local last_name = ''
osm2pgsql.process_node = function(object)
    local v = tonumber(object.tags.v) or 0
    if v > max_v then max_v = v end
    last_name = object.tags.name
    pois:insert{ name = object.tags.name }
end
function osm2pgsql.after_nodes()
    stats:insert{ what = 'max:' .. last_name, v = max_v }
end
"""


@pytest.fixture(scope="module")
def osm(spark):
    # ids ascending, v values arranged so the global max (97) sits on
    # an EARLY id — a last-write merge across partitions would need
    # luck to land on it, the sequential path cannot miss it
    vals = {i: (97 if i == 3 else i) for i in range(1, 33)}
    opl = "".join(
        f"n{i} Tname=p{i},v={vals[i]} x{9.0 + i / 100} y50.0\n"
        for i in range(1, 33))
    with tempfile.NamedTemporaryFile("w", suffix=".opl", delete=False) as fh:
        fh.write(opl)
        path = fh.name
    nodes, ways, rels = read_opl(spark, path)
    return nodes.repartition(8).cache(), ways, rels


class TestSequentialFallback:
    def test_adapter_classifies_and_runs_sequentially(self, spark, osm):
        nodes, ways, rels = osm
        with pytest.warns(UserWarning, match="order-dependent scalar"):
            adapter = LuaFlexAdapter(MAX_CONFIG)
        assert adapter._sequential
        assert adapter._unsafe_scalars == {"max_v", "last_name"}
        out = adapter.run(nodes=nodes, ways=ways, relations=rels)
        rows = out["stats"].collect()
        assert len(rows) == 1
        # exact sequential semantics: true running max AND the
        # id-ordered last name (n32), exactly like the reference VM
        assert int(rows[0]["v"]) == 97
        assert rows[0]["what"] == "max:p32"
        assert out["pois"].count() == 32

    def test_env_override_disables(self, spark, monkeypatch):
        monkeypatch.setenv("SPARK_GRAFT_LUA_EXACT_STATE", "0")
        adapter = LuaFlexAdapter(MAX_CONFIG)
        assert adapter._unsafe_scalars  # still classified
        assert not adapter._sequential  # but distributed by request

    def test_env_override_forces(self, spark, monkeypatch):
        monkeypatch.setenv("SPARK_GRAFT_LUA_EXACT_STATE", "1")
        src = TBL + ("local n = 0\n"
                     "osm2pgsql.process_node = function(o)\n"
                     "    n = n + 1\n    t:insert{ name = o.tags.name }\n"
                     "end\n")
        adapter = LuaFlexAdapter(src)
        assert adapter._unsafe_scalars == frozenset()
        assert adapter._sequential
