"""Legacy Lua tag transform for the pgsql output
(``--tag-transform-script``).

Twin of the reference's lua_tagtransform_t
(/root/reference/src/tagtransform-lua.cpp:17-213): a user Lua script
defines ``filter_tags_node`` / ``filter_tags_way`` /
``filter_basic_tags_rel`` / ``filter_tags_relation_member``, replacing
the built-in C transform's routing (keep / out-tags / polygon / roads)
while the style file keeps defining the table columns.

Spark shape: each callback pass is a ``mapInPandas`` kernel holding one
Lua interpreter per partition (embarrassingly parallel, unlike the
reference's single Lua state), emitting ``(id, out-tags, keep,
polygon, roads)``.  This module only routes tags: ``planet_tables_lua``
turns the callback results into the routed frames of the shared table
writer, ``pgsql_style.planet_tables``, which the C transform feeds too.
Geometry assembly, typed column escapes, hstore, segmentize-and-split
and relation member stitching exist once, in that writer.

Calling convention parity (tagtransform-lua.cpp):
- node/relation: ``f(keyvalues, numberofkeys) -> filter, tags``
- way: ``f(keyvalues, numberofkeys) -> filter, tags, polygon, roads``
- relation members: ``f(keyvalues, keyvaluemembers, roles,
  membercount) -> filter, tags, member_superseded(ignored), boundary,
  polygon, roads``
- filter/polygon/roads go through ``lua_tointeger`` (nil/boolean -> 0);
- out-tag keys must be strings, values strings or numbers, enforced
  with the reference's error wording (get_out_tags);
- with ``--extra-attributes`` the pseudo-tags osm_user / osm_uid /
  osm_version / osm_timestamp / osm_changeset ride in (osmtypes.hpp
  add_attributes) when the object carries attributes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_FUNC_FOR_KIND = {
    "node": "filter_tags_node",
    "way": "filter_tags_way",
    "relation": "filter_basic_tags_rel",
}
_REL_MEM_FUNC = "filter_tags_relation_member"

# attribute pseudo-tags in add_attributes order (osmtypes.hpp:104-110);
# (pseudo-tag key, middle column name, formatter)
_ATTR_COLS = (
    ("osm_user", "user"),
    ("osm_uid", "uid"),
    ("osm_version", "version"),
    ("osm_timestamp", "ts"),
    ("osm_changeset", "changeset"),
)


def _lua_toint(v) -> int:
    """C ``lua_tointeger``: numbers (and integral numerals in strings)
    convert, everything else — nil, booleans, tables — is 0."""
    if isinstance(v, bool) or v is None:
        return 0
    if isinstance(v, int):
        return v
    if isinstance(v, float):
        return int(v) if v.is_integer() else 0
    if isinstance(v, str):
        try:
            return int(v.strip())
        except ValueError:
            return 0
    return 0


def _out_tags_of(table) -> dict:
    """get_out_tags (tagtransform-lua.cpp:53-80): string keys, string
    or number values, with the reference's error wording."""
    from osm2pgsql_spark.lua.interp import (
        LuaRuntimeError,
        LuaTable,
        lua_tostring,
        lua_type,
    )

    if not isinstance(table, LuaTable):
        raise LuaRuntimeError(
            "Basic tag processing expected a table of tags.")
    out = {}
    for k, v in table.hash.items():
        if not isinstance(k, str):
            raise LuaRuntimeError(
                "Basic tag processing found incorrect data type"
                f" '{lua_type(k)}', use a string.")
        if isinstance(v, bool) or not isinstance(v, (str, int, float)):
            raise LuaRuntimeError(
                "Basic tag processing found incorrect data type"
                f" '{lua_type(v)}', use a string.")
        out[k] = v if isinstance(v, str) else lua_tostring(v)
    return out


def _push_tags(rec: dict, extra_attributes: bool):
    """(LuaTable keyvalues, count) for one object, attribute
    pseudo-tags included when asked for and present."""
    from osm2pgsql_spark.lua.interp import LuaTable

    kv = LuaTable()
    n = 0
    for k, v in (rec.get("tags") or {}).items():
        kv.set(str(k), str(v))
        n += 1
    if extra_attributes and rec.get("version") is not None:
        for key, col in _ATTR_COLS:
            v = rec.get(col)
            if v is None or v != v:  # NaN-safe
                continue
            if key == "osm_timestamp" and hasattr(v, "strftime"):
                v = v.strftime("%Y-%m-%dT%H:%M:%SZ")
            elif isinstance(v, float) and v.is_integer():
                v = int(v)
            kv.set(key, str(v))
            n += 1
    return kv, n


def _object_kernel(script: str, kind: str, extra_attributes: bool,
                   passthrough: list[tuple[str, str]]):
    """mapInPandas factory for filter_tags_node/way and
    filter_basic_tags_rel."""
    func_name = _FUNC_FOR_KIND[kind]
    cols = (["id", "out", "keep", "polygon", "roads"]
            + [c for c, _ in passthrough])

    def mapper(batches):
        import pandas as pd

        from osm2pgsql_spark.lua.interp import Interpreter

        interp = Interpreter()
        interp.run(script, chunkname="tagtransform")
        fn = interp.globals.get(func_name)
        for pdf in batches:
            rows = []
            for rec in pdf.to_dict("records"):
                kv, n = _push_tags(rec, extra_attributes)
                ret = interp.call(fn, [kv, n])
                ret += [None] * (4 - len(ret))
                keep = _lua_toint(ret[0]) == 0
                out = _out_tags_of(ret[1]) if keep else None
                row = {
                    "id": int(rec["id"]),
                    "out": out,
                    "keep": keep,
                    "polygon": _lua_toint(ret[2]) != 0,
                    "roads": _lua_toint(ret[3]) != 0,
                }
                for c, _ in passthrough:
                    row[c] = rec[c]
                rows.append(row)
            yield pd.DataFrame(rows, columns=cols)

    return mapper


def _rel_member_kernel(script: str):
    """mapInPandas factory for filter_tags_relation_member: input rows
    carry the prefiltered tags plus the relation's EXISTING way members
    (tags + roles, member order) — the reference's rel_members_get +
    get_rolelist shape (output-pgsql.cpp:239-268)."""
    cols = ["id", "out", "keep", "boundary", "polygon", "roads"]

    def mapper(batches):
        import pandas as pd

        from osm2pgsql_spark.lua.interp import Interpreter, LuaTable

        interp = Interpreter()
        interp.run(script, chunkname="tagtransform")
        fn = interp.globals.get(_REL_MEM_FUNC)
        for pdf in batches:
            rows = []
            for rec in pdf.to_dict("records"):
                kv = LuaTable()
                for k, v in (rec.get("out") or {}).items():
                    kv.set(str(k), str(v))
                members = LuaTable()
                roles = LuaTable()
                ms = sorted(rec["ms"], key=lambda m: m["pos"])
                for i, m in enumerate(ms, start=1):
                    mkv = LuaTable()
                    for k, v in (m["wtags"] or {}).items():
                        mkv.set(str(k), str(v))
                    members.set(i, mkv)
                    roles.set(i, str(m["role"] or ""))
                ret = interp.call(fn, [kv, members, roles, len(ms)])
                ret += [None] * (6 - len(ret))
                keep = _lua_toint(ret[0]) == 0
                rows.append({
                    "id": int(rec["id"]),
                    "out": _out_tags_of(ret[1]) if keep else None,
                    "keep": keep,
                    # member_superseded (ret[2]) is obsolete and ignored
                    "boundary": _lua_toint(ret[3]) != 0,
                    "polygon": _lua_toint(ret[4]) != 0,
                    "roads": _lua_toint(ret[5]) != 0,
                })
            yield pd.DataFrame(rows, columns=cols)

    return mapper


class LuaTagTransform:
    """Driver-side handle: validates the script once (reference error
    wordings), then hands out distributed callback passes."""

    def __init__(self, script: str, extra_attributes: bool = False):
        if "\n" not in script and os.path.exists(script):
            with open(script) as fh:
                script = fh.read()
        self.script = script
        self.extra_attributes = extra_attributes
        from osm2pgsql_spark.lua.interp import Interpreter, LuaError

        probe = Interpreter()
        try:
            probe.run(script, chunkname="tagtransform")
        except LuaError as ex:
            raise SystemExit(
                f"Lua tag transform style error: {ex}.") from ex
        for name in (*_FUNC_FOR_KIND.values(), _REL_MEM_FUNC):
            fn = probe.globals.get(name)
            from osm2pgsql_spark.lua.interp import LuaFunction

            if fn is None or not (isinstance(fn, LuaFunction) or callable(fn)):
                raise SystemExit(
                    "Tag transform style does not contain a function "
                    f"{name}.")

    def transform(self, df: DataFrame, kind: str,
                  passthrough: list[tuple[str, str]] = ()) -> DataFrame:
        """filter_tags_<kind> over (id, tags[, attrs]) rows ->
        (id, out, keep, polygon, roads[, passthrough...])."""
        in_cols = ["id", "tags"]
        if self.extra_attributes:
            in_cols += [c for _, c in _ATTR_COLS if c in df.columns]
        in_cols += [c for c, _ in passthrough if c not in in_cols]
        schema = ("id long, out map<string,string>, keep boolean, "
                  "polygon boolean, roads boolean")
        for c, t in passthrough:
            schema += f", {c} {t}"
        return df.select(*in_cols).mapInPandas(
            _object_kernel(self.script, kind, self.extra_attributes,
                           list(passthrough)),
            schema,
        )

    def rel_member_transform(self, rels_pref: DataFrame,
                             ways: DataFrame) -> DataFrame:
        """filter_tags_relation_member over prefiltered relations
        (id, out, members) -> (id, out, keep, boundary, polygon,
        roads).  Relations with zero existing way members are dropped
        (reference: ``num_ways == 0 -> return``)."""
        m = (rels_pref
             .select("id", F.posexplode("members").alias("pos", "m"))
             .where(F.col("m.type") == "w")
             .select("id", "pos", F.col("m.ref").alias("wid"),
                     F.col("m.role").alias("role")))
        wt = ways.select(F.col("id").alias("wid"),
                         F.col("tags").alias("wtags"))
        ms = (m.join(wt, "wid")  # inner: only ways present in the middle
              .groupBy("id")
              .agg(F.collect_list(
                  F.struct("pos", "wtags", "role")).alias("ms")))
        inp = rels_pref.select("id", "out").join(ms, "id")
        return inp.mapInPandas(
            _rel_member_kernel(self.script),
            "id long, out map<string,string>, keep boolean, "
            "boundary boolean, polygon boolean, roads boolean",
        )


def planet_tables_lua(
    nodes: DataFrame,
    ways: DataFrame,
    relations: DataFrame | None = None,
    *,
    transform: LuaTagTransform,
    plan,
    srid: int = 3857,
    enable_multi: bool = False,
    reproject_area: bool = False,
) -> dict[str, DataFrame]:
    """planet_osm_{point,line,polygon,roads} with the Lua transform
    routing tags; ``pgsql_style.planet_tables`` writes the rows with
    the style plan's columns.

    The script returns z_order as a tag; the int4 style column applies
    the usual sscanf escape to it (table.cpp:362-387).  Relations are
    prefiltered by filter_basic_tags_rel, then
    filter_tags_relation_member decides: polygon or boundary -> polygon
    rows, not polygon -> merged-line rows (output-pgsql.cpp:239-321,
    relation_add type gate :324-341)."""
    from osm2pgsql_spark.plans.pgsql_style import int4_escape, planet_tables

    z = int4_escape(F.col("out")["z_order"]).alias("z_order")

    routed_nodes = transform.transform(
        nodes.where(F.size("tags") > 0), "node",
        passthrough=[("lon", "double"), ("lat", "double")],
    ).where(F.col("keep")).select("id", "lon", "lat", "out")
    routed_ways = transform.transform(
        ways.where(F.size("tags") > 0), "way",
        passthrough=[("refs", "array<long>")],
    ).where(F.col("keep")).select("id", "refs", "out", "polygon", "roads", z)

    routed_rels = None
    if relations is not None:
        typ = F.col("tags")["type"]
        cand = relations.where(F.size("tags") > 0).where(
            typ.isin("route", "multipolygon", "boundary"))
        members = cand.select("id", "members")
        pref = transform.transform(cand, "relation").where(F.col("keep"))
        routed_rels = (
            transform.rel_member_transform(pref.join(members, "id"), ways)
            .where(F.col("keep"))
            .join(members, "id")
            .select("id", "members", "out",
                    (F.col("boundary") | F.col("polygon")).alias("rel_polygon"),
                    (~F.col("polygon")).alias("rel_line"),
                    "roads", z)
        )

    return planet_tables(
        nodes, ways, routed_nodes, routed_ways, routed_rels,
        plan=plan, srid=srid, enable_multi=enable_multi,
        reproject_area=reproject_area,
    )
