"""Procedural flex-config execution: real Lua callbacks on Spark.

The declarative reader (plans/lua_config.py) compiles simple configs
straight to Catalyst expressions — the fast path.  Configs it rejects
(arbitrary control flow, helper functions, mutable cross-object state)
run HERE: the pure-Python Lua interpreter (osm2pgsql_spark/lua)
executes the config's process_*() callbacks inside the flex DSL's
mapInPandas route, per Arrow batch, embarrassingly parallel.

Reference semantics being reproduced (src/output-flex.cpp):
- the osm2pgsql Lua API table: define_*_table (:1420-1480), the
  init.lua helpers (src/init.lua:16-177, re-implemented in Python —
  has_prefix/has_suffix/clamp/make_check_values_func/
  make_clean_tags_func/trim/split_unit/split_string/*_member_ids),
  define_expire_output, osm2pgsql.stage/mode/version
- the OSM object pushed to callbacks (:128-160): id, tags, version,
  timestamp (seconds since epoch), changeset, uid, user, is_closed,
  nodes, members, grab_tag, get_bbox, as_point [way form takes a
  1-based node index, negative from the back, :453-497],
  as_linestring, as_polygon, as_multipoint, as_multilinestring,
  as_multipolygon, as_geometrycollection
- geometry userdata methods (src/flex-lua-geom.cpp:348-369)
- table:insert and table:in_id_cache (:845-884; in_id_cache returns
  the 1-based INDICES of input ids found in the cache)
- processing order and two-stage state: nodes, then ways (stage 1),
  then relations, then marked ways again (stage 2) —
  select_relation_members marks, w2r-style Lua state built in
  process_relation is visible to stage-2 process_way (:1506-1613)

Distribution model (the Spark-first part): each phase is ONE
mapInPandas over the entity DataFrame.  Every partition runs its own
interpreter (the chunk re-executes once per partition — cheap), and
mutable Lua state (chunk-local and global plain-data tables, table id
caches) is captured per partition as a pickled delta row, deep-merged
on the driver (the config contract is explicitly idempotent/mergeable
accumulation — see route-relations.lua's own comments), and
re-injected into the next phase.  Geometry ASSEMBLY stays in
distributed DataFrame land: way points come pre-joined, relation
multi-geometries come from the same relation assembly operators the
declarative path uses; the Lua code only formats/transforms them
per-row."""

from __future__ import annotations

import json
import pickle
import re as _re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

from osm2pgsql_spark.lua.interp import (
    Interpreter,
    LuaRuntimeError,
    LuaTable,
    lua_tostring,
)
from osm2pgsql_spark.plans.flex import (
    CALLBACK_SCHEMA,
    GEOM_HEX,
    GEOM_SRID,
    GEOM_TYPES,
    ColumnDef,
    FlexConfig,
    rejected_kind,
)

_STATE_TBL = "__state__"
_MARK_TBL = "__mark__"


# ------------------------------------------------------------ geometry

_GEOM_KEY = "__geom__"
_SRID_KEY = "__srid__"


def _mk_geom(geom, srid, meta):
    t = LuaTable()
    t.hash[_GEOM_KEY] = geom  # tuple-geometry or None (null geometry)
    t.hash[_SRID_KEY] = srid
    t.metatable = meta
    return t


def _is_geom(v) -> bool:
    return isinstance(v, LuaTable) and _GEOM_KEY in v.hash


def _build_geom_meta() -> LuaTable:
    """Shared metatable for geometry values: __index = methods,
    __len = num_geometries (reference flex-lua-geom.cpp:348-369)."""
    from osm2pgsql_spark.functions import geometry as G
    from osm2pgsql_spark.functions import projection as P

    meta = LuaTable()
    methods = LuaTable()

    def g_of(self):
        return self.hash.get(_GEOM_KEY)

    def srid_of(self):
        return self.hash.get(_SRID_KEY)

    def wrap(self, geom):
        # new geometry value in the SAME srid as self
        return _mk_geom(geom, srid_of(self), meta)

    def m_is_null(self):
        return g_of(self) is None

    def m_area(self):
        g = g_of(self)
        if g is None or g[0] not in ("polygon", "multipolygon"):
            return 0.0
        return float(G.area(g))

    def m_spherical_area(self):
        g = g_of(self)
        if g is None or g[0] not in ("polygon", "multipolygon"):
            return 0.0
        if srid_of(self) != 4326:
            raise LuaRuntimeError(
                "Can only calculate spherical area for geometries in WGS84 coordinates.")
        return float(G.spherical_area(g))

    def m_length(self):
        g = g_of(self)
        if g is None or g[0] not in ("linestring", "multilinestring"):
            return 0.0
        return float(G.length(g))

    def m_spherical_length(self):
        g = g_of(self)
        if g is None or g[0] not in ("linestring", "multilinestring"):
            return 0.0
        if srid_of(self) != 4326:
            raise LuaRuntimeError(
                "Can only calculate spherical length for geometries in WGS84 coordinates.")
        return float(G.spherical_length(g))

    def m_centroid(self):
        g = g_of(self)
        return wrap(self, None if g is None else G.centroid(g))

    def m_get_bbox(self):
        g = g_of(self)
        if g is None:
            return ()
        bb = G.get_bbox(g)
        if bb is None:
            return ()
        return tuple(float(v) for v in bb)

    def m_geometry_n(self, n=1):
        g = g_of(self)
        if g is None:
            return wrap(self, None)
        return wrap(self, G.geometry_n(g, int(n)))

    def m_geometry_type(self):
        g = g_of(self)
        if g is None:
            return "NULL"
        return G.geometry_type(g).upper()

    def m_line_merge(self):
        g = g_of(self)
        return wrap(self, None if g is None else G.line_merge(g))

    def m_n_points(self):
        g = g_of(self)
        return 0 if g is None else int(G.n_points(g))

    def m_reverse(self):
        g = g_of(self)
        return wrap(self, None if g is None else G.reverse(g))

    def m_num_geometries(self):
        g = g_of(self)
        return 0 if g is None else int(G.num_geometries(g))

    def m_segmentize(self, max_len=None):
        g = g_of(self)
        if g is None:
            return wrap(self, None)
        return wrap(self, G.segmentize(g, float(max_len)))

    def m_simplify(self, tol=None):
        g = g_of(self)
        if g is None:
            return wrap(self, None)
        return wrap(self, G.simplify(g, float(tol)))

    def m_srid(self):
        return srid_of(self)

    def m_transform(self, code=None):
        g = g_of(self)
        code = int(code)
        cur = srid_of(self)
        if g is None:
            return _mk_geom(None, code, meta)
        if cur == code:
            return self
        if cur != 4326:
            raise LuaRuntimeError("Can not transform already transformed geometry.")
        if code == 3857:
            return _mk_geom(G.transform_4326_to_3857(g), 3857, meta)
        return _mk_geom(P.transform_epsg(g, code), code, meta)

    def m_pole_of_inaccessibility(self, opts=None):
        g = g_of(self)
        if g is None or g[0] not in ("polygon", "multipolygon"):
            return wrap(self, None)
        from osm2pgsql_spark.functions.polylabel import pole_of_inaccessibility

        stretch = 1.0
        if isinstance(opts, LuaTable):
            s = opts.get("stretch")
            if s is not None:
                stretch = float(s)
        return wrap(self, pole_of_inaccessibility(g, stretch=stretch))

    def m_geometries(self):
        # iterator over the parts of a multi-geometry (init.lua:190-198)
        n = m_num_geometries(self)
        i = [0]

        def it(*_ignored):
            i[0] += 1
            if i[0] <= n:
                return m_geometry_n(self, i[0])
            return None

        return it

    for name, fn in [
        ("is_null", m_is_null), ("area", m_area),
        ("spherical_area", m_spherical_area), ("length", m_length),
        ("spherical_length", m_spherical_length), ("centroid", m_centroid),
        ("get_bbox", m_get_bbox), ("geometry_n", m_geometry_n),
        ("geometry_type", m_geometry_type), ("line_merge", m_line_merge),
        ("n_points", m_n_points), ("reverse", m_reverse),
        ("num_geometries", m_num_geometries), ("segmentize", m_segmentize),
        ("simplify", m_simplify), ("srid", m_srid),
        ("transform", m_transform), ("geometries", m_geometries),
        ("pole_of_inaccessibility", m_pole_of_inaccessibility),
    ]:
        methods.set(name, fn)

    meta.set("__index", methods)
    meta.set("__len", lambda self: m_num_geometries(self))
    return meta


# --------------------------------------------------------- value bridge


def lua_to_py(v):
    """LuaTable -> dict/list (pure arrays become lists), scalars pass
    through.  Used for state capture and JSON column encoding."""
    if isinstance(v, LuaTable):
        n = v.length()
        if n and len(v.hash) == n and all(isinstance(k, int) for k in v.hash):
            return [lua_to_py(v.get(i)) for i in range(1, n + 1)]
        return {k: lua_to_py(x) for k, x in v.hash.items()}
    return v


def py_to_lua(v):
    if isinstance(v, dict):
        t = LuaTable()
        for k, x in v.items():
            t.set(k, py_to_lua(x))
        return t
    if isinstance(v, list):
        t = LuaTable()
        for i, x in enumerate(v, start=1):
            t.set(i, py_to_lua(x))
        return t
    return v


def _is_plain_data(v, depth=0) -> bool:
    if depth > 16:
        return False
    if v is None or isinstance(v, (bool, int, float, str)):
        return True
    if isinstance(v, LuaTable):
        if _GEOM_KEY in v.hash or "__handle__" in v.hash:
            return False
        return all(
            _is_plain_data(x, depth + 1) and isinstance(k, (bool, int, float, str))
            for k, x in v.hash.items()
        )
    return False


def _is_num(v) -> bool:
    return isinstance(v, (int, float)) and not isinstance(v, bool)


def _is_nd(v) -> bool:
    """Numeric-delta marker: a partition's captured INCREMENT of a
    counter variable, mergeable by addition."""
    return isinstance(v, dict) and set(v) == {"__nd__"}


_ASSIGN_RE = _re.compile(r"(?<![\w.:\[\]])([A-Za-z_]\w*)\s*=(?![=>])")


def _counter_names(source: str) -> frozenset:
    """Names whose every mutation in the chunk is self-additive
    (`x = x + e` / `x = x - e`), apart from a constant `local x = <n>`
    initializer.  Their per-partition state deltas merge by SUMMING
    increments — the only order-independent semantics a distributed
    run can give a scalar counter (matches the sequential reference
    for the pure-increment pattern; anything else stays last-write
    and is classified out here)."""
    # comments and string literals must not contribute assignment
    # sightings (a '-- x = 0' note would wrongly demote a counter)
    source = _re.sub(r"--\[\[.*?\]\]|--[^\n]*", "", source, flags=_re.S)
    source = _re.sub(r"'(?:[^'\\]|\\.)*'|\"(?:[^\"\\]|\\.)*\"", "''", source)
    stats: dict[str, dict] = {}
    for m in _ASSIGN_RE.finditer(source):
        name = m.group(1)
        tail = source[m.end():]
        e = stats.setdefault(name, {"self": 0, "other": 0})
        if _re.match(r"\s*" + _re.escape(name) + r"\s*[+\-]", tail):
            e["self"] += 1
        elif (source[: m.start()].rstrip().endswith("local")
              and _re.match(r"\s*-?\d+(\.\d+)?\s*(\r?\n|--|$|;)", tail)):
            pass  # constant declaration = the counter's base value
        else:
            e["other"] += 1
    return frozenset(
        n for n, e in stats.items() if e["self"] >= 1 and e["other"] == 0)


_CONST_RHS_RE = _re.compile(
    r"\s*(-?\d+(?:\.\d+)?|true|false|nil|'[^']*')\s*"
    r"(?:\r?\n|--|$|;|\}|\b(?:end|else|elseif)\b)")


def _scalar_merge_unsafe(source: str, counters: frozenset,
                         scalar_slots: set, baselines: dict) -> frozenset:
    """Scalar state variables whose cross-partition merge would be
    order-DEPENDENT under last-write semantics — running-max/min
    tracking (`if v > m then m = v end`), last-seen ids
    (`last = object.id`), string accumulators (`s = s .. e`), global
    counters the pure-increment classifier rejected, or flags written
    with more than one distinct constant.

    Safe (distributed merge is exact): pure-increment counters (delta
    sum), never-reassigned config constants, and idempotent flags that
    only ever write ONE constant besides their baseline value.

    `scalar_slots`: names holding bare scalars after the chunk ran
    (chunk locals + globals); globals assigned in callbacks without a
    `local` declaration anywhere are state too, even when nil at
    baseline.  Function-body locals never persist, so `local`-declared
    names outside the slot set are ignored.

    The reference runs ALL user Lua under one mutex in one VM
    (output-flex.cpp:53-54), so any order-dependent scalar is exact
    there; LuaFlexAdapter reacts by dropping to one id-ordered
    partition for the callback phases (see _exec_phase)."""
    src = _re.sub(r"--\[\[.*?\]\]|--[^\n]*", "", source, flags=_re.S)
    # keep string-literal IDENTITY (two different constants must not
    # collapse) but neutralize their contents for the assignment scan
    lits: list = []

    def _keep(m):
        lits.append(m.group(0))
        return f"'§{len(lits) - 1}'"

    src = _re.sub(r"'(?:[^'\\]|\\.)*'|\"(?:[^\"\\]|\\.)*\"", _keep, src)
    local_decls = {
        n for m in _re.finditer(
            r"\blocal\s+([A-Za-z_]\w*(?:\s*,\s*[A-Za-z_]\w*)*)", src)
        for n in _re.split(r"\s*,\s*", m.group(1))}
    # brace depth at each offset: Lua braces ONLY build table
    # constructors, so `column = 'text'` at depth>0 is a field of a
    # literal, not a variable assignment
    depth, depths = 0, []
    for ch in src:
        depths.append(depth)
        if ch == "{":
            depth += 1
        elif ch == "}":
            depth = max(0, depth - 1)
    stats: dict[str, dict] = {}
    for m in _ASSIGN_RE.finditer(src):
        if depths[m.start()]:
            continue
        name = m.group(1)
        tail = src[m.end():]
        e = stats.setdefault(
            name, {"self": 0, "nonconst": 0, "consts": set()})
        cm = _CONST_RHS_RE.match(tail)
        if _re.match(r"\s*" + _re.escape(name) + r"\s*[+\-]", tail):
            e["self"] += 1
        elif cm:
            e["consts"].add(cm.group(1))
        elif name not in scalar_slots and _re.match(
                r"[^\n;]*\{", tail):
            pass  # table constructor / define_table{...} handle — the
            # dict-merge contract covers tables, not scalar analysis
        else:
            e["nonconst"] += 1
    out = set()
    for name, e in stats.items():
        if name in counters:
            continue
        if name not in scalar_slots and name in local_decls:
            continue  # function-body temp, not persistent state
        if e["nonconst"] or e["self"]:
            out.add(name)
            continue
        consts = set(e["consts"])
        bv = baselines.get(name)
        if isinstance(bv, bool):
            consts.discard("true" if bv else "false")
        elif _is_num(bv):
            consts.discard(_re.sub(r"\.0$", "", repr(bv)))
        elif bv is None:
            consts.discard("nil")
        if len(consts) > 1:
            out.add(name)
    return frozenset(out)


def merge_state(a, b):
    """Deep merge two captured-state dicts (dict-of-dict union; later
    scalar wins; numeric-delta markers SUM).  The flex-config contract
    is idempotent accumulation (route-relations.lua documents its w2r
    exactly so), which makes per-partition deltas order-independently
    mergeable; pure-increment counters additionally merge exactly via
    the delta markers."""
    for k, v in b.items():
        if _is_nd(v):
            cur = a.get(k)
            if _is_nd(cur):
                a[k] = {"__nd__": cur["__nd__"] + v["__nd__"]}
            elif _is_num(cur):
                a[k] = cur + v["__nd__"]
            else:
                a[k] = dict(v)
        elif (k in a and isinstance(a[k], dict) and isinstance(v, dict)
                and not _is_nd(a[k])):
            merge_state(a[k], v)
        else:
            a[k] = v
    return a


# ------------------------------------------------------------- runtime


@dataclass
class LuaTableSpec:
    name: str
    ids_type: str  # node|way|relation|area|any_object|any_single|tile|none
    id_column: str
    cache: bool = False
    schema: str = "public"
    columns: list = field(default_factory=list)  # ColumnDef list
    indexes: list = field(default_factory=list)  # FlexIndex list


# PostgreSQL's built-in index access methods; the reference asks the
# server's pg_am catalog (pgsql-capabilities.cpp:189), we pin the
# stock set
_INDEX_METHODS = {"btree", "gist", "gin", "hash", "brin", "spgist"}


def _parse_indexes(options: LuaTable, name: str, columns) -> list:
    """The `indexes` table option (flex-lua-table.cpp:398-438 +
    flex-lua-index.cpp:23-110): nil -> default gist on the first
    geometry column; explicit array -> validated FlexIndex list with
    the reference's error wording."""
    from osm2pgsql_spark.sinks.live import FlexIndex

    col_names = {c.name for c in columns}
    idx_val = options.get("indexes")
    if idx_val is None:
        geoms = [c for c in columns if c.type in GEOM_TYPES]
        if geoms:
            # non-updatable default: gist on the geometry, ff 100
            return [FlexIndex(method="gist", columns=[geoms[0].name],
                              fillfactor=100)]
        return []
    if not isinstance(idx_val, LuaTable):
        raise LuaRuntimeError(
            f"The 'indexes' field in definition of table '{name}' is "
            f"not an array.")
    if idx_val.hash and not idx_val.length():
        raise LuaRuntimeError("The 'indexes' field must contain an array.")
    out = []
    for i in range(1, idx_val.length() + 1):
        e = idx_val.get(i)
        if not isinstance(e, LuaTable):
            raise LuaRuntimeError(
                "The entries in the 'indexes' array must be Lua tables.")
        method = e.get("method")
        if not isinstance(method, str):
            raise LuaRuntimeError(
                "Index definition must contain a 'method' string field.")
        if method not in _INDEX_METHODS:
            raise LuaRuntimeError(f"Unknown index method '{method}'.")
        col = e.get("column")
        expr = e.get("expression")
        if (col is None) == (expr is None):
            raise LuaRuntimeError(
                "You must set either the 'column' or the 'expression' "
                "field in index definition.")

        def check_col(c):
            if not isinstance(c, str):
                raise LuaRuntimeError(
                    "The entries in the 'column' array must be strings.")
            if c not in col_names:
                raise LuaRuntimeError(
                    f"Unknown column '{c}' in table '{name}'.")
            return c

        cols = []
        if isinstance(col, str):
            cols = [check_col(col)]
        elif isinstance(col, LuaTable):
            cols = [check_col(col.get(j)) for j in range(1, col.length() + 1)]
        elif col is not None:
            raise LuaRuntimeError(
                "The 'column' field must contain a string or an array.")
        inc = e.get("include")
        incs = []
        if isinstance(inc, str):
            incs = [check_col(inc)]
        elif isinstance(inc, LuaTable):
            incs = [check_col(inc.get(j)) for j in range(1, inc.length() + 1)]
        elif inc is not None:
            raise LuaRuntimeError(
                "The 'include' field in an index definition must "
                "contain a string or an array.")
        out.append(FlexIndex(
            method=method, columns=cols,
            expression=str(expr) if expr is not None else "",
            include_columns=incs,
            name=str(e.get("name") or ""),
            tablespace=str(e.get("tablespace") or ""),
            where=str(e.get("where") or ""),
            fillfactor=int(e.get("fillfactor") or 0),
            unique=bool(e.get("unique")),
        ))
    return out


_LUA_SCALAR_ALIASES = {
    "bool": "boolean", "smallint": "int2", "int": "int4",
    "integer": "int4", "bigint": "int8",
}

_SQL_TYPE_FALLBACKS = {
    # sql_type-only columns (box2d, int8[], ...) travel as text; the
    # COPY encoder emits them verbatim.  Timestamps keep their typed
    # conversion (attributes.lua's 'created' column).
    "box2d": "text",
    "timestamp": "timestamp",
    "timestamptz": "timestamptz",
}


def _spec_columns(cols_lua) -> list:
    out = []
    n = cols_lua.length()
    for i in range(1, n + 1):
        c = cols_lua.get(i)
        name = c.get("column")
        ctype = c.get("type")
        sql_type = c.get("sql_type")
        if ctype is None:
            ctype = _SQL_TYPE_FALLBACKS.get(str(sql_type or "").lower(), "text")
        ctype = _LUA_SCALAR_ALIASES.get(ctype, ctype)
        proj = c.get("projection")
        srid = int(proj) if proj is not None else (
            3857 if ctype in GEOM_TYPES else 4326)
        expire = c.get("expire")
        # forms: a handle, 'name', { output = h }, or a LIST of
        # { output = h } entries (forests.lua wires one geometry column
        # to three expire outputs) — collect ALL, comma-joined
        names = []

        def _expire_name(v):
            if isinstance(v, LuaTable):
                if "__name__" in v.hash:
                    return str(v.hash["__name__"])
                return _expire_name(v.get("output"))
            return None if v is None else str(v)

        if isinstance(expire, LuaTable) and "__name__" not in expire.hash \
                and expire.get("output") is None and expire.length():
            for i in range(1, expire.length() + 1):
                nm2 = _expire_name(expire.get(i))
                if nm2:
                    names.append(nm2)
        else:
            nm2 = _expire_name(expire)
            if nm2:
                names.append(nm2)
        expire = ",".join(names) if names else None
        out.append(ColumnDef(
            str(name), str(ctype), srid=srid,
            not_null=bool(c.get("not_null")),
            create_only=bool(c.get("create_only")),
            expire=str(expire) if expire is not None else None,
        ))
    return out


class LuaFlexRuntime:
    """One interpreter + the osm2pgsql API, ready to process objects.
    Created once per executor partition (and once on the driver for
    table discovery)."""

    def __init__(self, source: str, mode: str = "create", stage: int = 1,
                 region_db: str | None = None):
        self.source = source
        self.interp = Interpreter()
        self.specs: dict[str, LuaTableSpec] = {}
        self.expire_specs: list[dict] = []
        self.inserts: list = []
        self.id_cache: dict[str, set] = {}
        self.marks: list[int] = []
        self.mode = mode
        self.stage = stage
        self.region_db = region_db
        self.locators: dict[str, object] = {}
        self.gen_runs: list[tuple[str, dict]] = []
        self._handles: dict[str, LuaTable] = {}
        self._geom_meta = _build_geom_meta()
        self._osm_table = self._install_api()
        self.interp.run(source)
        self._baseline = None
        self._baseline_vals: dict | None = None
        # pure-increment scalars merge across partitions by summing
        # deltas; everything else is last-write
        self._counters = _counter_names(source)

    # -- the osm2pgsql.* API

    def _install_api(self) -> LuaTable:
        interp = self.interp
        osm = LuaTable()
        rt = self

        def define_table(options=None):
            # argument validation follows the reference messages
            # (flex-lua-table.cpp:40-197; pinned by the
            # lua-table-definitions BDD feature)
            if not isinstance(options, LuaTable):
                raise LuaRuntimeError(
                    "Argument #1 to 'define_table' must be a table.")
            name = options.get("name")
            if not isinstance(name, str):
                raise LuaRuntimeError(
                    "The table must contain a 'name' string field.")
            cols_val = options.get("columns")
            if not isinstance(cols_val, LuaTable) or (
                    cols_val.hash and not cols_val.length()):
                raise LuaRuntimeError(
                    f"No 'columns' field (or not an array) in table "
                    f"'{name}'.")
            ids = options.get("ids")
            if not cols_val.length() and not isinstance(ids, LuaTable):
                raise LuaRuntimeError(f"No columns defined for table '{name}'.")
            ids_type, id_col, cache = "none", "id", False
            if isinstance(ids, LuaTable):
                # ids validation wording follows flex-lua-table.cpp
                # (pinned by the lua-table-ids BDD feature)
                tval = ids.get("type")
                if not isinstance(tval, str):
                    if tval is None:
                        raise LuaRuntimeError(
                            "The ids field must contain a 'type' string "
                            "field.")
                    raise LuaRuntimeError(
                        f"Unknown ids type: {lua_tostring(tval)}.")
                if tval not in ("node", "way", "relation", "area", "any",
                                "tile"):
                    raise LuaRuntimeError(f"Unknown ids type: {tval}.")
                ids_type = tval
                if ids_type == "any":
                    # with a type_column the id passes through and the
                    # type goes in its own column; without one the id is
                    # sign/offset-mapped (flex-table.cpp:107-122)
                    ids_type = (
                        "any_object" if ids.get("type_column") is not None
                        else "any_single")
                idc = ids.get("id_column")
                if ids_type != "tile":
                    if not isinstance(idc, str):
                        raise LuaRuntimeError(
                            "The ids field must contain a 'id_column' "
                            "string field.")
                    if any(c in "\"',.;$%&/()<>{}=?^*#" for c in idc):
                        raise LuaRuntimeError(
                            f"Special characters are not allowed in "
                            f"column names: '{idc}'.")
                id_col = str(idc) if isinstance(idc, str) else ids_type + "_id"
                cval = ids.get("cache")
                if cval is not None and not isinstance(cval, bool):
                    raise LuaRuntimeError(
                        "The ids field 'cache' must be a boolean field.")
                if cval and tval != "node":
                    raise LuaRuntimeError(
                        "ID cache only available for node ids.")
                cache = bool(cval)
            cols_parsed = _spec_columns(options.get("columns"))
            spec = LuaTableSpec(
                name=str(name), ids_type=ids_type, id_column=id_col,
                cache=cache, schema=str(options.get("schema") or "public"),
                columns=cols_parsed,
                indexes=_parse_indexes(options, str(name), cols_parsed),
            )
            if spec.name in rt.specs:
                raise LuaRuntimeError(f"table '{spec.name}' already defined")
            rt.specs[spec.name] = spec
            if cache:
                rt.id_cache.setdefault(spec.name, set())
            handle = LuaTable()
            handle.hash["__handle__"] = spec.name

            def h_insert(self_h, row=None):
                if row is None:
                    # reference: "Need two parameters" (the table object
                    # and the row table; empty-insert BDD feature)
                    raise LuaRuntimeError(
                        "Need two parameters and the first one must "
                        "be an osm2pgsql.Table.")
                if not isinstance(row, LuaTable):
                    raise LuaRuntimeError(
                        "Argument #1 to 'insert' must be a table.")
                rt._do_insert(spec, row)
                return True

            def h_in_id_cache(self_h=None, ids_arr=None):
                if not (isinstance(self_h, LuaTable)
                        and "__handle__" in self_h.hash):
                    raise LuaRuntimeError(
                        "First parameter must be of type osm2pgsql.Table.")
                # returns 1-based INDICES of ids found in the cache
                # (reference output-flex.cpp:845-884); nodes-phase use
                # is rejected there, enforced by phase order here
                if not spec.cache:
                    raise LuaRuntimeError(f"No ID cache on table '{spec.name}'.")
                cache_set = rt.id_cache.get(spec.name, set())
                out = LuaTable()
                nn = 0
                if isinstance(ids_arr, LuaTable):
                    for idx in range(1, ids_arr.length() + 1):
                        if int(ids_arr.get(idx)) in cache_set:
                            nn += 1
                            out.set(nn, idx)
                return out

            handle.set("insert", h_insert)
            handle.set("in_id_cache", h_in_id_cache)
            handle.set("name", lambda self_h: spec.name)
            handle.set("schema", lambda self_h: spec.schema)
            rt._handles[spec.name] = handle
            return handle

        def _define_kind_table(kind):
            def f(name=None, columns=None, options=None):
                opts = options if isinstance(options, LuaTable) else LuaTable()
                opts.set("name", name)
                ids = LuaTable()
                ids.set("type", kind)
                ids.set("id_column", kind + "_id")
                prev = opts.get("ids")
                if isinstance(prev, LuaTable):
                    if prev.get("cache") is not None:
                        ids.set("cache", prev.get("cache"))
                opts.set("ids", ids)
                opts.set("columns", columns)
                return define_table(opts)

            return f

        def define_expire_output(options=None):
            # validation follows the reference wording
            # (flex-lua-expire-output.cpp:26-54; pinned by the
            # lua-expire-output-definitions BDD feature)
            if not isinstance(options, LuaTable):
                raise LuaRuntimeError(
                    "Argument #1 to 'define_expire_output' must be a "
                    "Lua table.")
            for fld, dflt in (("filename", "''"), ("schema", "'public'"),
                              ("table", "''")):
                v = options.get(fld)
                if v is not None and not isinstance(v, str):
                    raise LuaRuntimeError(
                        f"The expire output field must contain a "
                        f"'{fld}' string field (or nil for default: "
                        f"{dflt}).")
            for fld in ("maxzoom", "minzoom"):
                v = options.get(fld)
                if v is not None and (isinstance(v, bool)
                                      or not isinstance(v, int)):
                    raise LuaRuntimeError(
                        f"The '{fld}' field in a expire output must "
                        f"contain an integer.")
            mz = options.get("maxzoom")
            if mz is not None and not 1 <= mz <= 20:
                raise LuaRuntimeError(
                    "The 'maxzoom' field in a expire output must be "
                    "between 1 and 20.")
            nz = options.get("minzoom")
            if nz is not None and not 1 <= nz <= (mz if mz is not None else 20):
                raise LuaRuntimeError(
                    "The 'minzoom' field in a expire output must be "
                    "between 1 and 'maxzoom'.")
            spec = {
                "maxzoom": int(options.get("maxzoom") or 12),
                "filename": options.get("filename"),
                "table": options.get("table"),
            }
            if options.get("minzoom") is not None:
                spec["minzoom"] = int(options.get("minzoom"))
            rt.expire_specs.append(spec)
            h = LuaTable()
            nm = str(spec["filename"] or spec["table"] or f"expire{len(rt.expire_specs)}")
            spec["name"] = nm
            h.hash["__name__"] = nm
            h.set("name", lambda s: nm)
            h.set("minzoom", lambda s: spec.get("minzoom", spec["maxzoom"]))
            h.set("maxzoom", lambda s: spec["maxzoom"])
            h.set("filename", lambda s: spec["filename"] or "")
            h.set("table", lambda s: spec["table"] or "")
            h.set("schema", lambda s: str(options.get("schema") or "public")
                  if spec["table"] else "")
            return h

        # --- init.lua helpers, re-implemented (src/init.lua:16-177)

        def has_prefix(s=None, prefix=None):
            if s is None:
                return None
            return str(s).startswith(str(prefix))

        def has_suffix(s=None, suffix=None):
            if s is None:
                return None
            if suffix == "":
                return True
            return str(s).endswith(str(suffix))

        def clamp(value=None, low=None, high=None):
            if value is None:
                return None
            return max(min(value, high), low)

        def make_check_values_func(list_t=None, default=None):
            valid = {}
            for i in range(1, list_t.length() + 1):
                v = list_t.get(i)
                valid[v] = v

            def check(value=None):
                if value in valid:
                    return valid[value]
                return default

            return check

        def make_clean_tags_func(keys=None):
            exact, prefixes, suffixes = [], [], []
            for i in range(1, keys.length() + 1):
                k = str(keys.get(i))
                if k.endswith("*"):
                    prefixes.append(k[:-1])
                elif k.startswith("*"):
                    suffixes.append(k[1:])
                else:
                    exact.append(k)

            def clean(tags=None):
                for k in exact:
                    tags.set(k, None)
                for k in list(tags.hash.keys()):
                    ks = str(k)
                    if any(ks.startswith(p) for p in prefixes) or any(
                        ks.endswith(sf) for sf in suffixes
                    ):
                        tags.set(k, None)
                return len(tags.hash) == 0

            return clean

        def trim(s=None):
            if s is None:
                return None
            # Lua %s: ASCII whitespace only
            return str(s).strip(" \t\n\r\f\v")

        def split_unit(s=None, default_unit=None):
            import re as _re2

            if s is None:
                return None
            m = _re2.fullmatch(r"(-?[0-9.]+) ?([a-zA-Z]*)", str(s))
            if m is None:
                return None
            from osm2pgsql_spark.lua.interp import lua_tonumber

            val = lua_tonumber(m.group(1))
            if val is None:
                return None
            unit = m.group(2) or default_unit
            return (val, unit)

        def split_string(s=None, separator=None):
            out = LuaTable()
            if s is not None:
                sep = separator or ";"
                i = 0
                for part in str(s).split(sep):
                    p = trim(part)
                    if p:
                        i += 1
                        out.set(i, p)
            return out

        def _member_ids(mtype):
            def f(relation=None):
                ids = LuaTable()
                members = relation.get("members") if isinstance(relation, LuaTable) else None
                n = 0
                if isinstance(members, LuaTable):
                    for i in range(1, members.length() + 1):
                        m = members.get(i)
                        if m.get("type") == mtype:
                            n += 1
                            ids.set(n, m.get("ref"))
                return ids

            return f

        osm.set("define_table", lambda options=None: define_table(options))
        osm.set("define_node_table", _define_kind_table("node"))
        osm.set("define_way_table", _define_kind_table("way"))
        osm.set("define_relation_table", _define_kind_table("relation"))
        osm.set("define_area_table", _define_kind_table("area"))
        def define_locator(options=None):
            """Locator regions probed per object with exact
            intersection tests (flex-lua-locator.cpp:73-80; regions
            are config-scoped and rebuilt per partition when the chunk
            re-runs, so nothing ships).  add_from_db runs its SQL
            against the adapter's region database (DuckDB stand-in for
            the live-PG source, which this sandbox cannot reach) and
            expects (name, geometry WKB) rows."""
            from osm2pgsql_spark.operators.locator import LocatorIndex

            if options is not None and not isinstance(options, LuaTable):
                raise LuaRuntimeError(
                    "Argument #1 to 'define_locator' must be a Lua table.")
            nm = "locator"
            if isinstance(options, LuaTable) and options.get("name") is not None:
                nm = str(options.get("name"))
            ix = LocatorIndex()
            rt.locators[nm] = ix
            h = LuaTable()
            h.hash["__locator__"] = nm

            def _check_self(s):
                # dot-call instead of colon-call passes no (or a wrong)
                # self (locator.feature: 'name() with . instead of :')
                if not (isinstance(s, LuaTable) and "__locator__" in s.hash):
                    raise LuaRuntimeError(
                        "Argument #1 has to be of type osm2pgsql.Locator.")

            def l_add_bbox(self_h=None, name=None, min_x=None, min_y=None,
                           max_x=None, max_y=None):
                _check_self(self_h)
                if max_y is None:
                    raise LuaRuntimeError(
                        "Need locator, name and 4 coordinates as arguments")
                ix.add_bbox(name, min_x, min_y, max_x, max_y)

            def l_add_from_db(self_h, query=None):
                if query is None:
                    raise LuaRuntimeError("Need locator and SQL query arguments")
                if rt.region_db is None:
                    raise LuaRuntimeError(
                        "add_from_db needs a region database: pass "
                        "region_db=<duckdb path> to LuaFlexAdapter / "
                        "--region-db to import_tool (live PostgreSQL is "
                        "not reachable in this environment)")
                import duckdb

                from osm2pgsql_spark.functions import geometry as G

                con = duckdb.connect(rt.region_db, read_only=True)
                try:
                    for name, wkb in con.execute(str(query)).fetchall():
                        g = G.from_wkb(bytes(wkb))
                        if g is not None:
                            ix.add_polygon(str(name), g)
                finally:
                    con.close()

            def l_all_intersecting(self_h=None, geom=None):
                _check_self(self_h)
                if geom is None:
                    raise LuaRuntimeError(
                        "Error in 'all_intersecting': Need locator and "
                        "geometry arguments")
                if not _is_geom(geom):
                    raise LuaRuntimeError("Second argument must be a geometry")
                out = LuaTable()
                for i, name in enumerate(
                        ix.all_intersecting(geom.hash.get(_GEOM_KEY)), start=1):
                    out.set(i, name)
                return out

            def l_first_intersecting(self_h=None, geom=None):
                _check_self(self_h)
                if geom is None:
                    raise LuaRuntimeError(
                        "Error in 'first_intersecting': Need locator and "
                        "geometry arguments")
                if not _is_geom(geom):
                    raise LuaRuntimeError("Second argument must be a geometry")
                return ix.first_intersecting(geom.hash.get(_GEOM_KEY))

            def l_name(s=None):
                _check_self(s)
                return nm

            h.set("name", l_name)
            h.set("add_bbox", l_add_bbox)
            h.set("add_from_db", l_add_from_db)
            h.set("all_intersecting", l_all_intersecting)
            h.set("first_intersecting", l_first_intersecting)
            return h

        def run_gen(strategy=None, options=None):
            # osm2pgsql-gen's Lua surface (src/gen/osm2pgsql-gen.cpp:
            # 304-360): record the (strategy, params) invocation; the
            # gen tool executes them after process_gen() returns
            if not isinstance(strategy, str):
                raise LuaRuntimeError(
                    "Argument #1 to 'run_gen' must be a string naming "
                    "the strategy.")
            opts = lua_to_py(options) if isinstance(options, LuaTable) else {}
            rt.gen_runs.append((strategy, opts))

        def run_sql(options=None):
            opts = lua_to_py(options) if isinstance(options, LuaTable) else {}
            rt.gen_runs.append(("sql", opts))

        osm.set("run_gen", run_gen)
        osm.set("run_sql", run_sql)
        osm.set("define_locator", lambda options=None: define_locator(options))
        osm.set("define_expire_output", lambda options=None: define_expire_output(options))
        osm.set("has_prefix", has_prefix)
        osm.set("has_suffix", has_suffix)
        osm.set("clamp", clamp)
        osm.set("make_check_values_func", make_check_values_func)
        osm.set("make_clean_tags_func", make_clean_tags_func)
        osm.set("trim", trim)
        osm.set("split_unit", split_unit)
        osm.set("split_string", split_string)
        osm.set("node_member_ids", _member_ids("n"))
        osm.set("way_member_ids", _member_ids("w"))
        osm.set("relation_member_ids", _member_ids("r"))
        osm.set("stage", self.stage)
        osm.set("mode", self.mode)
        osm.set("version", "2.0.0-spark")
        # the Table/Geometry class tables and the properties table
        # (lua-basics BDD feature: type(osm2pgsql.Table) == 'table',
        # properties values are STRINGS)
        osm.set("Table", LuaTable())
        osm.set("Geometry", LuaTable())
        props = LuaTable()
        props.set("attributes", "false")
        props.set("prefix", "planet_osm")
        props.set("updatable", "false")
        osm.set("properties", props)
        interp.globals.set("osm2pgsql", osm)
        return osm

    # -- inserts

    _current_kind: str | None = None

    def _do_insert(self, spec: LuaTableSpec, row: LuaTable):
        k = self._current_kind
        if k is None and spec.ids_type != "none":
            # insert from an after_* callback: the reference writes id
            # columns from the context object and errors without one
            # (output-flex.cpp:766-826 "No context object for column");
            # ids=nil log tables are the sanctioned use
            raise LuaRuntimeError(
                f"No context object for column '{spec.id_column}'.")
        err = None if k is None else rejected_kind(spec.name, spec.ids_type, k)
        if err is not None:
            raise LuaRuntimeError(err)
        self.inserts.append((spec.name, row))
        if spec.cache and self._current_id is not None:
            self.id_cache.setdefault(spec.name, set()).add(self._current_id)

    _current_id: int | None = None

    # -- state capture / injection

    _SKIP_GLOBALS = frozenset({
        "osm2pgsql", "string", "table", "math", "os", "_G", "_VERSION",
        "print", "type", "tostring", "tonumber", "pairs", "ipairs",
        "next", "select", "error", "assert", "pcall", "rawget", "rawset",
        "rawequal", "setmetatable", "getmetatable", "require", "unpack",
    })

    @staticmethod
    def _capturable(v) -> bool:
        # plain-data tables AND bare scalars: counters and flags like
        # track-changes.lua's file_reading_in_progress must flow
        # between phases (reference state is one sequential VM;
        # ours re-materializes per partition)
        if isinstance(v, (bool, int, float, str)):
            return True
        return isinstance(v, LuaTable) and _is_plain_data(v)

    def _state_slots(self):
        """(container, name, value) triples for every captureable
        variable: chunk file-locals and user globals holding plain-data
        tables or scalars."""
        slots = []
        cs = self.interp.chunk_scope
        if cs is not None:
            for name, v in cs.vars.items():
                if self._capturable(v):
                    slots.append(("local", name, v))
        for name, v in self.interp.globals.hash.items():
            if name in self._SKIP_GLOBALS or not isinstance(name, str):
                continue
            if self._capturable(v):
                slots.append(("global", name, v))
        return slots

    def snapshot_baseline(self):
        """Record post-injection values; extract_state emits only
        variables that changed since."""
        self._baseline = {}
        self._baseline_vals = {}
        for kind, name, v in self._state_slots():
            enc = lua_to_py(v)
            self._baseline[(kind, name)] = json.dumps(
                enc, sort_keys=True, default=str)
            self._baseline_vals[(kind, name)] = enc

    def extract_state(self) -> dict:
        out_vars = {}
        base = self._baseline or {}
        base_vals = self._baseline_vals or {}
        for kind, name, v in self._state_slots():
            enc = lua_to_py(v)
            if base.get((kind, name)) == json.dumps(enc, sort_keys=True, default=str):
                continue
            bv = base_vals.get((kind, name))
            if name in self._counters and _is_num(enc) and _is_num(bv):
                # counter: ship the increment, not the absolute —
                # partitions' deltas then sum to the sequential answer
                out_vars[f"{kind}:{name}"] = {"__nd__": enc - bv}
                continue
            out_vars[f"{kind}:{name}"] = enc
        state = {}
        if out_vars:
            state["vars"] = out_vars
        # dict-of-ids (not a list): merge_state's dict-merge then
        # UNIONS per-partition caches instead of replacing them
        idc = {t: {i: True for i in s} for t, s in self.id_cache.items() if s}
        if idc:
            state["idcache"] = idc
        return state

    def inject_state(self, state: dict):
        for slot, v in (state.get("vars") or {}).items():
            kind, name = slot.split(":", 1)
            if _is_nd(v):
                # counter delta applies on top of this runtime's
                # chunk-initial value (a fresh runtime just ran the
                # chunk, so "current" IS the base)
                if kind == "local" and self.interp.chunk_scope is not None \
                        and name in self.interp.chunk_scope.vars:
                    cur = lua_to_py(self.interp.chunk_scope.vars[name])
                else:
                    cur = lua_to_py(self.interp.globals.get(name))
                v = (cur if _is_num(cur) else 0) + v["__nd__"]
            lv = py_to_lua(v)
            if kind == "local" and self.interp.chunk_scope is not None \
                    and name in self.interp.chunk_scope.vars:
                self.interp.chunk_scope.vars[name] = lv
            else:
                self.interp.globals.set(name, lv)
        for t, ids in (state.get("idcache") or {}).items():
            self.id_cache.setdefault(t, set()).update(
                ids.keys() if isinstance(ids, dict) else ids)
        self.snapshot_baseline()

    def _resolve_slot_table(self, slot: str) -> LuaTable:
        """The LuaTable behind a 'local:name' / 'global:name' state
        slot, created empty if the chunk left it nil."""
        kind, name = slot.split(":", 1)
        scope_vars = (self.interp.chunk_scope.vars
                      if kind == "local" and self.interp.chunk_scope is not None
                      else None)
        if scope_vars is not None and name in scope_vars:
            cur = scope_vars[name]
            if not isinstance(cur, LuaTable):
                cur = LuaTable()
                scope_vars[name] = cur
            return cur
        cur = self.interp.globals.get(name)
        if not isinstance(cur, LuaTable):
            cur = LuaTable()
            self.interp.globals.set(name, cur)
        return cur

    def apply_keyed(self, entries, oid: int) -> list:
        """Spill-path stage 2: install the joined per-id state entries
        (slot, pickled sub-value) for the CURRENT object's id, merging
        with whatever the broadcast state already holds for that key
        (a small partition may have shipped the same key in its blob).
        Returns revert handles."""
        applied = []
        for e in entries:
            slot = e["slot"]
            sub = pickle.loads(bytes(e["blob"]))
            tbl = self._resolve_slot_table(slot)
            cur = tbl.get(oid)
            if cur is not None:
                sub = merge_state(lua_to_py(cur), sub)
            tbl.set(oid, py_to_lua(sub))
            applied.append((tbl, oid, cur))
        return applied

    def revert_keyed(self, applied: list) -> None:
        """Remove per-row injected entries so the partition's state
        delta stays empty (extract_state compares against the
        post-inject baseline) and memory stays bounded."""
        for tbl, oid, cur in applied:
            tbl.set(oid, cur)

    # -- object construction

    def make_object(self, kind: str, rec: dict) -> LuaTable:
        import pandas as pd

        from osm2pgsql_spark.functions import geometry as G

        meta = self._geom_meta
        obj = LuaTable()
        obj.set("id", int(rec["id"]))
        obj.set("type", kind)  # 'node'|'way'|'relation' (track-changes.lua)
        tags = LuaTable()
        for k, v in (rec.get("tags") or {}).items():
            tags.set(str(k), str(v))
        obj.set("tags", tags)
        for attr in ("version", "changeset", "uid"):
            v = rec.get(attr)
            if v is not None and v == v:
                obj.set(attr, int(v))
        u = rec.get("user")
        if u is not None and not (isinstance(u, float) and u != u):
            obj.set("user", str(u))
        vis = rec.get("visible")
        if vis is not None and vis == vis:
            obj.set("visible", bool(vis))
        ts = rec.get("ts")
        if ts is not None and not pd.isna(ts):
            # seconds since epoch (output-flex.cpp:143-145)
            tsv = pd.Timestamp(ts)
            if tsv.tzinfo is None:
                tsv = tsv.tz_localize("UTC")
            obj.set("timestamp", int(tsv.timestamp()))

        def grab_tag(self_o, key=None):
            if key is None:
                raise LuaRuntimeError("Missing tag key")
            t = self_o.get("tags")
            v = t.get(key)
            t.set(key, None)
            return v

        obj.set("grab_tag", grab_tag)

        def null_geom():
            return _mk_geom(None, 4326, meta)

        if kind == "node":
            lon, lat = rec.get("lon"), rec.get("lat")
            has_loc = (
                lon is not None and lat is not None
                and lon == lon and lat == lat
            )

            def as_point(self_o, *a):
                if a:
                    raise LuaRuntimeError("No parameter(s) needed for as_point().")
                if not has_loc:
                    return null_geom()
                return _mk_geom(G.make_point(float(lon), float(lat)), 4326, meta)

            obj.set("as_point", as_point)
            # node as_multipoint == its point (output-flex.cpp:525-540)
            obj.set("as_multipoint", as_point)

            def get_bbox(self_o):
                if not has_loc:
                    return ()
                return (float(lon), float(lat), float(lon), float(lat))

            obj.set("get_bbox", get_bbox)
        elif kind == "way":
            refs = rec.get("refs")
            refs = [] if refs is None else [int(r) for r in refs]
            nodes_t = LuaTable()
            for i, r in enumerate(refs, start=1):
                nodes_t.set(i, r)
            obj.set("nodes", nodes_t)
            obj.set("is_closed", len(refs) >= 2 and refs[0] == refs[-1])
            pts = rec.get("pts")
            coords = (
                [(p["x"], p["y"]) for p in pts]
                if pts is not None and len(pts) else None
            )

            def as_linestring(self_o):
                if coords is None or len(coords) < 2:
                    return null_geom()
                return _mk_geom(G.make_linestring(coords), 4326, meta)

            def as_polygon(self_o):
                if coords is None:
                    return null_geom()
                return _mk_geom(G.make_polygon_from_way(coords), 4326, meta)

            def as_point(self_o, n=None):
                # 1-based node index; negative counts from the back;
                # out of range -> null geometry (output-flex.cpp:453-497)
                if coords is None:
                    return null_geom()
                i = 1 if n is None else int(n)
                if i < 0:
                    i += len(coords) + 1
                if i < 1 or i > len(coords):
                    return null_geom()
                x, y = coords[i - 1]
                return _mk_geom(G.make_point(float(x), float(y)), 4326, meta)

            def get_bbox(self_o):
                if coords is None:
                    return ()
                xs = [c[0] for c in coords]
                ys = [c[1] for c in coords]
                return (float(min(xs)), float(min(ys)),
                        float(max(xs)), float(max(ys)))

            obj.set("as_linestring", as_linestring)
            obj.set("as_polygon", as_polygon)
            obj.set("as_point", as_point)
            # way as_multilinestring/as_multipolygon return the way's
            # own linestring/polygon (output-flex.cpp:544-583)
            obj.set("as_multilinestring", as_linestring)
            obj.set("as_multipolygon", as_polygon)
            obj.set("get_bbox", get_bbox)
        else:
            members = rec.get("members")
            mt = LuaTable()
            if members is not None:
                for i, m in enumerate(members, start=1):
                    e = LuaTable()
                    e.set("type", m["type"])
                    e.set("ref", int(m["ref"]))
                    e.set("role", m["role"])
                    mt.set(i, e)
            obj.set("members", mt)

            def geom_from_col(col):
                def f(self_o):
                    wkb = rec.get(col)
                    if wkb is None:
                        return null_geom()
                    return _mk_geom(G.from_wkb(bytes(wkb)), 4326, meta)

                return f

            obj.set("as_multipolygon", geom_from_col("__mpoly"))
            obj.set("as_multilinestring", geom_from_col("__mline"))
            obj.set("as_multipoint", geom_from_col("__mpoint"))
            obj.set("as_geometrycollection", geom_from_col("__mcoll"))

            def get_bbox(self_o):
                best = None
                for col in ("__mline", "__mpoint", "__mpoly"):
                    wkb = rec.get(col)
                    if wkb is None:
                        continue
                    bb = G.get_bbox(G.from_wkb(bytes(wkb)))
                    if bb is None:
                        continue
                    best = bb if best is None else (
                        min(best[0], bb[0]), min(best[1], bb[1]),
                        max(best[2], bb[2]), max(best[3], bb[3]))
                if best is None:
                    return ()
                return tuple(float(v) for v in best)

            obj.set("get_bbox", get_bbox)
        return obj

    # -- processing

    def callback(self, kind: str, tagged: bool):
        name = f"process_{kind}" if tagged else f"process_untagged_{kind}"
        return self._osm_table.get(name)

    def run_after_callbacks(self, upto_kind: str, stage: int = 1):
        """Emulate file-order lifecycle callbacks: before processing
        <upto_kind>, the after_<k> of every earlier kind has fired
        (objects are ordered node/way/relation in OSM files; reference
        calls after_nodes/after_ways/after_relations at the
        boundaries).  Stage 2 runs after the whole file."""
        order = ("node", "way", "relation")
        n = 3 if stage >= 2 else order.index(upto_kind)
        for k in order[:n]:
            fn = self._osm_table.get(f"after_{k}s")
            if fn is not None:
                self.interp.call(fn, [])

    def has_any_callback(self, kind: str) -> bool:
        return (self._osm_table.get(f"process_{kind}") is not None
                or self._osm_table.get(f"process_untagged_{kind}") is not None)

    def has_select_members(self) -> bool:
        return self._osm_table.get("select_relation_members") is not None

    def collect_gen_runs(self) -> list[tuple[str, dict]]:
        """Call the config's process_gen() (if any) and return the
        recorded run_gen/run_sql invocations in order."""
        self.gen_runs = []
        fn = self._osm_table.get("process_gen")
        if fn is not None:
            self.interp.call(fn, [])
        return list(self.gen_runs)

    def process_deleted(self, kind: str, rec: dict) -> list[tuple]:
        """process_deleted_<kind> for objects removed by a diff
        (output-flex.cpp:1212-1245: the callback sees the deleted
        object's id/attributes before its rows are removed)."""
        fn = self._osm_table.get(f"process_deleted_{kind}")
        rows = []
        if fn is not None:
            oid = int(rec["id"])
            obj = self.make_object(kind, rec)
            self.inserts = []
            self._current_id = oid
            self._current_kind = kind
            try:
                self.interp.call(fn, [obj])
            finally:
                self._current_id = None
                self._current_kind = None
            for tname, row in self.inserts:
                rows.append(self._encode_insert(tname, kind, oid, row))
            self.inserts = []
        return rows

    def has_deleted_callback(self, kind: str) -> bool:
        return self._osm_table.get(f"process_deleted_{kind}") is not None

    def process(self, kind: str, rec: dict) -> list[tuple]:
        """-> list of unified-frame rows for this object."""
        tagged = bool(rec.get("tags"))
        fn = self.callback(kind, tagged)
        rows = []
        oid = int(rec["id"])
        if fn is not None:
            obj = self.make_object(kind, rec)
            self.inserts = []
            self._current_id = oid
            self._current_kind = kind
            try:
                self.interp.call(fn, [obj])
            finally:
                self._current_id = None
                self._current_kind = None
            for tname, row in self.inserts:
                rows.append(self._encode_insert(tname, kind, oid, row))
            self.inserts = []
        if kind == "relation" and self.has_select_members():
            sel = self._osm_table.get("select_relation_members")
            res = self.interp.call(sel, [self.make_object(kind, rec)])
            res = res[0] if res else None
            if isinstance(res, LuaTable):
                # {ways = {...}, nodes = {...}} — both member kinds can
                # be marked for stage 2 (output-flex.cpp:944-973;
                # public-transport.lua marks stop NODES)
                for key, kchar in (("ways", "w"), ("nodes", "n")):
                    lst = res.get(key)
                    if isinstance(lst, LuaTable):
                        for i in range(1, lst.length() + 1):
                            rows.append((
                                _MARK_TBL, kchar, int(lst.get(i)),
                                None, None, None))
        return rows

    def _encode_insert(self, tname: str, kind: str, oid: int, row: LuaTable):
        spec = self.specs[tname]
        vals: dict[str, str] = {}
        geom = None
        geom_srid = None
        primary_geom_col = next(
            (c.name for c in spec.columns if c.type in GEOM_TYPES), None)
        for c in spec.columns:
            v = row.get(c.name)
            if v is None:
                continue
            if _is_geom(v):
                g = v.hash.get(_GEOM_KEY)
                wkb = None
                if g is not None:
                    from osm2pgsql_spark.functions import geometry as G

                    wkb = G.to_wkb(g)
                if c.name == primary_geom_col:
                    geom = wkb
                    geom_srid = int(v.hash.get(_SRID_KEY) or 4326)
                elif wkb is not None:
                    # secondary geometry columns travel hex-encoded in
                    # vals (the unified frame has one binary slot)
                    vals[GEOM_HEX + c.name] = wkb.hex()
                    vals[GEOM_SRID + c.name] = str(
                        int(v.hash.get(_SRID_KEY) or 4326))
                continue
            if isinstance(v, LuaTable):
                vals[c.name] = json.dumps(
                    lua_to_py(v), sort_keys=True, separators=(",", ":"))
            elif c.type == "direction" and isinstance(v, (bool, int, float)):
                # the reference distinguishes Lua TYPES for direction
                # columns: boolean -> 0/1, number -> sgn
                # (flex-write.cpp:417-427); the string forms go through
                # the shared cast
                if isinstance(v, bool):
                    vals[c.name] = "1" if v else "0"
                else:
                    vals[c.name] = "1" if v > 0 else ("-1" if v < 0 else "0")
            elif isinstance(v, bool):
                vals[c.name] = "true" if v else "false"
            else:
                vals[c.name] = lua_tostring(v)
        return (tname, kind[0], oid, vals, geom, geom_srid)


# --------------------------------------------------------- phase mapper


def _phase_mapper(source: str, kind: str, state_blob,
                  stage: int, mode: str, region_db: str | None = None,
                  deleted: bool = False, spill_threshold: int | None = None):
    """mapInPandas factory for one processing phase.  Emits insert rows
    + per-partition state-delta rows.  deleted=True routes rows through
    process_deleted_<kind> instead of process_<kind>.

    state_blob is either raw pickle bytes or a Spark Broadcast of them
    — two-stage state (w2r maps over every route way on the planet)
    can be large, and a broadcast ships it ONCE per executor via the
    torrent protocol instead of once per task inside the closure.

    spill_threshold: an id-keyed dict state var whose per-partition
    delta exceeds this many entries is emitted as per-KEY rows
    (osm_kind='k', osm_id=key, vals={'slot': var}, geom=pickled
    sub-value) instead of inside the one pickled blob — the driver
    never materializes it; stage 2 joins the rows back onto the
    marked objects by id (LuaFlexAdapter.run).  The input frame may
    carry a ``__kstate__`` column (the join result): those entries
    are injected per row for the row's own id and reverted after."""

    def mapper(batches):
        import pandas as pd

        rt = LuaFlexRuntime(source, mode=mode, stage=stage,
                            region_db=region_db)
        blob = state_blob.value if hasattr(state_blob, "value") else state_blob
        # NOTE: after_* callbacks do NOT fire here — they are global
        # once-per-file lifecycle events, fired ONCE on the driver at
        # phase boundaries (LuaFlexAdapter.run), their effects arriving
        # via the injected state
        rt.inject_state(pickle.loads(blob) if blob else {})
        cols = ["tbl", "osm_kind", "osm_id", "vals", "geom", "geom_srid"]
        any_cb = (rt.has_deleted_callback(kind) if deleted
                  else rt.has_any_callback(kind) or (
                      kind == "relation" and rt.has_select_members()))
        for pdf in batches:
            rows = []
            if any_cb:
                for rec in pdf.to_dict("records"):
                    inj = rec.get("__kstate__")
                    has_inj = (inj is not None
                               and not isinstance(inj, float)
                               and len(inj) > 0)
                    applied = (rt.apply_keyed(inj, int(rec["id"]))
                               if has_inj else None)
                    rows.extend(
                        rt.process_deleted(kind, rec) if deleted
                        else rt.process(kind, rec))
                    if applied:
                        rt.revert_keyed(applied)
            yield pd.DataFrame(rows, columns=cols)
        state = rt.extract_state()
        spill = []
        if spill_threshold is not None and state:
            vars_d = state.get("vars") or {}
            for slot, v in list(vars_d.items()):
                if (isinstance(v, dict) and not _is_nd(v)
                        and len(v) > spill_threshold
                        and all(isinstance(k, int) and not isinstance(k, bool)
                                for k in v)):
                    for key, sub in v.items():
                        spill.append((_STATE_TBL, "k", key, {"slot": slot},
                                      pickle.dumps(sub), None))
                    del vars_d[slot]
            if not vars_d:
                state.pop("vars", None)
        if spill:
            yield pd.DataFrame(spill, columns=cols)
        if state:
            yield pd.DataFrame(
                [(_STATE_TBL, kind[0], 0, None, pickle.dumps(state), None)],
                columns=cols,
            )

    return mapper


# -------------------------------------------------------------- adapter


def flex_config_of(probe: LuaFlexRuntime) -> FlexConfig:
    """The tables and expire outputs a config's chunk defined, as a
    FlexConfig without insert rules: the schema both the declarative
    compiler (plans/lua_config.py) and the adapter below project into."""
    fc = FlexConfig()
    for spec in probe.specs.values():
        fc.define_table(spec.name, ids=spec.ids_type, columns=spec.columns)
    for eo in probe.expire_specs:
        kw = {"maxzoom": eo["maxzoom"]}
        if "minzoom" in eo:
            kw["minzoom"] = eo["minzoom"]
        fc.define_expire_output(eo["name"], **kw)
    return fc


class LuaFlexAdapter:
    """Drives a procedural Lua config end-to-end: phased distributed
    callback execution + typed table projection through the flex DSL.

    API mirrors FlexConfig.run so import_tool's --style path can use
    either interchangeably."""

    def __init__(self, source: str, mode: str = "create",
                 region_db: str | None = None):
        # one discovery run of the chunk: table specs, callbacks present
        self._adopt(LuaFlexRuntime(source, mode=mode, region_db=region_db))

    @classmethod
    def from_probe(cls, probe: LuaFlexRuntime) -> "LuaFlexAdapter":
        """The adapter of a config whose chunk `probe` already ran."""
        adapter = cls.__new__(cls)
        adapter._adopt(probe)
        return adapter

    def _adopt(self, probe: LuaFlexRuntime) -> None:
        import os

        self.source = probe.source
        self.mode = probe.mode
        self.region_db = probe.region_db
        # per-partition entry count above which an id-keyed state dict
        # spills to distributed per-key rows instead of the driver
        # merge + broadcast (override with the env var; 0 forces the
        # spill path, e.g. for equality tests)
        self._spill_threshold = int(os.environ.get(
            "SPARK_GRAFT_LUA_STATE_SPILL", "200000"))
        if not probe.specs:
            from osm2pgsql_spark.plans.lua_config import LuaConfigError

            raise LuaConfigError("config defines no tables")
        self.specs = probe.specs
        self._kinds = [k for k in ("node", "way", "relation")
                       if probe.has_any_callback(k)]
        # with no process_untagged_<kind>, untagged objects are never
        # passed to Lua (output-flex.cpp:1135,1151,1163) — filter them
        # OUT in the DataFrame plan, so the planet's billions of
        # location-only nodes never reach the Python interpreter
        self._wants_untagged = {
            k: probe.callback(k, tagged=False) is not None
            for k in ("node", "way", "relation")
        }
        self._select_members = probe.has_select_members()
        self.expire_specs = probe.expire_specs
        self._flex = flex_config_of(probe)
        # order-dependent scalar state (running max, last-seen id,
        # string accumulator…) cannot merge exactly across partitions;
        # the reference's single sequential VM is exact, so such
        # configs drop to ONE id-ordered partition per phase.
        # SPARK_GRAFT_LUA_EXACT_STATE: auto (classify) | 1 (force) |
        # 0 (keep distributed last-write, the pre-round-8 behavior)
        scalar_slots, baselines = set(), {}
        for _kind, name, v in probe._state_slots():
            if isinstance(v, (bool, int, float, str)):
                scalar_slots.add(name)
                baselines[name] = v
        self._unsafe_scalars = _scalar_merge_unsafe(
            self.source, probe._counters, scalar_slots, baselines)
        seq_env = os.environ.get("SPARK_GRAFT_LUA_EXACT_STATE", "auto")
        self._sequential = seq_env == "1" or (
            seq_env == "auto" and bool(self._unsafe_scalars))
        if self._sequential and self._unsafe_scalars:
            import warnings

            warnings.warn(
                "config mutates order-dependent scalar state "
                f"({', '.join(sorted(self._unsafe_scalars))}); running "
                "callback phases on one id-ordered partition for exact "
                "sequential semantics", stacklevel=2)

    @property
    def tables(self):
        return self._flex.tables

    def pg_indexes(self) -> dict[str, list]:
        """{table: [FlexIndex...]} for the PG DDL path
        (sinks/live.pg_import_transcript)."""
        return {s.name: list(s.indexes) for s in self.specs.values()}

    def run(
        self,
        nodes: DataFrame | None = None,
        ways: DataFrame | None = None,
        relations: DataFrame | None = None,
        way_geoms: DataFrame | None = None,
        middle_ways: DataFrame | None = None,
        middle_nodes: DataFrame | None = None,
    ) -> dict[str, DataFrame]:
        """middle_ways/middle_nodes: member-geometry resolution frames
        when they differ from the callback-input frames — the append
        file pass feeds only the diff's objects to Lua but resolves
        relation members against the FULL updated middle, like the
        reference's middle-backed buffer (output-flex.cpp:1175-1282).
        Default: the input frames themselves (create mode)."""
        from osm2pgsql_spark.operators import assembly

        src_text = self.source

        if way_geoms is None and ways is not None and nodes is not None:
            refs = ways.select(
                F.col("id").alias("way_id"), F.posexplode("refs").alias("pos", "ref")
            )
            nloc = nodes.select(F.col("id").alias("node_id"), "lon", "lat")
            way_geoms = assembly.assemble_points(
                refs, nloc, way_id="way_id", pos="pos", ref="ref",
                node_id="node_id", x="lon", y="lat",
            )

        preps = {
            "node": self._prep_nodes(nodes),
            "way": self._prep_ways(ways, way_geoms),
            "relation": self._prep_relations(
                relations,
                ways if middle_ways is None else middle_ways,
                nodes if middle_nodes is None else middle_nodes,
            ),
        }

        state: dict = {}
        frames: list[DataFrame] = []
        keyed: list[DataFrame] = []
        node_frame = None
        way_frame = None
        fired: set = set()
        after_rows: list = []

        # reference processing order: nodes -> ways (stage 1) ->
        # relations -> marked ways (stage 2), with Lua state flowing
        # forward (output-flex.cpp:1506-1613)
        if "node" in self._kinds and preps["node"] is not None:
            node_frame = self._exec_phase(preps["node"], "node", 1, state,
                                          keyed_sink=keyed)
        self._fire_afters(state, fired, after_rows, "way")
        if "way" in self._kinds and preps["way"] is not None:
            way_frame = self._exec_phase(preps["way"], "way", 1, state,
                                         keyed_sink=keyed)
        self._fire_afters(state, fired, after_rows, "relation")
        marks = {"n": None, "w": None}
        if (("relation" in self._kinds) or self._select_members) \
                and preps["relation"] is not None:
            df = self._exec_phase(preps["relation"], "relation", 1, state,
                                  keyed_sink=keyed)
            frames.append(
                df.where(~F.col("tbl").isin(_STATE_TBL, _MARK_TBL)))
            marks = self._collect_marks(df)
        # input exhausted: the remaining after_* (incl. after_relations)
        # fire before any stage-2 reprocessing sees the state
        self._fire_afters(state, fired, after_rows, None)
        # stage 2: marked nodes/ways are REPROCESSED with the full
        # relation state; their stage-1 rows are dropped
        # (delete-then-reprocess, output-flex.cpp:1506-1613)
        for kchar, kind, s1_frame in (("n", "node", node_frame),
                                      ("w", "way", way_frame)):
            if s1_frame is None:
                continue
            s1 = s1_frame.where(~F.col("tbl").isin(_STATE_TBL, _MARK_TBL))
            m = marks[kchar]
            if m is not None and self._select_members:
                # delete-then-reprocess can only delete from id-tracked
                # tables; ids=nil log tables have no id to delete by, so
                # their stage-1 rows survive next to the stage-2 rows
                # exactly like the reference (flex-table.cpp delete path
                # requires an id column)
                id_tracked = [nm for nm, sp in self.specs.items()
                              if sp.ids_type != "none"]
                log_rows = s1.where(~F.col("tbl").isin(id_tracked))
                s1 = (s1.where(F.col("tbl").isin(id_tracked))
                      .join(m, F.col("osm_id") == F.col("__mark_id"),
                            "left_anti")
                      .unionByName(log_rows))
                marked = preps[kind].join(
                    m, preps[kind]["id"] == F.col("__mark_id"), "left_semi")
                marked = self._attach_keyed_state(marked, keyed)
                s2 = self._exec_phase(marked, kind, 2, state)
                frames.append(
                    s2.where(~F.col("tbl").isin(_STATE_TBL, _MARK_TBL)))
            frames.append(s1)

        spark = next(
            (p.sparkSession for p in preps.values() if p is not None), None)
        return self._project_frames(frames, after_rows, spark, state)

    # --- shared phase machinery (run + run_append)

    def _exec_phase(self, prep, kind: str, stage: int, state: dict,
                    deleted: bool = False,
                    keyed_sink: list | None = None) -> DataFrame:
        """One distributed callback pass; merges the partitions' state
        deltas into `state` (mutated in place).

        keyed_sink: when given, oversized id-keyed state vars spill as
        per-key rows that stay DISTRIBUTED — appended here as a
        DataFrame instead of being pickled into the driver dict
        (planet-scale w2r would be 10^7-10^8 entries, driver-memory-
        bound on the broadcast path)."""
        if self._sequential:
            # exact sequential semantics: one partition, reference
            # input order (type-sorted files are id-ordered per kind)
            prep = prep.orderBy("id").coalesce(1)
        blob = None
        if state:
            # broadcast, not closure-capture: stage-2 state scales
            # with the route-relation count, and a broadcast ships
            # per executor instead of per task
            blob = prep.sparkSession.sparkContext.broadcast(
                pickle.dumps(state))
        df = prep.mapInPandas(
            _phase_mapper(self.source, kind, blob, stage, self.mode,
                          self.region_db, deleted=deleted,
                          spill_threshold=(self._spill_threshold
                                           if keyed_sink is not None
                                           else None)),
            CALLBACK_SCHEMA,
        ).localCheckpoint()
        is_state = F.col("tbl") == _STATE_TBL
        deltas = df.where(is_state & (F.col("osm_kind") != "k")) \
            .select("geom").collect()
        for r in deltas:
            merge_state(state, pickle.loads(bytes(r["geom"])))
        if keyed_sink is not None:
            keyed_sink.append(
                df.where(is_state & (F.col("osm_kind") == "k"))
                .select("osm_id", F.col("vals")["slot"].alias("slot"),
                        F.col("geom").alias("blob")))
        return df

    def _attach_keyed_state(self, marked: DataFrame,
                            keyed: list[DataFrame]) -> DataFrame:
        """Join spilled per-key state rows onto the marked objects by
        id (the w2r[object.id] access pattern of route-relations.lua /
        public-transport.lua).  Stays fully distributed: the join
        shuffles on the id, never through the driver.  Lookups of keys
        OTHER than the object's own id would return nil on this path —
        identical to the broadcast path only for self-id reads, which
        is the flex two-stage contract (COVERAGE.md)."""
        live = [k for k in keyed if k is not None]
        if not live:
            return marked
        kdf = live[0]
        for k in live[1:]:
            kdf = kdf.unionByName(k)
        k_agg = kdf.groupBy("osm_id").agg(
            F.collect_list(F.struct("slot", "blob")).alias("__kstate__"))
        return marked.join(
            k_agg.withColumnRenamed("osm_id", "__kid"),
            marked["id"] == F.col("__kid"), "left",
        ).drop("__kid")

    def _fire_afters(self, state: dict, fired: set, after_rows: list,
                     upto: str | None):
        """after_nodes/after_ways/after_relations are once-per-file
        lifecycle events (output-flex.cpp: fired at the input's kind
        boundaries).  They run ONCE, here on the driver, against the
        merged state; their state mutations ride the next phase's
        broadcast and their inserts (legal only into ids=nil log
        tables — the reference errors on id columns without a context
        object) are appended as literal rows."""
        order = ("node", "way", "relation")
        n = 3 if upto is None else order.index(upto)
        for k in order[:n]:
            if k in fired:
                continue
            fired.add(k)
            drv = LuaFlexRuntime(self.source, mode=self.mode,
                                 region_db=self.region_db)
            fn = drv._osm_table.get(f"after_{k}s")
            if fn is None:
                continue
            drv.inject_state(state)
            drv.inserts = []
            drv.interp.call(fn, [])
            for tname, row in drv.inserts:
                after_rows.append(drv._encode_insert(tname, "after", 0, row))
            drv.inserts = []
            merge_state(state, drv.extract_state())

    def _collect_marks(self, df: DataFrame) -> dict:
        """Stage-2 mark ids emitted by select_relation_members, per
        member kind ('n'/'w')."""
        mark_frame = df.where(F.col("tbl") == _MARK_TBL).localCheckpoint()
        marks = {}
        for kchar in ("n", "w"):
            marks[kchar] = mark_frame.where(F.col("osm_kind") == kchar) \
                .select(F.col("osm_id").alias("__mark_id")).distinct()
        return marks

    def _project_frames(self, frames: list, after_rows: list, spark,
                        state: dict) -> dict:
        """Union the unified callback frames and project them into the
        typed flex tables."""
        if after_rows and spark is not None:
            from pyspark.sql.types import Row

            frames.append(spark.createDataFrame(
                [Row(tbl=t, osm_kind=k, osm_id=i, vals=v, geom=g,
                     geom_srid=s)
                 for t, k, i, v, g, s in after_rows],
                CALLBACK_SCHEMA))

        # final merged Lua state (counters summed, flags settled) —
        # inspectable by tests and reusable by append drivers
        self.last_state = state

        if not frames:
            return {}
        cb = frames[0]
        for f in frames[1:]:
            cb = cb.unionByName(f)
        cb = cb.localCheckpoint()

        return self._project(cb)

    def run_deleted(
        self,
        nodes: DataFrame | None = None,
        ways: DataFrame | None = None,
        relations: DataFrame | None = None,
    ) -> dict[str, DataFrame]:
        """Run process_deleted_* over objects a diff removes (append
        mode; output-flex.cpp:1212-1245) and project their inserts into
        typed tables.  Input frames carry the entity schema (tags and
        geometry may be absent — the callback sees id + attributes,
        like the reference's deleted-object view)."""
        frames = []
        for kind, df in (("node", nodes), ("way", ways),
                         ("relation", relations)):
            if df is None:
                continue
            cols = [c for c in
                    ("id", "tags", "lon", "lat", "refs", "members",
                     "version", "ts", "changeset", "uid", "user", "visible")
                    if c in df.columns]
            prep = df.select(*cols)
            out = prep.mapInPandas(
                _phase_mapper(self.source, kind, None, 1, "append",
                              self.region_db, deleted=True),
                CALLBACK_SCHEMA,
            )
            frames.append(out.where(~F.col("tbl").isin(_STATE_TBL, _MARK_TBL)))
        if not frames:
            return {}
        cb = frames[0]
        for f in frames[1:]:
            cb = cb.unionByName(f)
        return self._project(cb.localCheckpoint())

    def _project(self, cb: DataFrame) -> dict[str, DataFrame]:
        """The callback frame projected into every typed flex table."""
        return {name: self._flex._callback_rows_for_table(cb, tdef)
                for name, tdef in self._flex.tables.items()}

    # -- per-kind prep frames (the same joins _run_callbacks does,
    #    plus relation member geometry)

    def _tag_filter(self, df, kind):
        if not self._wants_untagged.get(kind):
            return df.where(F.size(F.col("tags")) > 0)
        return df

    def _prep_nodes(self, nodes):
        if nodes is None:
            return None
        attrs = [c for c in ("version", "ts", "changeset", "uid", "user", "visible")
                 if c in nodes.columns]
        return self._tag_filter(
            nodes.select("id", "tags", "lon", "lat", *attrs), "node")

    def _prep_ways(self, ways, way_geoms):
        if ways is None:
            return None
        attrs = [c for c in ("version", "ts", "changeset", "uid", "user", "visible")
                 if c in ways.columns]
        prep = self._tag_filter(ways.select("id", "tags", "refs", *attrs), "way")
        if way_geoms is not None and self._uses(("as_linestring", "as_polygon",
                                                 "as_point", "get_bbox")):
            prep = prep.join(
                way_geoms.withColumnRenamed("way_id", "__gid"),
                prep["id"] == F.col("__gid"),
                "left",
            ).drop("__gid")
        return prep

    def _prep_relations(self, relations, ways, nodes):
        if relations is None:
            return None
        attrs = [c for c in ("version", "ts", "changeset", "uid", "user", "visible")
                 if c in relations.columns]
        prep = self._tag_filter(
            relations.select("id", "tags", "members", *attrs), "relation")
        if ways is None or nodes is None:
            return prep
        from osm2pgsql_spark.operators.relations import (
            relation_collections,
            relation_multilinestrings,
            relation_multipoints,
            relation_multipolygons,
        )

        need = []
        if self._uses(("as_multipolygon",)):
            need.append(("__mpoly", lambda: relation_multipolygons(relations, ways, nodes)))
        if self._uses(("as_multilinestring", "get_bbox")):
            need.append(("__mline", lambda: relation_multilinestrings(relations, ways, nodes)))
        if self._uses(("as_multipoint", "get_bbox")):
            need.append(("__mpoint", lambda: relation_multipoints(relations, nodes)))
        if self._uses(("as_geometrycollection",)):
            need.append(("__mcoll", lambda: relation_collections(relations, ways, nodes)))
        for colname, builder in need:
            built = builder().select(
                F.col("rel_id").alias("__gid"), F.col("geom").alias(colname))
            prep = prep.join(
                built, prep["id"] == built["__gid"], "left").drop("__gid")
        return prep

    def _uses(self, names: tuple) -> bool:
        return any(n in self.source for n in names)
