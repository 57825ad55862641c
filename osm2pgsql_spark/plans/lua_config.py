"""Lua flex-config reader: the declarative fast path.

Real osm2pgsql users own `.lua` flex configs
(/root/reference/src/flex-lua-table.cpp:40-197 table definitions,
flex-config/generic.lua as the canonical example).  A config's
DEFINITIONS have one reader, the interpreter's osm2pgsql API
(plans/lua_flex.py): a probe run of the chunk's top level yields the
tables (with the reference's validation and error wording), the expire
outputs and the chunk's locals.  This module adds the fast path for
the canonical process-callback SHAPES of the generic.lua family,
compiling them into Catalyst rules on the FlexConfig the probe's
definitions build (plans/flex.py).

Honest scope (documented, enforced with clear errors):

* Definitions: whatever the interpreter accepts — `define_table`, its
  node/way/area/relation wrappers and `define_expire_output`.  Insert
  targets resolve through the chunk's variables (`tables.points`,
  `pois`), and scalar locals (the `local srid = 3857` idiom) are
  literals to insert values.
* Recognized helper idioms: `osm2pgsql.make_clean_tags_func(LIST)`
  with LIST a chunk variable (tag cleanup with '*' prefix wildcards)
  and `local function has_area_tags(tags) ... end` (the area=yes/no
  override + key-presence list).
* Recognized callback shapes: straight-line `process_node` /
  `process_way` / `process_relation` bodies made of optional
  clean-tags guards, if/else or if/return chains whose conditions use
  `object.is_closed`, `object.tags.KEY` (truthiness / == / ~=), the
  has_area_tags helper, and the grab_tag('type') variable, and whose
  actions are `table:insert{...}` with `object.tags` /
  `object.tags.KEY` / literals as values and `object:as_point()` /
  `as_linestring()` / `as_polygon()` / `as_multilinestring()` /
  `as_multipolygon()` (optionally `:line_merge()`) geometries.
* Any other callback code raises LuaConfigError inside this module,
  and load_lua_config runs the config on the interpreter instead
  (plans/lua_flex.LuaFlexAdapter, same probe).
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field

from pyspark.sql import Column
from pyspark.sql import functions as F

from osm2pgsql_spark.lua.interp import LuaTable as _LuaValue
from osm2pgsql_spark.lua.interp import tokenize
from osm2pgsql_spark.plans.flex import GEOM_TYPES
from osm2pgsql_spark.plans.lua_flex import (
    LuaFlexAdapter,
    LuaFlexRuntime,
    flex_config_of,
)


class LuaConfigError(ValueError):
    pass


def _unquote(s: str) -> str:
    body = s[1:-1]
    return re.sub(r"\\(.)", lambda m: {"n": "\n", "t": "\t"}.get(m.group(1), m.group(1)), body)


# ------------------------------------------------------ config model

@dataclass
class LuaColumn:
    column: str
    type: str
    projection: int | None = None  # geometry columns: their SRID
    not_null: bool = False
    create_only: bool = False
    expire: str | None = None  # comma-joined expire-output variables


@dataclass
class LuaTable:
    var: str  # the Lua variable it was assigned to, e.g. tables.points
    name: str
    kind: str  # the id scheme: node | way | area | relation |
    #            any_object | any_single | tile | none
    columns: list[LuaColumn] = field(default_factory=list)


@dataclass
class LuaExpireOutput:
    var: str  # e.g. expire_outputs.pois
    maxzoom: int = 12
    minzoom: int | None = None
    filename: str | None = None
    table: str | None = None


@dataclass
class LuaGeom:
    """A geometry expression: object:as_X() [fallback if is_null()]
    followed by a method chain, optionally split per part by a
    `for g in X:geometries()` loop."""

    base: str  # as_point / as_linestring / as_polygon / as_multi...
    methods: list = field(default_factory=list)  # [(name, [args])...]
    fallback: "LuaGeom | None" = None
    split_parts: bool = False


@dataclass
class LuaInsert:
    table_var: str
    condition: "object | None"  # _Expr tree or None
    values: dict  # column -> value expr descriptor
    geometry: str | None  # base constructor of the geometry column
    line_merge: bool = False
    grabs: list = field(default_factory=list)  # grab_tag'd keys
    geom_specs: dict = field(default_factory=dict)  # column -> LuaGeom


@dataclass
class LuaConfigModel:
    tables: list[LuaTable] = field(default_factory=list)
    expire_outputs: list = field(default_factory=list)
    delete_keys: list[str] = field(default_factory=list)
    clean_guard: bool = False  # callbacks skip objects cleaned to empty
    area_keys: list[str] = field(default_factory=list)
    node_inserts: list[LuaInsert] = field(default_factory=list)
    way_inserts: list[LuaInsert] = field(default_factory=list)
    relation_inserts: list[LuaInsert] = field(default_factory=list)


# ------------------------------------------- definitions (the probe)

def _lookup(probe, path: str):
    """The value a dotted variable path (`tables.points`) holds after
    the chunk ran: chunk locals first, then globals; None if unbound."""
    head, *rest = path.split(".")
    scope = probe.interp.chunk_scope.vars
    v = scope[head] if head in scope else probe.interp.globals.get(head)
    for name in rest:
        v = v.get(name) if isinstance(v, _LuaValue) else None
    return v


def _handle_vars(probe, key: str) -> dict[str, str]:
    """{handle name: variable path} for the handles carrying `key`
    (table handles `__handle__`, expire outputs `__name__`) that the
    chunk bound to a variable or to a field of a table held in one."""
    out: dict[str, str] = {}
    for scope in (probe.interp.chunk_scope.vars, probe.interp.globals.hash):
        for name, v in scope.items():
            if not isinstance(v, _LuaValue):
                continue
            if key in v.hash:
                out.setdefault(v.hash[key], name)
                continue
            for fld, sub in v.hash.items():
                if isinstance(sub, _LuaValue) and key in sub.hash:
                    out.setdefault(sub.hash[key], f"{name}.{fld}")
    return out


def _model_of(probe) -> LuaConfigModel:
    """The tables and expire outputs the probe's chunk defined, named
    by the variables their handles were bound to."""
    table_vars = _handle_vars(probe, "__handle__")
    expire_vars = _handle_vars(probe, "__name__")
    model = LuaConfigModel()
    for spec in probe.specs.values():
        model.tables.append(LuaTable(
            var=table_vars.get(spec.name, spec.name), name=spec.name,
            kind=spec.ids_type,
            columns=[LuaColumn(
                column=c.name, type=c.type,
                projection=c.srid if c.type in GEOM_TYPES else None,
                not_null=c.not_null, create_only=c.create_only,
                expire=c.expire and ",".join(
                    expire_vars.get(n, n) for n in c.expire.split(",")),
            ) for c in spec.columns],
        ))
    for eo in probe.expire_specs:
        model.expire_outputs.append(LuaExpireOutput(
            var=expire_vars.get(eo["name"], eo["name"]),
            maxzoom=eo["maxzoom"], minzoom=eo.get("minzoom"),
            filename=eo["filename"], table=eo["table"],
        ))
    return model


def _scan_delete_keys(text: str, probe) -> tuple[list[str], bool]:
    cm = re.search(r"osm2pgsql\.make_clean_tags_func\s*\(\s*([\w.]+)\s*\)", text)
    if cm is None:
        return [], False
    keys = _lookup(probe, cm.group(1))
    if not isinstance(keys, _LuaValue):
        raise LuaConfigError(
            f"make_clean_tags_func references unknown list {cm.group(1)!r}")
    items = [keys.get(i) for i in range(1, keys.length() + 1)]
    if len(items) != len(keys.hash) or not all(isinstance(k, str) for k in items):
        raise LuaConfigError("delete_keys entries must be strings")
    return items, True


def _scan_area_keys(text: str) -> list[str]:
    m = re.search(
        r"local\s+function\s+has_area_tags\s*\(\s*tags\s*\)(.*?)\nend",
        text, re.DOTALL,
    )
    if m is None:
        return []
    body = m.group(1)
    keys = []
    for km in re.finditer(r"tags\.([A-Za-z_]\w*)|tags\[\s*'([^']+)'\s*\]", body):
        k = km.group(1) or km.group(2)
        if k not in ("area",) and k not in keys:
            keys.append(k)
    return keys


# -------------------------------------------- callback shape matching

@dataclass
class _Atom:
    kind: str  # is_closed | tag | tag_eq | tag_ne | area_tags | type_eq | type_ne
    key: str | None = None
    value: str | None = None


@dataclass
class _BoolExpr:
    op: str  # atom | and | or | not
    atom: _Atom | None = None
    args: list = field(default_factory=list)


class _CondParser:
    """Conditions inside recognized callbacks: atoms over object.tags /
    object.is_closed / has_area_tags(...) / the grab_tag('type') var,
    combined with and/or/not and parentheses."""

    def __init__(self, src: str, type_var: str | None):
        # the interpreter's lexer: strings arrive unescaped
        self.toks = tokenize(src)
        self.i = 0
        self.type_var = type_var

    def peek(self):
        return self.toks[self.i] if self.i < len(self.toks) else ("eof", "", -1)

    def next(self):
        t = self.peek()
        self.i += 1
        return t

    def parse(self) -> _BoolExpr:
        e = self.parse_or()
        if self.peek()[0] != "eof":
            raise LuaConfigError(f"trailing tokens in condition: {self.peek()[1]!r}")
        return e

    def parse_or(self) -> _BoolExpr:
        left = self.parse_and()
        while self.peek()[1] == "or":
            self.next()
            right = self.parse_and()
            left = _BoolExpr("or", args=[left, right])
        return left

    def parse_and(self) -> _BoolExpr:
        left = self.parse_not()
        while self.peek()[1] == "and":
            self.next()
            right = self.parse_not()
            left = _BoolExpr("and", args=[left, right])
        return left

    def parse_not(self) -> _BoolExpr:
        if self.peek()[1] == "not":
            self.next()
            return _BoolExpr("not", args=[self.parse_not()])
        return self.parse_atom()

    def parse_atom(self) -> _BoolExpr:
        kind, v, off = self.peek()
        if v == "(":
            self.next()
            e = self.parse_or()
            if self.next()[1] != ")":
                raise LuaConfigError("unbalanced paren in condition")
            return self._maybe_compare_wrapped(e)
        if v == "has_area_tags":
            self.next()
            if self.next()[1] != "(":
                raise LuaConfigError("has_area_tags must be called")
            depth = 1
            while depth:
                t = self.next()[1]
                depth += t == "("
                depth -= t == ")"
            return _BoolExpr("atom", _Atom("area_tags"))
        if v == "object":
            self.next()
            if self.next()[1] != ".":
                raise LuaConfigError("expected '.' after object")
            attr = self.next()[1]
            if attr == "is_closed":
                return _BoolExpr("atom", _Atom("is_closed"))
            if attr != "tags":
                raise LuaConfigError(f"unsupported object attribute {attr!r}")
            key = self._tag_key()
            return self._maybe_compare(_Atom("tag", key=key))
        if kind == "name" and self.type_var is not None and v == self.type_var:
            self.next()
            return self._maybe_compare(_Atom("tag", key="type"))
        raise LuaConfigError(f"unsupported condition atom {v!r} at {off}")

    def _tag_key(self) -> str:
        kind, v, off = self.next()
        if v == ".":
            return self.next()[1]
        if v == "[":
            k = self.next()[1]
            if self.next()[1] != "]":
                raise LuaConfigError("unbalanced tag index")
            return k
        raise LuaConfigError(f"expected tag key access, got {v!r}")

    def _maybe_compare(self, atom: _Atom) -> _BoolExpr:
        if self.peek()[1] in ("==", "~="):
            op = self.next()[1]
            kind, v, _ = self.next()
            if kind != "string":
                raise LuaConfigError("comparisons only against string literals")
            atom = _Atom("tag_eq" if op == "==" else "tag_ne",
                         key=atom.key, value=v)
        return _BoolExpr("atom", atom)

    def _maybe_compare_wrapped(self, e: _BoolExpr) -> _BoolExpr:
        if self.peek()[1] in ("==", "~="):
            raise LuaConfigError("comparison of parenthesized expressions unsupported")
        return e


def _find_function_body(text: str, name: str) -> str | None:
    m = re.search(r"function\s+" + re.escape(name) + r"\s*\(\s*object\s*\)", text)
    if m is None:
        return None
    # balance Lua block keywords to find the matching `end`
    pos = m.end()
    depth = 1
    block_open = re.compile(r"\b(function|if|for|while|do|end)\b")
    body_end = None
    # 'for'/'while' already count their block; the next 'do' is the
    # header's, not a bare block — pair it via this flag rather than a
    # fixed-width lookbehind, which misread headers >40 chars (ADVICE r6)
    pending_loop_do = False
    for bm in block_open.finditer(text, pos):
        w = bm.group(1)
        if w == "end":
            depth -= 1
            if depth == 0:
                body_end = bm.start()
                break
        elif w in ("for", "while"):
            depth += 1
            pending_loop_do = True
        elif w in ("function", "if"):
            depth += 1
        elif w == "do":
            if pending_loop_do:
                pending_loop_do = False
            else:
                depth += 1
    if body_end is None:
        raise LuaConfigError(f"unbalanced function {name}")
    return text[m.end():body_end]


_INSERT_RE = re.compile(r"([A-Za-z_][\w.\[\]'\"]*)\s*:\s*insert\s*[({]")


def _parse_insert(text: str, start: int, env, bindings=None) -> tuple[LuaInsert, int]:
    m = _INSERT_RE.match(text, start)
    var = m.group(1)
    # normalize tables['x'] -> tables.x
    var = re.sub(r"\[\s*'([^']+)'\s*\]", r".\1", var)
    open_ch = text[m.end() - 1]
    if open_ch == "(":
        raw = _raw_insert_table(text, text.index("{", m.end() - 1))
    else:
        raw = _raw_insert_table(text, m.end() - 1)
    values, geometry, lm, geom_specs = _parse_insert_values(raw, env, bindings)
    # compute end offset: past the raw table (+ closing paren if any)
    end = text.index(raw, start) + len(raw)
    if open_ch == "(":
        end = text.index(")", end) + 1
    return LuaInsert(table_var=var, condition=None, values=values,
                     geometry=geometry, line_merge=lm,
                     geom_specs=geom_specs), end


def _raw_insert_table(text: str, brace_pos: int) -> str:
    depth = 0
    for i in range(brace_pos, len(text)):
        c = text[i]
        if c == "{":
            depth += 1
        elif c == "}":
            depth -= 1
            if depth == 0:
                return text[brace_pos:i + 1]
    raise LuaConfigError("unbalanced insert table")


# geometry method chains: transforms keep the value a geometry;
# scalars terminate the chain with a number
_GEOM_METHODS = {"transform", "segmentize", "simplify", "line_merge", "centroid"}
_GEOM_SCALARS = {"area", "spherical_area", "length", "num_geometries"}

_CHAIN_RE = re.compile(r":\s*(\w+)\s*\(([^()]*)\)")


def _parse_geom_chain(expr: str, bindings: dict) -> tuple[LuaGeom, str | None] | None:
    """`object:as_X()` / a bound geometry NAME, followed by a method
    chain -> (LuaGeom, terminal scalar method or None); None when the
    expression is not geometry-shaped."""
    m = re.match(r"object\s*:\s*as_(\w+)\s*\(\s*\)", expr)
    if m:
        spec = LuaGeom(base="as_" + m.group(1))
        rest = expr[m.end():]
    else:
        nm = re.match(r"([A-Za-z_]\w*)\b", expr)
        if not nm or nm.group(1) not in bindings:
            return None
        src = bindings[nm.group(1)]
        spec = LuaGeom(base=src.base, methods=list(src.methods),
                       fallback=src.fallback, split_parts=src.split_parts)
        rest = expr[nm.end():]
    scalar = None
    pos = 0
    for cm in _CHAIN_RE.finditer(rest):
        if cm.start() != pos and rest[pos:cm.start()].strip():
            return None
        pos = cm.end()
        name = cm.group(1)
        raw_args = [a.strip() for a in cm.group(2).split(",") if a.strip()]
        args = []
        for a in raw_args:
            if re.match(r"-?\d+(\.\d+)?$", a):
                args.append(float(a) if "." in a else int(a))
            else:
                return None
        if scalar is not None:
            return None  # nothing may follow a scalar method
        if name in _GEOM_METHODS:
            spec.methods.append((name, args))
        elif name in _GEOM_SCALARS:
            scalar = name
        else:
            return None
    if rest[pos:].strip():
        return None
    return spec, scalar


def _parse_insert_values(raw: str, env, bindings: dict | None = None):
    """The insert{...} body: `col = <expr>` pairs where expr is
    object.tags / object.tags.KEY / literal / a geometry chain
    (object:as_*() or a bound local, with methods) / a scalar
    geometry-method chain (… :area())."""
    bindings = bindings or {}
    inner = raw[1:-1]
    values: dict = {}
    geometry = None
    line_merge = False
    geom_specs: dict = {}
    for part in _split_top_level(inner):
        part = part.strip()
        if not part:
            continue
        pm = re.match(r"([A-Za-z_]\w*)\s*=\s*(.+)$", part, re.DOTALL)
        if pm is None:
            raise LuaConfigError(f"unsupported insert entry {part!r}")
        col, expr = pm.group(1), pm.group(2).strip()
        chain = _parse_geom_chain(expr, bindings)
        if chain is not None:
            spec, scalar = chain
            if scalar is None:
                geom_specs[col] = spec
                if geometry is None:
                    geometry = spec.base
                    line_merge = any(m == "line_merge" for m, _a in spec.methods)
            else:
                values[col] = ("geomscalar", spec, scalar)
            continue
        gm2 = re.match(r"object\s*:\s*grab_tag\s*\(\s*'([^']+)'\s*\)$", expr)
        if gm2:
            values[col] = ("grab", gm2.group(1))
            continue
        if expr == "object.tags":
            values[col] = ("tags",)
        elif re.match(r"object\.tags\.([A-Za-z_]\w*)$", expr):
            values[col] = ("tag", expr.split(".")[-1])
        elif re.match(r"object\.tags\[\s*'([^']*)'\s*\]$", expr):
            values[col] = ("tag", re.match(r"object\.tags\[\s*'([^']*)'\s*\]$", expr).group(1))
        elif re.match(r"object\.(id|type|version|timestamp|changeset|uid|user)$", expr):
            values[col] = ("attr", expr.split(".")[-1])
        elif re.match(r"'(?:[^'\\]|\\.)*'$", expr) or re.match(r'"(?:[^"\\]|\\.)*"$', expr):
            values[col] = ("lit", _unquote(expr))
        elif re.match(r"-?\d+(\.\d+)?$", expr):
            values[col] = ("lit", float(expr) if "." in expr else int(expr))
        elif re.match(r"[A-Za-z_]\w*$", expr) and expr in env:
            values[col] = ("lit", env[expr])
        else:
            raise LuaConfigError(f"unsupported insert value {expr!r}; "
                                 "use the Python DSL for computed values")
    return values, geometry, line_merge, geom_specs


def _split_top_level(s: str) -> list[str]:
    out, depth, cur = [], 0, []
    for c in s:
        if c in "{([":
            depth += 1
        elif c in "})]":
            depth -= 1
        if c == "," and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(c)
    out.append("".join(cur))
    return out


def _match_callbacks(text: str, model: LuaConfigModel, env) -> None:
    """Recognize the canonical callback bodies (generic.lua family) as
    ordered guard/branch/insert chains."""
    for kind in ("node", "way", "relation"):
        body = _find_function_body(text, f"osm2pgsql.process_{kind}")
        if body is None:
            continue
        inserts = _extract_branches(body, kind, env)
        getattr(model, f"{kind}_inserts").extend(inserts)


def _extract_branches(body: str, kind: str, env) -> list[LuaInsert]:
    """Straight-line shape: [clean-guard] [grab type] then a sequence
    of `if COND then INSERT+ [return] end`, `if .. then A else B end`,
    or bare inserts.  Each emitted insert's condition accumulates the
    negation of every earlier `return`ing branch (the if/return chain
    of process_relation in generic.lua)."""
    type_var = None
    tm = re.search(r"local\s+(\w+)\s*=\s*object\s*:\s*grab_tag\s*\(\s*'type'\s*\)", body)
    if tm:
        type_var = tm.group(1)
        body = body[:tm.start()] + body[tm.end():]

    # clean-tags guard: if clean_tags(object.tags) then return end
    guard = re.search(
        r"if\s+\w+\s*\(\s*object\.tags\s*\)\s*then\s*return\s*end", body)
    if guard:
        body = body[:guard.start()] + body[guard.end():]

    body, bindings = _extract_geom_bindings(body)

    out: list[LuaInsert] = []
    prior_negations: list[_BoolExpr] = []
    pos = 0
    while True:
        im = _INSERT_RE.search(body, pos)
        ifm = re.compile(r"\bif\b").search(body, pos)
        if im is None and ifm is None:
            break
        if ifm is not None and (im is None or ifm.start() < im.start()):
            # parse `if COND then ... {elseif COND then ...} [else ...]
            # end` as a branch chain with accumulated negations —
            # elseif used to be invisible to the block scanner, so an
            # elseif-branch insert silently inherited the first if's
            # condition (ADVICE r6 high, verified on indexes.lua)
            then_m = re.compile(r"\bthen\b").search(body, ifm.end())
            if then_m is None:
                raise LuaConfigError("if without then")
            cond_src = body[ifm.end():then_m.start()]
            blk_end, markers = _find_block_end(body, then_m.end())
            # branch list: (cond_src | None for else, block_start, block_end)
            branches: list[tuple[str | None, int, int]] = []
            cur_start = then_m.end()
            cur_cond: str | None = cond_src
            for moff, mkind in markers:
                branches.append((cur_cond, cur_start, moff))
                if mkind == "elseif":
                    bt = re.compile(r"\bthen\b").search(body, moff + 6)
                    if bt is None or bt.start() > blk_end:
                        raise LuaConfigError("elseif without then")
                    cur_cond = body[moff + 6:bt.start()]
                    cur_start = bt.end()
                else:  # else
                    cur_cond = None
                    cur_start = moff + 4
            branches.append((cur_cond, cur_start, blk_end))
            chain_negs: list[_BoolExpr] = []
            returning_negs: list[_BoolExpr] = []
            else_returned = False
            for csrc, bs, be in branches:
                blk = body[bs:be]
                # a nested `if` inside a branch means its inserts carry
                # an inner condition this straight-line model would
                # drop (ADVICE r6 high: the inner object.tags.name
                # guard was silently lost) — reject so the interpreter
                # path takes over
                if re.search(r"\bif\b", blk):
                    raise LuaConfigError(
                        "nested if inside branch; procedural configs "
                        "run via the Lua interpreter path")
                cond = (
                    _CondParser(csrc, type_var).parse()
                    if csrc is not None else None
                )
                full = _and_all(
                    [*prior_negations, *chain_negs,
                     *([cond] if cond is not None else [])])
                for ins in _inserts_in(blk, env, bindings):
                    ins.condition = full
                    out.append(ins)
                if re.search(r"\breturn\b", blk):
                    if cond is not None:
                        returning_negs.append(_BoolExpr("not", args=[cond]))
                    else:
                        else_returned = True
                if cond is not None:
                    chain_negs.append(_BoolExpr("not", args=[cond]))
            prior_negations.extend(returning_negs)
            pos = blk_end + len("end")
            if else_returned:
                rest = body[pos:]
                if _INSERT_RE.search(rest) or re.search(r"\bif\b", rest):
                    # fall-through after a returning else is only taken
                    # when some positive branch matched — not an AND of
                    # negations; the interpreter path handles it
                    raise LuaConfigError(
                        "insert after returning else branch; procedural "
                        "configs run via the Lua interpreter path")
        else:
            ins, pos = _parse_insert(body, im.start(), env, bindings)
            ins.condition = _and_all(prior_negations) if prior_negations else None
            out.append(ins)
    return out


def _blank_span(body: str, start: int, end: int) -> str:
    return body[:start] + re.sub(r"\S", " ", body[start:end]) + body[end:]


def _extract_geom_bindings(body: str) -> tuple[str, dict]:
    """Recognize and blank (offset-preserving) the local-geometry
    idioms, leaving a straight-line body plus a NAME -> LuaGeom map:

      local g = object:as_X():m(...)...      (binding)
      if g:is_null() then g = object:as_Y() end   (fallback, hstore.lua)
      for p in g:geometries() do ... end     (per-part split,
                                              geometries.lua /
                                              labelpoint.lua — the
                                              loop header+end blank,
                                              the body stays in place)
    """
    bindings: dict[str, LuaGeom] = {}

    while True:
        m = re.search(
            r"local\s+(\w+)\s*=\s*(object\s*:\s*as_\w+\s*\(\s*\)(?:\s*:\s*\w+\([^()]*\))*)",
            body,
        )
        if m is None:
            break
        chain = _parse_geom_chain(re.sub(r"\s+", "", m.group(2)), bindings)
        if chain is None or chain[1] is not None:
            raise LuaConfigError(
                f"unsupported geometry binding {m.group(2)!r}")
        if m.group(1) in bindings:
            raise LuaConfigError(
                f"geometry variable {m.group(1)!r} bound twice; "
                "use distinct names per branch")
        bindings[m.group(1)] = chain[0]
        body = _blank_span(body, m.start(), m.end())

    for name in list(bindings):
        fm = re.search(
            r"if\s+" + re.escape(name)
            + r"\s*:\s*is_null\s*\(\s*\)\s*then\s+" + re.escape(name)
            + r"\s*=\s*(object\s*:\s*as_\w+\s*\(\s*\)(?:\s*:\s*\w+\([^()]*\))*)\s+end",
            body,
        )
        if fm:
            chain = _parse_geom_chain(re.sub(r"\s+", "", fm.group(1)), bindings)
            if chain is None or chain[1] is not None:
                raise LuaConfigError("unsupported is_null fallback")
            bindings[name].fallback = chain[0]
            body = _blank_span(body, fm.start(), fm.end())

    while True:
        lm = re.search(
            r"for\s+(\w+)\s+in\s+(\w+)\s*:\s*geometries\s*\(\s*\)\s*do\b", body)
        if lm is None:
            break
        src = lm.group(2)
        if src not in bindings:
            raise LuaConfigError(f"geometries() loop over unknown {src!r}")
        part = bindings[src]
        bindings[lm.group(1)] = LuaGeom(
            base=part.base, methods=list(part.methods),
            fallback=part.fallback, split_parts=True,
        )
        end_at, _ = _find_block_end(body, lm.end())
        # blank header and its matching `end`; the loop body stays
        body = _blank_span(body, lm.start(), lm.end())
        body = _blank_span(body, end_at, end_at + len("end"))

    return body, bindings


def _inserts_in(block: str, env, bindings=None) -> list[LuaInsert]:
    out = []
    pos = 0
    while True:
        m = _INSERT_RE.search(block, pos)
        if m is None:
            return out
        ins, pos = _parse_insert(block, m.start(), env, bindings)
        out.append(ins)


def _find_block_end(body: str, start: int) -> tuple[int, list[tuple[int, str]]]:
    """From after `then`: offset of the matching `end` plus the ordered
    depth-1 `elseif`/`else` markers (offset, kind).  elseif is matched
    as its own token — it neither opens nor closes a block (one `end`
    terminates the whole chain), it just starts a new branch."""
    depth = 1
    markers: list[tuple[int, str]] = []
    pending_loop_do = False  # pair each for/while with its `do` (ADVICE r6)
    for m in re.finditer(
        r"\b(elseif|if|function|for|while|do|else|end)\b", body[start:]
    ):
        w = m.group(1)
        if w in ("for", "while"):
            depth += 1
            pending_loop_do = True
        elif w in ("if", "function"):
            depth += 1
        elif w == "do":
            if pending_loop_do:
                pending_loop_do = False
            else:
                depth += 1
        elif w in ("else", "elseif"):
            if depth == 1:
                markers.append((start + m.start(), w))
        elif w == "end":
            depth -= 1
            if depth == 0:
                return start + m.start(), markers
    raise LuaConfigError("unbalanced if block")


def _and_all(parts: list[_BoolExpr]) -> _BoolExpr | None:
    parts = [p for p in parts if p is not None]
    if not parts:
        return None
    e = parts[0]
    for p in parts[1:]:
        e = _BoolExpr("and", args=[e, p])
    return e


# ------------------------------------------------------- public entry

def _blank_comments(text: str) -> str:
    """Replace Lua comments with spaces (offset-preserving) so the
    structural scans never trip on keywords inside prose."""
    out = list(text)
    i = 0
    n = len(text)
    while i < n:
        c = text[i]
        if c in "'\"":
            q = c
            i += 1
            while i < n and text[i] != q:
                i += 2 if text[i] == "\\" else 1
            i += 1
        elif text.startswith("--", i):
            if text.startswith("--[[", i):
                end = text.find("]]", i + 4)
                end = n if end < 0 else end + 2
            else:
                end = text.find("\n", i)
                end = n if end < 0 else end
            for j in range(i, end):
                if out[j] != "\n":
                    out[j] = " "
            i = end
        else:
            i += 1
    return "".join(out)


def parse_lua_config(text: str) -> LuaConfigModel:
    return _parse(text, LuaFlexRuntime(text))


def _parse(text: str, probe) -> LuaConfigModel:
    """The model of a config whose chunk `probe` ran: its definitions
    from the probe, its helper idioms and callback shapes from the
    source text."""
    model = _model_of(probe)
    text = _blank_comments(text)
    model.delete_keys, model.clean_guard = _scan_delete_keys(text, probe)
    model.area_keys = _scan_area_keys(text)
    env = {name: v for name, v in probe.interp.chunk_scope.vars.items()
           if isinstance(v, (bool, int, float, str))}
    _match_callbacks(text, model, env)
    return model


def load_lua_config(path_or_text: str) -> tuple["object", LuaConfigModel]:
    """Parse a flex .lua config and compile it into a FlexConfig.

    path_or_text: a path (one line ending in `.lua`, or naming an
    existing file) or the config's source.  Returns (flex_config,
    model).  Use flex_config.run(nodes, ways, relations) exactly like a
    hand-written Python-DSL config.

    Configs the declarative subset rejects (procedural callbacks,
    helper functions, mutable state) automatically fall back to the
    Lua-interpreter execution path (plans/lua_flex.LuaFlexAdapter) —
    same (runner, model) contract, so callers don't care which engine
    compiled the config.  Both paths share one probe run of the chunk,
    so both read the definitions the same way."""
    text = path_or_text
    if "\n" not in text and (text.endswith(".lua") or os.path.exists(text)):
        with open(text) as fh:
            text = fh.read()
    probe = LuaFlexRuntime(text)
    if not probe.specs:
        raise LuaConfigError("config defines no tables")
    if not _needs_interpreter(text) and not _uncompiled_callbacks(text, probe):
        try:
            model = _parse(text, probe)
            return _compile_declarative(model, probe), model
        except LuaConfigError:
            pass
    return LuaFlexAdapter.from_probe(probe), _model_of(probe)


def _needs_interpreter(text: str) -> bool:
    """Mode/lifecycle-sensitive configs can't be a single declarative
    snapshot: `osm2pgsql.mode` branches change behavior between create
    and append runs, `process_deleted_*` only exists in append, and
    `after_*` callbacks mutate state at file boundaries
    (track-changes.lua uses all three).  Those always run on the
    interpreter; everything else tries the Catalyst fast path first."""
    stripped = re.sub(r"--\[\[.*?\]\]|--[^\n]*", "", text, flags=re.S)
    return bool(re.search(
        r"osm2pgsql\s*\.\s*(mode\b|process_deleted_|after_(nodes|ways|relations)\b)",
        stripped))


def _uncompiled_callbacks(text: str, probe) -> bool:
    """Whether the chunk defined a callback that _match_callbacks does
    not compile: process_untagged_*, select_relation_members, or a
    process_<kind> defined in another form than
    `function osm2pgsql.process_<kind>(object)` (an assigned function
    expression, say).  The declarative path would write nothing for it."""
    text = _blank_comments(text)
    return probe.has_select_members() or any(
        probe.callback(kind, tagged=False) is not None
        or (probe.callback(kind, tagged=True) is not None
            and _find_function_body(text, f"osm2pgsql.process_{kind}") is None)
        for kind in ("node", "way", "relation"))


def _compile_declarative(model: LuaConfigModel, probe):
    from osm2pgsql_spark.functions.tags import filter_tags

    cfg = flex_config_of(probe)
    clean = (filter_tags(F.col("tags"), delete_patterns=model.delete_keys)
             if model.delete_keys else F.col("tags"))

    def table_of(var: str) -> str:
        handle = _lookup(probe, var)
        if not (isinstance(handle, _LuaValue) and "__handle__" in handle.hash):
            raise LuaConfigError(f"insert into unknown table variable {var!r}")
        return handle.hash["__handle__"]

    def tag_col(key: str) -> Column:
        return clean[key]

    def compile_cond(e: _BoolExpr | None, kind: str) -> Column | None:
        if e is None:
            return None
        if e.op == "and":
            return compile_cond(e.args[0], kind) & compile_cond(e.args[1], kind)
        if e.op == "or":
            return compile_cond(e.args[0], kind) | compile_cond(e.args[1], kind)
        if e.op == "not":
            inner = compile_cond(e.args[0], kind)
            # Lua truthiness on a possibly-nil tag: `not tags.x` is true
            # when x is absent — coalesce before negating
            return ~F.coalesce(inner, F.lit(False))
        a = e.atom
        if a.kind == "is_closed":
            return (F.size("refs") >= 4) & (
                F.element_at("refs", 1) == F.element_at("refs", -1))
        if a.kind == "tag":
            return tag_col(a.key).isNotNull()
        if a.kind == "tag_eq":
            return tag_col(a.key) == F.lit(a.value)
        if a.kind == "tag_ne":
            return F.coalesce(tag_col(a.key) != F.lit(a.value), F.lit(True))
        if a.kind == "area_tags":
            keys_pred = F.lit(False)
            for k in model.area_keys:
                keys_pred = keys_pred | tag_col(k).isNotNull()
            return (
                F.when(tag_col("area") == "yes", F.lit(True))
                .when(tag_col("area") == "no", F.lit(False))
                .otherwise(keys_pred)
            )
        raise LuaConfigError(f"cannot compile atom {a.kind}")

    _REL_GEOMS = {
        "as_multipolygon": "multipolygon",
        "as_multilinestring": "multilinestring",
        "as_multipoint": "multipoint",
        "as_geometrycollection": "geometrycollection",
    }

    def geom_value(kind: str, spec: LuaGeom):
        """Compile a LuaGeom chain to a 4326 WKB Column (the Lua
        geometry method API onto geom_udfs); returns (expr,
        has_explicit_transform)."""
        from osm2pgsql_spark.operators import assembly, geom_udfs

        def base_expr(sp: LuaGeom):
            if kind == "node":
                return geom_udfs.point_wkb(F.col("lon"), F.col("lat"), 4326)
            if kind == "way":
                if sp.base == "as_polygon":
                    return assembly.pts_to_polygon_wkb(F.col("pts"))
                # as_linestring / as_multilinestring (a single way's
                # multilinestring carries one member line)
                return assembly.pts_to_linestring_wkb(F.col("pts"))
            return F.col("__rel_geom")

        g = base_expr(spec)
        if spec.fallback is not None:
            # the is_null() fallback idiom (hstore.lua): polygon if
            # the ring closes, else linestring
            g = F.coalesce(g, base_expr(spec.fallback))
        has_transform = False
        for name, args in spec.methods:
            if name == "transform":
                code = int(args[0])
                has_transform = True
                g = (geom_udfs.wkb_transform_3857(g) if code == 3857
                     else geom_udfs.wkb_transform_epsg(g, code))
            elif name == "segmentize":
                g = geom_udfs.wkb_segmentize(g, float(args[0]))
            elif name == "simplify":
                g = geom_udfs.wkb_simplify(g, float(args[0]))
            elif name == "line_merge":
                g = geom_udfs.wkb_line_merge(g)
            elif name == "centroid":
                g = geom_udfs.wkb_centroid(g)
            else:
                raise LuaConfigError(f"unsupported geometry method {name!r}")
        return g, has_transform

    def scalar_udf(name: str):
        from osm2pgsql_spark.operators import geom_udfs

        return {
            "area": geom_udfs.wkb_area,
            "spherical_area": geom_udfs.wkb_spherical_area,
            "length": geom_udfs.wkb_length,
            "num_geometries": geom_udfs.wkb_num_geometries,
        }[name]

    grab_type = _uses_grab_type(model)
    rel_clean = F.map_filter(clean, lambda k, _v: k != "type")

    for kind, inserts in (("node", model.node_inserts),
                          ("way", model.way_inserts),
                          ("relation", model.relation_inserts)):
        for ins in inserts:
            table = table_of(ins.table_var)
            when = compile_cond(ins.condition, kind)
            # untagged objects never reach process_node/way/relation in
            # the reference (they go to process_untagged_*), so every
            # lua-derived rule carries the implicit tagged guard
            tagged = F.size(F.col("tags")) > 0
            when = tagged if when is None else (tagged & when)
            if model.clean_guard:
                # grab_tag('type') happens BEFORE clean_tags, so the
                # emptiness check for relations excludes the type key
                base = rel_clean if (kind == "relation" and grab_type) else clean
                nonempty = F.size(base) > 0
                when = nonempty & when
            # per-insert grab_tag values also disappear from the
            # stored tags (grab = read + remove)
            grabbed = [d[1] for d in ins.values.values() if d[0] == "grab"]
            values: dict[str, Column] = {}
            for col, desc in ins.values.items():
                if desc[0] == "tags":
                    v = rel_clean if (kind == "relation" and grab_type) else clean
                    for gk in grabbed:
                        # closure factory: Spark introspects lambda
                        # arity, so no defaulted extra params
                        def drop_key(_gk):
                            return lambda k, _v: k != F.lit(_gk)

                        v = F.map_filter(v, drop_key(gk))
                    values[col] = v
                elif desc[0] in ("tag", "grab"):
                    values[col] = tag_col(desc[1])
                elif desc[0] == "attr":
                    a = desc[1]
                    if a == "type":
                        values[col] = F.lit(kind)
                    elif a == "timestamp":
                        values[col] = F.col("ts")
                    else:
                        values[col] = F.col(a)
                elif desc[0] == "geomscalar":
                    g, _ht = geom_value(kind, desc[1])
                    values[col] = scalar_udf(desc[2])(g)
                else:
                    values[col] = F.lit(desc[1])
            kw: dict = {}
            cdefs = {c.name: c for c in cfg.tables[table].columns}
            plain_base = None
            for col, spec in ins.geom_specs.items():
                plain = (
                    spec.fallback is None
                    and not (spec.split_parts and kind != "relation")
                    and (not spec.methods
                         or (kind == "relation"
                             and spec.methods == [("line_merge", [])]))
                )
                if plain:
                    # the runner's well-tested geometry path handles
                    # projection / multi-splitting for simple specs
                    plain_base = spec
                    continue
                cd = cdefs.get(col)
                g, ht = geom_value(kind, spec)
                if cd is not None and cd.srid == 3857 and not ht:
                    from osm2pgsql_spark.operators import geom_udfs

                    g = geom_udfs.wkb_transform_3857(g)
                if spec.split_parts:
                    from osm2pgsql_spark.operators import geom_udfs

                    g = F.explode(geom_udfs.wkb_split_parts(g))
                values[col] = g
                if kind == "relation":
                    kw["relation_geometry"] = _REL_GEOMS.get(
                        spec.base, "multipolygon")
            if plain_base is not None or not ins.geom_specs:
                base_name = plain_base.base if plain_base else ins.geometry
                if kind == "way" and base_name in ("as_polygon", "as_linestring"):
                    kw["way_geometry"] = base_name[3:]
                if kind == "relation":
                    kw.setdefault(
                        "relation_geometry",
                        _REL_GEOMS.get(base_name, "multipolygon"),
                    )
                    if plain_base is not None and any(
                        m == "line_merge" for m, _a in plain_base.methods
                    ):
                        kw["geom_transform"] = "line_merge"
            elif kind == "relation":
                kw.setdefault("relation_geometry", "multipolygon")
            cfg.insert(table, kind, when=when, **kw, **values)
    return cfg


def _uses_grab_type(model: LuaConfigModel) -> bool:
    # conditions referencing the 'type' tag imply grab_tag('type')
    def walk(e):
        if e is None:
            return False
        if e.op == "atom":
            return e.atom.key == "type" and e.atom.kind in ("tag_eq", "tag_ne", "tag")
        return any(walk(a) for a in e.args)

    return any(walk(i.condition) for i in model.relation_inserts)
