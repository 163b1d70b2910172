"""Dynamic-JSON rule compiler: ruleset → vectorized plan over VARIANT.

The typed compiler (``compiler.columns``) covers documents whose shape is
known at compile time (Parquet/Iceberg struct rows). This module covers
the *dynamic* case — a column of raw JSON strings whose per-row shape is
unknown — without Python in the row loop. It is no longer the serving
path: ``validate_json_column(mode="auto")`` serves a ruleset the
walker's gate covers (``pyvalidator.Scope.gate``) from the gated walker
stage, and takes this plan for rulesets outside the gate and for an
explicit ``mode="variant"``. Spark 4's
VARIANT type (``parse_json`` / ``try_variant_get`` / ``schema_of_variant``
/ casts to ``map<string,variant>`` and ``array<variant>``) exposes the
exact JSON type system (BIGINT vs DECIMAL vs DOUBLE vs STRING vs BOOLEAN
vs VOID vs OBJECT vs ARRAY) inside JVM expressions, so the reference's
runtime type dispatch (validators/type_.rs) compiles to Column predicates
with zero Python in the row loop.

Evaluation shape — parse once, bind once per node, gate:

* **Parse once.** ``validate_json_column`` stages
  ``coalesce(try_parse_json(doc), parse_json('null'))`` as one projected
  column and compiles against it (``compile_variant_ruleset``), so the
  plan parses each row once; ``compile_json_ruleset`` binds the parse
  with a one-element ``transform`` for the same effect in one Column.
* **Bind once per node.** Each schema node is compiled once against a
  lambda variable (``_Bound``) holding the node's variant and what its
  keywords derive from it: the ``map<string,variant>`` and
  ``array<variant>`` casts on nodes with object/array keywords, the type
  tag on nodes that only check scalars. Evaluating the node at a value
  is a one-element ``transform`` (or ``forall``) — a let-binding — so a
  cast is computed once however many keywords read it. Object and array
  are told by which cast succeeded; ``schema_of_variant`` only ever runs
  on scalars, where it is O(1), never on a whole subtree.
* **Gate.** Every emitter returns its violations together with ``ok``,
  built from the same condition column (``bad IS NOT TRUE``).
  Properties gate through direct ``element_at`` lookups, items through
  ``forall``. ``when(ok, empty).otherwise(violations)`` keeps valid rows
  off the allocating tree; the verdict stays ``size(violations) == 0``,
  O(1) on the rows that pass the gate. Keywords without an exact boolean
  form (``not``, ``oneOf``, ``if``, ``unevaluated*``) make their node's
  ``ok`` false, so those rows take the full tree: the violations are
  byte-identical with or without the gate. Gates are built lazily: only
  the root's gate is read, so a gate under ``if`` / ``not`` / ``oneOf``,
  or beside a keyword without a boolean form, costs no compile time
  (combinators read their branches' validity from
  ``size(violations) == 0``).

Semantics contract: identical verdicts and ``(code, title, path, detail)``
rows to ``pyvalidator`` (the reference-parity walker) for the supported
subset — fuzz-tested in ``tests/test_variant_parity.py``. Key mappings:

* key missing vs JSON-null: ``element_at(cast map) IS NULL`` vs variant
  VOID — exactly serde_json's ``obj.get(k)`` None vs ``Value::Null``, so
  ``required`` (required.rs: key presence) and ``type`` disagree-on-null
  semantics are preserved (a JSON null passes ``required`` but fails
  ``{"type": "integer"}``).
* ``integer`` accepts whole floats (type_.rs:23-27): BIGINT, or
  DECIMAL/DOUBLE with ``value == floor(value)``.
* value keywords skip silently on wrong-type values (``nonstrict_process``,
  validators/mod.rs:24-33): every emitter is guarded by its type class.

Unsupported constructs (remote ``$ref``, exotic formats, inline ``$id``
with ``$ref``, ``uniqueItems``, recursion deeper than the compile-time
unroll) raise ``UnsupportedRule`` at compile time, and
``validate_json_column`` serves the whole ruleset from the Arrow-batched
walker; no row is split between the two. ``unevaluated*`` — including
nested inside combinators — compiles statically (runtime per-entry /
per-element evaluated predicates).
"""

from __future__ import annotations

import functools
import math
from dataclasses import dataclass
from typing import Any, Callable, Optional, Tuple

from pyspark import SparkContext
from pyspark.sql import Column
from pyspark.sql import functions as F

from valico_spark.compiler.columns import (
    ColumnCompiler, UnsupportedRule, empty_violations, gated,
    inline_id_with_refs, make_violation, _maybe, _states_json,
    unicode_pattern,
)
from valico_spark.compiler.pyvalidator import (
    DRAFT2019, DRAFT7, EPSILON, PRIMITIVE_TYPES, is_number,
    keyword_dispatch_order,
)

_MAP = "map<string,variant>"
_ARRAY = "array<variant>"

#: a gate, built on first call: only the root's ``when(ok, empty)``
#: reads gates, so one beside a keyword without a boolean form, or under
#: ``if`` / ``not`` / ``oneOf``, is never built
Gate = Callable[[], Column]
#: a compiled node or keyword: (violations, ok). Violations None = the
#: part can never emit; ok None = no exact boolean form (gate false).
Checked = Tuple[Optional[Column], Optional[Gate]]


def _gate(build: Callable[[], Column]) -> Gate:
    return functools.cache(build)


@dataclass
class VTarget:
    """A (possibly absent) JSON value as a variant column.

    ``col`` SQL NULL ⇔ the value does not exist (missing key / element);
    a JSON ``null`` is a present VOID variant. ``path`` is the
    JSON-pointer string column for error rows. ``obj`` / ``arr`` / ``tag``
    are the node's bound map cast, array cast and type tag (fields of a
    ``_Bound`` lambda variable); any left unbound is derived from ``col``
    where it is read.
    """
    col: Column
    path: Column
    obj: Optional[Column] = None
    arr: Optional[Column] = None
    tag: Optional[Column] = None


def _obj(t: VTarget) -> Column:
    return t.obj if t.obj is not None else t.col.try_cast(_MAP)


def _arr(t: VTarget) -> Column:
    return t.arr if t.arr is not None else t.col.try_cast(_ARRAY)


def _tag(t: VTarget) -> Column:
    """JSON type tag: OBJECT / ARRAY from whichever cast succeeded, else
    the scalar's ``schema_of_variant`` (BIGINT, DECIMAL(p,s), DOUBLE,
    STRING, BOOLEAN, VOID) — never evaluated on a container."""
    if t.tag is not None:
        return t.tag
    return (F.when(_obj(t).isNotNull(), F.lit("OBJECT"))
             .when(_arr(t).isNotNull(), F.lit("ARRAY"))
             .otherwise(F.schema_of_variant(t.col)))


def _is_obj(t: VTarget) -> Column:
    if t.obj is None and t.tag is not None:
        return t.tag == "OBJECT"
    return _obj(t).isNotNull()


def _is_arr(t: VTarget) -> Column:
    if t.arr is None and t.tag is not None:
        return t.tag == "ARRAY"
    return _arr(t).isNotNull()


def _is_num(t: VTarget) -> Column:
    return _tag(t).rlike("^(BIGINT|DOUBLE|DECIMAL)")


def _is_int(t: VTarget) -> Column:
    d = _num(t)
    return (_tag(t) == "BIGINT") | (_is_num(t) & (d == F.floor(d)))


def _is_str(t: VTarget) -> Column:
    return _tag(t) == "STRING"


def _is_bool(t: VTarget) -> Column:
    return _tag(t) == "BOOLEAN"


def _is_null(t: VTarget) -> Column:
    return F.is_variant_null(t.col)


def _num(t: VTarget) -> Column:
    return F.try_variant_get(t.col, "$", "double")


def _str(t: VTarget) -> Column:
    return F.try_variant_get(t.col, "$", "string")


def _bool(t: VTarget) -> Column:
    return F.try_variant_get(t.col, "$", "boolean")


def _join(path: Column, key: str) -> Column:
    return F.concat(path, F.lit("/" + key))


_TYPE_PRED = {
    "null": _is_null,
    "boolean": _is_bool,
    "string": _is_str,
    "integer": _is_int,
    "number": _is_num,
    "object": _is_obj,
    "array": _is_arr,
}


# -- violations / ok composition ----------------------------------------------

def _v(viol: Optional[Column]) -> Column:
    return viol if viol is not None else empty_violations()


def _cat(viols: list) -> Optional[Column]:
    viols = [v for v in viols if v is not None]
    if not viols:
        return None
    return viols[0] if len(viols) == 1 else F.concat(*viols)


def _and(oks: list) -> Optional[Column]:
    """Conjunction of gate columns; None (no exact form) absorbs."""
    out = None
    for ok in oks:
        if ok is None:
            return None
        out = ok if out is None else (out & ok)
    return out if out is not None else F.lit(True)


def _all(oks: list) -> Optional[Gate]:
    """Conjunction of gates; None (no exact form) absorbs."""
    if any(ok is None for ok in oks):
        return None
    return _gate(lambda: _and([ok() for ok in oks]))


def _merge(parts: list) -> Checked:
    """Concatenated violations and conjoined gates of ``parts``."""
    parts = [p for p in parts if p[0] is not None]
    return _cat([v for v, _ in parts]), _all([ok for _, ok in parts])


def _check(bad: Column, violation: Column) -> Checked:
    """One violation when ``bad`` is TRUE, and its exact gate."""
    return _maybe(bad, violation), _gate(
        lambda: ~F.coalesce(bad, F.lit(False)))


def _guarded(cond: Column, viol: Optional[Column]) -> Optional[Column]:
    if viol is None:
        return None
    return F.when(cond, viol).otherwise(empty_violations())


def _unless(cond: Column, ok: Optional[Gate]) -> Gate:
    """Gate of a part that only applies where ``cond`` holds."""
    return _gate(lambda: ~cond if ok is None else (~cond | ok()))


def _valid(viol: Optional[Column]) -> Column:
    if viol is None:
        return F.lit(True)
    return F.size(viol) == 0


# -- let-binding --------------------------------------------------------------

def _lambda_var(name: str) -> Column:
    from pyspark.sql.functions.builtin import (
        _unresolved_named_lambda_variable,
    )

    return _unresolved_named_lambda_variable(name)


def _hof(name: str, array: Column, var: Column, body: Column) -> Column:
    """``name(array, var -> body)`` for a body built beforehand, so one
    compiled body can serve both a ``transform`` and a ``forall``."""
    from pyspark.sql.classic.column import Column as ClassicColumn, _to_seq

    sc = SparkContext._active_spark_context
    utils = sc._jvm.PythonSQLUtils
    fn = utils.lambdaFunction(body._jc, _to_seq(sc, [var._jc]))
    return ClassicColumn(utils.fn(name, _to_seq(sc, [array._jc, fn])))


def _binding(value: Column, path: Column, fields: tuple) -> Column:
    """One-element array of the struct a let-bound node reads: the value
    ``v``, its path ``p`` and the derived ``fields`` (``m`` map cast,
    ``a`` array cast, ``t`` type tag)."""
    cols = [value.alias("v"), path.alias("p")]
    if "m" in fields:
        cols.append(value.try_cast(_MAP).alias("m"))
    if "a" in fields:
        cols.append(value.try_cast(_ARRAY).alias("a"))
    if "t" in fields:
        cols.append(_tag(VTarget(value, path)).alias("t"))
    return F.array(F.struct(*cols))


def _bound_target(var: Column, fields: tuple) -> VTarget:
    return VTarget(col=var["v"], path=var["p"],
                   obj=var["m"] if "m" in fields else None,
                   arr=var["a"] if "a" in fields else None,
                   tag=var["t"] if "t" in fields else None)


_OBJECT_KW = frozenset({
    "required", "properties", "patternProperties", "additionalProperties",
    "propertyNames", "minProperties", "maxProperties", "dependencies",
    "dependentRequired", "dependentSchemas", "unevaluatedProperties"})
_ARRAY_KW = frozenset({
    "items", "additionalItems", "minItems", "maxItems", "uniqueItems",
    "contains", "unevaluatedItems"})
_SCALAR_KW = frozenset({
    "enum", "const", "minimum", "maximum", "exclusiveMinimum",
    "exclusiveMaximum", "multipleOf", "minLength", "maxLength", "pattern",
    "format", "contentMediaType", "contentEncoding"})
_SCALAR_TYPES = frozenset({"string", "number", "integer", "boolean"})


def _bind_fields(schema: Any) -> tuple:
    """What a node binds besides its value: the map and array casts when
    it has object/array keywords, else the type tag when it checks
    scalars. Only a cost choice — anything unbound is derived where it
    is read."""
    if not isinstance(schema, dict):
        return ("m", "a")
    keys = set(schema)
    ty = schema.get("type")
    types = {ty} if isinstance(ty, str) else set(ty) \
        if isinstance(ty, list) else set()
    literals = list(schema["enum"]) if isinstance(schema.get("enum"),
                                                   list) else []
    if "const" in schema:
        literals.append(schema["const"])
    container = bool(keys & (_OBJECT_KW | _ARRAY_KW)) or any(
        isinstance(x, (list, dict)) for x in literals)
    scalar = bool(keys & _SCALAR_KW) or bool(types & _SCALAR_TYPES)
    return ("t",) if scalar and not container else ("m", "a")


@dataclass
class _Bound:
    """A schema node compiled once against the lambda variable ``var``:
    a struct of the value ``v``, its error path ``p`` and the derived
    values in ``fields`` (``m`` map cast, ``a`` array cast, ``t`` type
    tag). ``violations`` / ``ok_at`` / ``at`` evaluate it at a concrete
    value."""
    var: Column
    fields: tuple
    viol: Optional[Column]
    ok: Optional[Gate]

    def violations(self, value: Column, path: Column) -> Optional[Column]:
        if self.viol is None:
            return None
        binding = _binding(value, path, self.fields)
        return F.flatten(_hof("transform", binding, self.var, self.viol))

    def ok_at(self, value: Column, absent_ok: bool = False
              ) -> Optional[Column]:
        """The node's gate at ``value``; with ``absent_ok`` an absent
        value passes (a parent emits nothing for a missing key)."""
        if self.viol is None:
            return F.lit(True)
        if self.ok is None:
            return value.isNull() if absent_ok else None
        body = (self.var["v"].isNull() | self.ok()) if absent_ok \
            else self.ok()
        binding = _binding(value, F.lit(""), self.fields)
        return _hof("forall", binding, self.var, body)

    def at(self, value: Column, path: Column) -> Checked:
        """(violations, ok) at ``value``, both over one binding."""
        if self.viol is None:
            return None, None
        binding = _binding(value, path, self.fields)
        viol = F.flatten(_hof("transform", binding, self.var, self.viol))
        if self.ok is None:
            return viol, None
        return viol, _gate(
            lambda: _hof("forall", binding, self.var, self.ok()))

    def valid_at(self, value: Column) -> Column:
        return _valid(self.violations(value, F.lit("")))


class VariantCompiler:
    """Compiles one ruleset against a variant-typed target.

    Same compile-once/evaluate-vectorized split as ``ColumnCompiler``;
    the emitted expression tree is pure built-in functions (variant
    extractors, higher-order array/map functions), no shuffle.

    Recursive ``$ref`` story (SURVEY §7 hard-part 2): ``$ref`` inlines
    at compile time up to ``_UNROLL_DEPTH`` levels and ``_REF_BUDGET``
    inlined refs in all. A ruleset that needs more (linear recursion
    such as a linked-list or tree-node schema, or the meta-schema, whose
    ~15 recursion sites per level fan out exponentially) raises
    ``UnsupportedRule``: its documents go to the walker, which runs
    recursion exactly.
    """

    _UNROLL_DEPTH = 16
    _REF_BUDGET = 512

    def __init__(self, version: int = DRAFT7, root_schema: Any = None):
        self.version = version
        self.root_schema = root_schema
        self._refs_inlined = 0

    def _inline_ref(self, ref: str, t: VTarget, depth: int) -> Checked:
        self._refs_inlined += 1
        if self._refs_inlined > self._REF_BUDGET:
            raise UnsupportedRule("$ref inlining budget exhausted")
        return self._node(self._resolve_ref(ref), t, depth + 1)

    # $ref resolution shares the pointer-walking logic of the typed
    # compiler (compile-time inlining, SURVEY.md §2.4)
    _resolve_ref = ColumnCompiler._resolve_ref

    def compile_checked(self, schema: Any, target: VTarget
                        ) -> Tuple[Column, Optional[Column]]:
        """(ungated violations, ok) of ``schema`` at ``target``; ok is
        None when no row can take the gate."""
        if inline_id_with_refs(self.root_schema
                               if self.root_schema is not None else schema):
            # pointer inlining can't mirror the reference's $id-rebased
            # URL resolution (incl. its missing-keyword quirk) — the
            # walker has the exact semantics
            raise UnsupportedRule("inline $id together with $ref")
        viol, ok = self._bind(schema, 0).at(target.col, target.path)
        return _v(viol), (ok() if ok is not None else None)

    def _bind(self, schema: Any, depth: int) -> _Bound:
        fields = _bind_fields(schema)
        var = _lambda_var("node")
        viol, ok = self._node(schema, _bound_target(var, fields), depth)
        return _Bound(var, fields, viol, ok)

    def _node(self, schema: Any, t: VTarget, depth: int) -> Checked:
        if depth > self._UNROLL_DEPTH:
            raise UnsupportedRule("recursive $ref beyond inlining depth")
        if schema is True:
            schema = {}
        elif schema is False:
            schema = {"not": {}}
        if not isinstance(schema, dict):
            raise UnsupportedRule("schema must be an object or boolean")

        if "$ref" in schema and self.version < DRAFT2019:
            return self._inline_ref(schema["$ref"], t, depth)

        s, d = schema, depth

        def h_not():
            sub = self._node(s["not"], t, d + 1)[0]
            return _maybe(_valid(sub), make_violation("not", t.path)), None

        def h_if():
            if "if" not in s:
                return None
            if_v = self._node(s["if"], t, d + 1)[0]
            then_v = self._node(s["then"], t, d + 1)[0] \
                if "then" in s else None
            else_v = self._node(s["else"], t, d + 1)[0] \
                if "else" in s else None
            return F.when(_valid(if_v), _v(then_v)) \
                    .otherwise(_v(else_v)), None

        def h_uneval(fn):
            if self.version < DRAFT2019:
                return None
            return fn(s, t, d), None

        # emit parts in the walker's validator linearization so nested
        # states payloads (any_of/one_of) are byte-equal
        handlers = {
            "$ref": lambda: self._inline_ref(s["$ref"], t, d),
            "type": lambda: self._type(s["type"], t),
            "enum": lambda: self._enum(s["enum"], t),
            "const": lambda: self._const(s["const"], t),
            "minimum": lambda: self._bound(s["minimum"], "min", t),
            "maximum": lambda: self._bound(s["maximum"], "max", t),
            "exclusiveMinimum": lambda: self._bound(
                s["exclusiveMinimum"], "emin", t),
            "exclusiveMaximum": lambda: self._bound(
                s["exclusiveMaximum"], "emax", t),
            "multipleOf": lambda: self._multiple_of(s["multipleOf"], t),
            "minLength": lambda: self._length(s["minLength"], False, t),
            "maxLength": lambda: self._length(s["maxLength"], True, t),
            "pattern": lambda: self._pattern(s["pattern"], t),
            "format": lambda: self._format(s["format"], t),
            "required": lambda: self._required(s["required"], t),
            "properties": lambda: self._properties(s, t, d),
            "propertyNames": lambda: self._property_names(
                s["propertyNames"], t, d),
            "minProperties": lambda: self._props_count(
                s["minProperties"], False, t),
            "maxProperties": lambda: self._props_count(
                s["maxProperties"], True, t),
            "dependencies": lambda: self._dependencies(s, t, d),
            "items": lambda: self._items(s, t, d),
            "minItems": lambda: self._items_count(s["minItems"], False, t),
            "maxItems": lambda: self._items_count(s["maxItems"], True, t),
            "uniqueItems": lambda: (self._unique_items()
                                    if s["uniqueItems"] is True else None),
            "contains": lambda: (self._contains(s, t, d)
                                 if "contains" in s else None),
            "allOf": lambda: self._all_of(s["allOf"], t, d),
            "anyOf": lambda: self._any_of(s["anyOf"], t, d),
            "oneOf": lambda: self._one_of(s["oneOf"], t, d),
            "not": h_not,
            "if": h_if,
            "unevaluatedProperties": lambda: h_uneval(
                self._unevaluated_properties_v),
            "unevaluatedItems": lambda: h_uneval(
                self._unevaluated_items_v),
            "contentMediaType": lambda: self._content_media(s, t),
        }

        parts = []
        for canon in keyword_dispatch_order(s, self.version):
            h = handlers.get(canon)
            if h is None:
                continue
            part = h()
            if part is not None:
                parts.append(part)
        return _merge(parts)

    # -- keyword emitters --------------------------------------------------
    def _type(self, ty: Any, t: VTarget) -> Checked:
        types = [ty] if isinstance(ty, str) else list(ty)
        for x in types:
            if x not in PRIMITIVE_TYPES:
                raise UnsupportedRule(f"unknown type {x!r}")
        if isinstance(ty, str):
            detail = F.lit(f"The value must be {ty}")
        else:
            detail = F.lit("The value must be any of: " + ", ".join(types))
        ok = None
        for x in types:
            p = _TYPE_PRED[x](t)
            ok = p if ok is None else (ok | p)
        return _check(t.col.isNotNull() & ~ok,
                      make_violation("wrong_type", t.path, detail))

    def _scalar_match(self, value: Any, t: VTarget,
                      top_level: bool = True) -> Column:
        """is_matching (helpers.rs:137-145): TOP-LEVEL numbers compare
        through f64 (1 == 1.0); NESTED numbers are strict serde equality
        (int vs float are distinct Number variants — BIGINT vs
        DECIMAL/DOUBLE here). Composites recurse: objects must have the
        exact key set, arrays the exact length."""
        if value is None:
            return _is_null(t)
        if isinstance(value, bool):
            return _is_bool(t) & (_bool(t) == F.lit(value))
        if is_number(value):
            if top_level:
                return _is_num(t) & (_num(t) == F.lit(float(value)))
            if isinstance(value, float):
                tcls = _is_num(t) & (_tag(t) != "BIGINT")
            else:
                tcls = _tag(t) == "BIGINT"
            return tcls & (_num(t) == F.lit(float(value)))
        if isinstance(value, str):
            return _is_str(t) & (_str(t) == F.lit(value))
        if isinstance(value, list):
            arr = _arr(t)
            out = _is_arr(t) & (F.size(arr) == len(value))
            for i, elem in enumerate(value):
                el = VTarget(F.try_element_at(arr, F.lit(i + 1)), F.lit(""))
                m = self._scalar_match(elem, el, top_level=False)
                out = out & F.coalesce(m, F.lit(False))
            return out
        if isinstance(value, dict):
            m = _obj(t)
            out = _is_obj(t) & (F.size(F.map_keys(m)) == len(value))
            for k, sub in value.items():
                val = F.element_at(m, F.lit(k))
                out = out & val.isNotNull() \
                    & F.coalesce(self._scalar_match(
                        sub, VTarget(val, F.lit("")), top_level=False),
                        F.lit(False))
            return out
        raise UnsupportedRule(
            f"unsupported enum/const value on dynamic JSON: {value!r}")

    def _enum(self, values: list, t: VTarget) -> Checked:
        if not isinstance(values, list) or not values:
            raise UnsupportedRule("enum must be a non-empty array")
        strs = [x for x in values if isinstance(x, str)]
        # string members share one type test and one extraction
        ok = _is_str(t) & _str(t).isin(strs) if strs else None
        for val in values:
            if isinstance(val, str):
                continue
            m = self._scalar_match(val, t)
            ok = m if ok is None else (ok | m)
        return _check(t.col.isNotNull() & ~ok,
                      make_violation("enum", t.path))

    def _const(self, value: Any, t: VTarget) -> Checked:
        m = self._scalar_match(value, t)
        return _check(t.col.isNotNull() & ~m,
                      make_violation("const", t.path))

    def _bound(self, m: Any, op: str, t: VTarget) -> Checked:
        if not is_number(m):
            raise UnsupportedRule("bound must be a number")
        c = _num(t)
        ok = {"min": c >= F.lit(float(m)), "emin": c > F.lit(float(m)),
              "max": c <= F.lit(float(m)), "emax": c < F.lit(float(m))}[op]
        code = "maximum" if op in ("max", "emax") else "minimum"
        bad = t.col.isNotNull() & _is_num(t) & ~ok
        return _check(bad, make_violation(code, t.path))

    def _multiple_of(self, k: Any, t: VTarget) -> Checked:
        if not is_number(k) or float(k) <= 0:
            raise UnsupportedRule("multipleOf must be > 0")
        k = float(k)
        c = _num(t)
        if k == math.floor(k):
            whole = c == F.floor(c)
            rem = (c / F.lit(k)) % F.lit(1.0)
            float_ok = ((F.isnan(rem) | (rem < F.lit(EPSILON)))
                        & (rem < F.lit(1.0 - EPSILON)))
            ok = F.when(whole, (c % F.lit(k)) == 0).otherwise(float_ok)
        else:
            rem = (c / F.lit(k)) % F.lit(1.0)
            ok = ((F.isnan(rem) | (rem < F.lit(EPSILON)))
                  & (rem < F.lit(1.0 - EPSILON)))
        bad = t.col.isNotNull() & _is_num(t) & ~ok
        return _check(bad, make_violation("multiple_of", t.path))

    def _length(self, n: Any, is_max: bool, t: VTarget) -> Checked:
        ln = F.length(_str(t))
        ok = ln <= F.lit(int(n)) if is_max else ln >= F.lit(int(n))
        bad = t.col.isNotNull() & _is_str(t) & ~ok
        return _check(bad, make_violation(
            "max_length" if is_max else "min_length", t.path))

    def _pattern(self, p: Any, t: VTarget) -> Checked:
        if not isinstance(p, str):
            raise UnsupportedRule("pattern must be a string")
        bad = t.col.isNotNull() & _is_str(t) \
            & ~_str(t).rlike(unicode_pattern(p))
        return _check(bad, make_violation("pattern", t.path))

    def _format(self, name: Any, t: VTarget) -> Optional[Checked]:
        if not isinstance(name, str):
            raise UnsupportedRule("format must be a string")
        ok = ColumnCompiler.format_ok_expr(name, _str(t))
        if ok is None:
            return None
        bad = t.col.isNotNull() & _is_str(t) & ~ok
        return _check(bad, make_violation(
            "format", t.path,
            F.lit(ColumnCompiler._FORMAT_DETAILS[name])))

    def _required(self, keys: Any, t: VTarget) -> Checked:
        if not isinstance(keys, list):
            raise UnsupportedRule("required must be an array")
        m = _obj(t)
        parts = []
        for k in keys:
            # key presence, not value non-nullness: a JSON null passes
            # required (required.rs checks object containment)
            present = F.map_contains_key(m, F.lit(k))
            bad = t.col.isNotNull() & _is_obj(t) & ~present
            parts.append(_check(bad, make_violation("required",
                                                    _join(t.path, k))))
        return _merge(parts)

    def _properties(self, s: dict, t: VTarget, depth: int) -> Checked:
        """properties/patternProperties/additionalProperties. Violations:
        ONE pass over ``map_entries`` so they come out in DOCUMENT key
        order (properties.rs:47 iterates the object's keys), with the
        walker's per-key sub-order: property match, then each matching
        pattern, then additional. Gate: each declared property through a
        direct ``element_at`` lookup; patterns and additional through
        one ``forall`` over the entries."""
        props = s.get("properties", {})
        additional = s.get("additionalProperties")
        m = _obj(t)
        is_obj = t.col.isNotNull() & _is_obj(t)
        prop_b = {k: self._bind(sub, depth + 1) for k, sub in props.items()}
        pat_b = [(unicode_pattern(p), self._bind(sub, depth + 1))
                 for p, sub in s.get("patternProperties", {}).items()]
        add_b = (self._bind(additional, depth + 1)
                 if isinstance(additional, dict) else None)
        # keys whose sub-schema can emit anything
        prop_b = {k: b for k, b in prop_b.items() if b.viol is not None}
        pat_b = [(p, b) for p, b in pat_b if b.viol is not None]
        if add_b is not None and add_b.viol is None:
            add_b = None

        if not (prop_b or pat_b or add_b is not None or additional is False):
            return None
        # one entry variable for the violations pass and the gate's pass,
        # so the key tests are built once
        e = _lambda_var("entry")
        key, val = e["key"], e["value"]
        path = F.concat(t.path, F.lit("/"), key)
        is_known = F.lit(False)
        if props:
            is_known = is_known | key.isin(list(props))
        for p in s.get("patternProperties", {}):
            is_known = is_known | key.rlike(unicode_pattern(p))

        parts = []
        prop_case = None
        for k, b in prop_b.items():
            v = b.violations(val, path)
            prop_case = (F.when(key == F.lit(k), v) if prop_case is None
                         else prop_case.when(key == F.lit(k), v))
        if prop_case is not None:
            parts.append(prop_case.otherwise(empty_violations()))
        for p, b in pat_b:
            parts.append(_guarded(key.rlike(p), b.violations(val, path)))
        if additional is False:
            parts.append(F.when(~is_known, F.array(make_violation(
                "properties", t.path,
                F.concat(F.lit("Additional property '"), key,
                         F.lit("' is not allowed"))))
            ).otherwise(empty_violations()))
        elif add_b is not None:
            parts.append(_guarded(~is_known, add_b.violations(val, path)))
        viol = F.when(
            is_obj,
            F.flatten(_hof("transform", F.map_entries(m), e, _cat(parts)))
        ).otherwise(empty_violations())

        def entry_ok() -> Optional[Column]:
            conds = [~key.rlike(p) | b.ok_at(val) if b.ok is not None
                     else ~key.rlike(p) for p, b in pat_b]
            if additional is False:
                conds.append(is_known)
            elif add_b is not None:
                conds.append(is_known | add_b.ok_at(val)
                             if add_b.ok is not None else is_known)
            return _and(conds)

        def ok() -> Optional[Column]:
            oks = [b.ok_at(F.element_at(m, F.lit(k)), absent_ok=True)
                   for k, b in prop_b.items()]
            if pat_b or add_b is not None or additional is False:
                oks.append(_hof("forall", F.map_entries(m), e, entry_ok()))
            return _and(oks)

        return viol, _unless(is_obj, _gate(ok))

    def _property_names(self, sub: Any, t: VTarget, depth: int
                        ) -> Optional[Checked]:
        """Every key validates ``sub`` as a string value; error paths are
        ``{path}/[{key}]`` (property_names.rs:25). Keys are cast to
        string variants so the FULL keyword surface applies to them."""
        m = _obj(t)
        is_obj = t.col.isNotNull() & _is_obj(t)
        b = self._bind(sub, depth + 1)
        if b.viol is None:
            return None
        viol = F.when(is_obj, F.flatten(F.transform(
            F.map_keys(m),
            lambda k: b.violations(k.cast("variant"), F.concat(
                t.path, F.lit("/["), k, F.lit("]"))))
        )).otherwise(empty_violations())
        ok = None if b.ok is None else _gate(lambda: F.forall(
            F.map_keys(m), lambda k: b.ok_at(k.cast("variant"))))
        return viol, _unless(is_obj, ok)

    def _props_count(self, n: Any, is_max: bool, t: VTarget) -> Checked:
        cnt = F.size(F.map_keys(_obj(t)))
        ok = cnt <= F.lit(int(n)) if is_max else cnt >= F.lit(int(n))
        bad = t.col.isNotNull() & _is_obj(t) & ~ok
        return _check(bad, make_violation(
            "max_properties" if is_max else "min_properties", t.path))

    def _dependencies(self, s: dict, t: VTarget, depth: int) -> Checked:
        deps: dict[str, Any] = {}
        deps.update(s.get("dependencies", {}))
        deps.update(s.get("dependentRequired", {}))
        deps.update(s.get("dependentSchemas", {}))
        m = _obj(t)
        is_obj = t.col.isNotNull() & _is_obj(t)
        parts = []
        for key, dep in deps.items():
            trig = is_obj & F.map_contains_key(m, F.lit(key))
            if isinstance(dep, list):
                for req in dep:
                    bad = trig & ~F.map_contains_key(m, F.lit(req))
                    parts.append(_check(bad, make_violation(
                        "required", _join(t.path, req))))
            else:
                sub_v, sub_ok = self._node(dep, t, depth + 1)
                if sub_v is not None:
                    parts.append((_guarded(trig, sub_v),
                                  _unless(trig, sub_ok)))
        return _merge(parts)

    def _items(self, s: dict, t: VTarget, depth: int) -> Checked:
        items = s.get("items")
        additional = s.get("additionalItems")
        arr = _arr(t)
        is_arr = t.col.isNotNull() & _is_arr(t)

        def elem_path(i: Column) -> Column:
            return F.concat(t.path, F.lit("/"), i.cast("string"))

        parts = []
        if isinstance(items, (dict, bool)):
            b = self._bind(items, depth + 1)
            if b.viol is not None:
                viol = F.when(is_arr, F.flatten(F.transform(
                    arr, lambda x, i: b.violations(x, elem_path(i)))
                )).otherwise(empty_violations())
                ok = None if b.ok is None else _gate(
                    lambda: F.forall(arr, lambda x: b.ok_at(x)))
                parts.append((viol, _unless(is_arr, ok)))
        elif isinstance(items, list):
            for i, sub in enumerate(items):
                v, ok = self._bind(sub, depth + 1).at(
                    F.try_element_at(arr, F.lit(i + 1)),
                    _join(t.path, str(i)))
                if v is not None:
                    has = is_arr & (F.size(arr) > i)
                    parts.append((_guarded(has, v), _unless(has, ok)))
            n = len(items)
            if additional is False:
                parts.append(_check(
                    is_arr & (F.size(arr) > n),
                    make_violation("items", t.path,
                                   F.lit("Additional items are not "
                                         "allowed"))))
            elif isinstance(additional, dict):
                b = self._bind(additional, depth + 1)
                if b.viol is not None:
                    viol = F.when(is_arr, F.flatten(F.transform(
                        arr, lambda x, i: F.when(
                            i >= n, b.violations(x, elem_path(i))
                        ).otherwise(empty_violations())))
                    ).otherwise(empty_violations())
                    ok = None if b.ok is None else _gate(
                        lambda: F.forall(
                            F.filter(arr, lambda x, i: i >= n),
                            lambda x: b.ok_at(x)))
                    parts.append((viol, _unless(is_arr, ok)))
        elif items is not None:
            raise UnsupportedRule("items must be schema or array")
        return _merge(parts)

    def _unique_items(self) -> Checked:
        # element equality over runtime-typed trees of any depth has no
        # bounded expression form: the walker owns uniqueItems here
        raise UnsupportedRule("uniqueItems on dynamic JSON")

    def _items_count(self, n: Any, is_max: bool, t: VTarget) -> Checked:
        cnt = F.size(_arr(t))
        ok = cnt <= F.lit(int(n)) if is_max else cnt >= F.lit(int(n))
        bad = t.col.isNotNull() & _is_arr(t) & ~ok
        return _check(bad, make_violation(
            "max_items" if is_max else "min_items", t.path))

    def _contains(self, s: dict, t: VTarget, depth: int) -> Checked:
        sub = s["contains"]
        min_c = s.get("minContains")
        max_c = s.get("maxContains")
        if self.version < DRAFT2019:
            min_c = max_c = None
        arr = _arr(t)
        is_arr = t.col.isNotNull() & _is_arr(t)

        b = self._bind(sub, depth + 1)
        parts = []
        if min_c is None and max_c is None:
            parts.append(_check(is_arr & ~F.exists(arr, b.valid_at),
                                make_violation("contains", t.path)))
        else:
            matched = F.size(F.filter(arr, b.valid_at))
            if min_c != 0:
                parts.append(_check(is_arr & (matched == 0),
                                    make_violation("contains", t.path)))
            if max_c is not None:
                parts.append(_check(
                    is_arr & (matched > F.lit(int(max_c))),
                    make_violation("min_contains/max_contains", t.path)))
            if min_c is not None:
                parts.append(_check(
                    is_arr & (matched < F.lit(int(min_c))),
                    make_violation("min_contains/max_contains", t.path)))
        return _merge(parts)

    # -- unevaluated* (2019-09) on dynamic JSON ---------------------------
    # mirrors the typed compiler's static evaluated-set analysis
    # (columns.py _evaluated_keys/_entry_evaluated/_evaluated_items) with
    # runtime type guards: success-conditioned marking, combinator merge
    # rules, contains does NOT mark evaluated.

    def _branch_valid(self, sub: Any, t: VTarget, depth: int) -> Column:
        return _valid(self._node(sub, t, depth + 1)[0])

    def _entry_evaluated_v(self, s: Any, t: VTarget, depth: int,
                           key: Column, val: Column) -> Column:
        if not isinstance(s, dict):
            s = {} if s is True else {"not": {}}

        def sub_ok(sub) -> Column:
            return self._bind(sub, depth + 1).valid_at(val)

        if "unevaluatedProperties" in s:
            # a sub-schema's own unevaluatedProperties ANNOTATES: its
            # per-entry check adds each passing entry to `evaluated`
            # (UnevaluatedV._check_one), merged unconditionally by
            # allOf (of.rs:44 state.append) and validity-gated by the
            # combinator handling below for anyOf/oneOf — so here:
            # evaluated(rest) OR this-entry-passes-the-uev-schema
            uev = s["unevaluatedProperties"]
            if uev is True:
                return F.lit(True)
            rest = {k: v for k, v in s.items()
                    if k != "unevaluatedProperties"}
            base = self._entry_evaluated_v(rest, t, depth, key, val)
            if uev is False:
                return base
            return base | sub_ok(uev)

        def branch_valid(sub) -> Column:
            return self._branch_valid(sub, t, depth)

        m = _obj(t)
        conds: list[Column] = []
        if "$ref" in s:
            conds.append(self._entry_evaluated_v(
                self._resolve_ref(s["$ref"]), t, depth + 1, key, val))
            if self.version < DRAFT2019:
                return conds[0]
        props = s.get("properties", {})
        patterns = s.get("patternProperties", {})
        additional = s.get("additionalProperties")
        for k, sub in props.items():
            conds.append((key == F.lit(k)) & sub_ok(sub))
        for pat, psub in patterns.items():
            conds.append(key.rlike(unicode_pattern(pat)) & sub_ok(psub))
        if additional is not None:
            is_known = F.lit(False)
            if props:
                is_known = is_known | key.isin(list(props))
            for pat in patterns:
                is_known = is_known | key.rlike(unicode_pattern(pat))
            if additional is True:
                conds.append(~is_known)
            elif additional is not False:
                conds.append(~is_known & sub_ok(additional))
        for sub in s.get("allOf", []):
            conds.append(self._entry_evaluated_v(sub, t, depth + 1,
                                                 key, val))
        for sub in s.get("anyOf", []):
            conds.append(branch_valid(sub)
                         & self._entry_evaluated_v(sub, t, depth + 1,
                                                   key, val))
        if "oneOf" in s:
            count = None
            for sub in s["oneOf"]:
                x = F.when(branch_valid(sub), 1).otherwise(0)
                count = x if count is None else (count + x)
            for sub in s["oneOf"]:
                conds.append((count == 1) & branch_valid(sub)
                             & self._entry_evaluated_v(sub, t, depth + 1,
                                                       key, val))
        if "if" in s:
            ivalid = branch_valid(s["if"])
            conds.append(ivalid & self._entry_evaluated_v(
                s["if"], t, depth + 1, key, val))
            if "then" in s:
                conds.append(ivalid & self._entry_evaluated_v(
                    s["then"], t, depth + 1, key, val))
            if "else" in s:
                conds.append(~ivalid & self._entry_evaluated_v(
                    s["else"], t, depth + 1, key, val))
        deps = dict(s.get("dependencies", {}))
        deps.update(s.get("dependentSchemas", {}))
        for trig, dsub in deps.items():
            if isinstance(dsub, (dict, bool)):
                trig_present = F.map_contains_key(m, F.lit(trig))
                conds.append(trig_present & self._entry_evaluated_v(
                    dsub, t, depth + 1, key, val))
        out = F.lit(False)
        for c in conds:
            out = out | c
        return out

    def _unevaluated_properties_v(self, s: dict, t: VTarget,
                                  depth: int) -> Optional[Column]:
        spec = s["unevaluatedProperties"]
        if spec is True:
            return None
        rest = {k: v for k, v in s.items()
                if k != "unevaluatedProperties"}
        m = _obj(t)
        is_obj = t.col.isNotNull() & _is_obj(t)
        b = self._bind(spec, depth + 1) if spec is not False else None

        def emit(e: Column) -> Column:
            ev = self._entry_evaluated_v(rest, t, depth,
                                         e["key"], e["value"])
            path = F.concat(t.path, F.lit("/"), e["key"])
            if spec is False:
                return F.when(~ev, F.array(make_violation(
                    "unevaluated", path,
                    F.lit("Unevaluated properties are not allowed")))
                ).otherwise(empty_violations())
            return F.when(~ev, _v(b.violations(e["value"], path))) \
                    .otherwise(empty_violations())

        return F.when(
            is_obj,
            F.flatten(F.transform(F.map_entries(m), emit))
        ).otherwise(empty_violations())

    def _evaluated_items_v(self, s: Any, t: VTarget,
                           depth: int) -> Column:
        """array<boolean> aligned with the (variant-cast) array."""
        if not isinstance(s, dict):
            s = {} if s is True else {"not": {}}
        arr = _arr(t)
        false_arr = F.transform(arr, lambda x: F.lit(False))

        def merge(a: Column, b: Column) -> Column:
            return F.zip_with(a, b, lambda x, y: x | y)

        def gate(a: Column, cond: Column) -> Column:
            return F.transform(a, lambda x: cond & x)

        def elem_ok(sub, x: Column) -> Column:
            return self._bind(sub, depth + 1).valid_at(x)

        if "unevaluatedItems" in s:
            # same annotation rule as unevaluatedProperties: per-item
            # uev success marks the item evaluated for the parent
            uev = s["unevaluatedItems"]
            if uev is True:
                return F.transform(arr, lambda x: F.lit(True))
            rest = {k: v for k, v in s.items() if k != "unevaluatedItems"}
            ev_rest = self._evaluated_items_v(rest, t, depth)
            if uev is False:
                return ev_rest
            return merge(ev_rest,
                         F.transform(arr, lambda x: elem_ok(uev, x)))

        ev = false_arr
        items = s.get("items")
        additional = s.get("additionalItems")
        if isinstance(items, (dict, bool)):
            ev = merge(ev, F.transform(arr, lambda x: elem_ok(items, x)))
        elif isinstance(items, list):
            def positional(x: Column, i: Column) -> Column:
                out = F.lit(False)
                for idx, sub in enumerate(items):
                    out = F.when(i == idx, elem_ok(sub, x)).otherwise(out)
                if additional is True:
                    out = F.when(i >= len(items), F.lit(True)) \
                           .otherwise(out)
                elif isinstance(additional, dict):
                    out = F.when(i >= len(items),
                                 elem_ok(additional, x)).otherwise(out)
                return out
            ev = merge(ev, F.transform(arr, positional))

        def branch_valid(sub) -> Column:
            return self._branch_valid(sub, t, depth)

        for sub in s.get("allOf", []):
            ev = merge(ev, self._evaluated_items_v(sub, t, depth + 1))
        for sub in s.get("anyOf", []):
            ev = merge(ev, gate(self._evaluated_items_v(sub, t, depth + 1),
                                branch_valid(sub)))
        if "oneOf" in s:
            count = None
            for sub in s["oneOf"]:
                x = F.when(branch_valid(sub), 1).otherwise(0)
                count = x if count is None else (count + x)
            for sub in s["oneOf"]:
                ev = merge(ev, gate(
                    self._evaluated_items_v(sub, t, depth + 1),
                    (count == 1) & branch_valid(sub)))
        if "if" in s:
            ivalid = branch_valid(s["if"])
            ev = merge(ev, gate(self._evaluated_items_v(s["if"], t,
                                                        depth + 1),
                                ivalid))
            if "then" in s:
                ev = merge(ev, gate(
                    self._evaluated_items_v(s["then"], t, depth + 1),
                    ivalid))
            if "else" in s:
                ev = merge(ev, gate(
                    self._evaluated_items_v(s["else"], t, depth + 1),
                    ~ivalid))
        if "$ref" in s:
            ev = merge(ev, self._evaluated_items_v(
                self._resolve_ref(s["$ref"]), t, depth + 1))
        return ev

    def _unevaluated_items_v(self, s: dict, t: VTarget,
                             depth: int) -> Optional[Column]:
        spec = s["unevaluatedItems"]
        if spec is True:
            return None
        rest = {k: v for k, v in s.items() if k != "unevaluatedItems"}
        arr = _arr(t)
        is_arr = t.col.isNotNull() & _is_arr(t)
        ev = self._evaluated_items_v(rest, t, depth)
        idx_ev = F.zip_with(arr, ev,
                            lambda x, e: F.struct(x.alias("x"),
                                                  e.alias("e")))

        def elem_path(i: Column) -> Column:
            return F.concat(t.path, F.lit("/"), i.cast("string"))

        if spec is False:
            def emit(pair: Column, i: Column) -> Column:
                return F.when(~pair["e"], F.array(make_violation(
                    "unevaluated", elem_path(i),
                    F.lit("Unevaluated items are not allowed")))
                ).otherwise(empty_violations())
        else:
            b = self._bind(spec, depth + 1)

            def emit(pair: Column, i: Column) -> Column:
                return F.when(~pair["e"],
                              _v(b.violations(pair["x"], elem_path(i)))
                              ).otherwise(empty_violations())
        return F.when(is_arr,
                      F.flatten(F.transform(idx_ev, emit))
                      ).otherwise(empty_violations())

    _B64_RE = (r"^(?:[A-Za-z0-9+/]{4})*(?:[A-Za-z0-9+/]{2}=="
               r"|[A-Za-z0-9+/]{3}=)?$")

    def _content_media(self, s: dict, t: VTarget) -> Checked:
        """contentEncoding base64 / contentMediaType application/json
        (content_media.rs:14-61), gated on a string-typed value."""
        enc = s.get("contentEncoding")
        mt = s.get("contentMediaType")
        sv = _str(t)
        is_str = t.col.isNotNull() & _is_str(t)
        parts = []
        val = sv
        decodable = F.lit(True)
        if enc == "base64":
            b64_ok = sv.rlike(self._B64_RE)
            utf8_ok = F.is_valid_utf8(F.unbase64(sv))
            parts.append(_check(is_str & ~b64_ok,
                                make_violation("format", t.path,
                                               F.lit("Invalid byte"))))
            parts.append(_check(is_str & b64_ok & ~utf8_ok,
                                make_violation("format", t.path,
                                               F.lit("Invalid UTF-8"))))
            decodable = b64_ok & utf8_ok
            val = F.when(decodable, F.decode(F.unbase64(sv), "UTF-8"))
        if mt == "application/json":
            bad = is_str & decodable & F.try_parse_json(val).isNull()
            parts.append(_check(bad, make_violation("format", t.path,
                                                    F.lit(""))))
        return _merge(parts)

    def _all_of(self, subs: list, t: VTarget, depth: int) -> Checked:
        return _merge([self._node(sub, t, depth + 1) for sub in subs])

    def _any_of(self, subs: list, t: VTarget, depth: int) -> Checked:
        parts = [self._node(sub, t, depth + 1) for sub in subs]
        any_ok = None
        for p in parts:
            ok = _valid(p[0])
            any_ok = ok if any_ok is None else (any_ok | ok)
        res = _maybe(~any_ok, make_violation(
            "any_of", t.path, states=_states_json([_v(v) for v, _ in parts])))
        # one branch passing its gate passes the anyOf
        if any(v is None for v, _ in parts):
            return res, _gate(lambda: F.lit(True))
        gates = [ok for _, ok in parts if ok is not None]
        if not gates:
            return res, None
        return res, _gate(lambda: functools.reduce(
            lambda a, b: a | b, [ok() for ok in gates]))

    def _one_of(self, subs: list, t: VTarget, depth: int) -> Checked:
        parts = [self._node(sub, t, depth + 1) for sub in subs]
        count = None
        for p in parts:
            ok_int = F.when(_valid(p[0]), 1).otherwise(0)
            count = ok_int if count is None else (count + ok_int)
        return _maybe(count != 1, make_violation(
            "one_of", t.path,
            states=_states_json([_v(v) for v, _ in parts]))), None


def parse_documents(json_col: Column) -> Column:
    """Each JSON document string as a variant. A SQL-NULL document
    validates as JSON ``null`` (the walker's contract: never silently
    valid); malformed JSON also parses to null here — callers needing a
    parse-error distinction should pre-filter with ``try_parse_json``."""
    return F.coalesce(F.try_parse_json(json_col),
                      F.parse_json(F.lit("null")))


def compile_variant_ruleset(schema: Any, doc: Column,
                            version: int = DRAFT7
                            ) -> Tuple[Column, Optional[Column]]:
    """Compile ``schema`` against a variant column of parsed documents.

    Returns (ungated violations, ok). ``ok`` is None when no row can take
    the gate; either way ``gated(violations, ok)`` is the violations
    array. Raises ``UnsupportedRule`` for a ruleset the plan cannot
    judge exactly.
    """
    compiler = VariantCompiler(version=version, root_schema=schema)
    return compiler.compile_checked(schema, VTarget(col=doc, path=F.lit("")))


def compile_json_ruleset(schema: Any, json_col: Column,
                         version: int = DRAFT7,
                         residual_marker: bool = False) -> Column:
    """Compile ``schema`` against a column of raw JSON document strings.

    Returns the violations-array Column. Documents parse as in
    ``parse_documents``, once per row: the parse is let-bound and the
    gated plan evaluated over it. ``residual_marker`` is accepted for
    existing callers and ignored: the plan has no walker residual, and a
    ruleset it cannot judge raises ``UnsupportedRule`` either way.
    """
    doc = _lambda_var("doc")
    viol, ok = compile_variant_ruleset(schema, doc, version=version)
    return F.flatten(_hof("transform", F.array(parse_documents(json_col)),
                          doc, gated(viol, ok)))
