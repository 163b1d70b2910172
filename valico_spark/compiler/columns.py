"""Rule compiler: valico-style JSON Schema → vectorized Spark Column plan.

This is the engine's hot path. A ruleset (same JSON-Schema dialect the
reference validates, SURVEY.md §2) is compiled **once on the driver**
against the *typed* Spark schema of the audited table, producing a single
``Column`` expression that evaluates to ``array<struct<code,title,path,
detail,states>>`` per row — empty array ⇔ valid document. Everything is
built-in ``pyspark.sql.functions`` (whole-stage codegen, no Python in the
row loop); higher-order functions (``transform``/``filter``/``forall``/
``exists``/``aggregate``) handle array keywords.

One condition, three views. Every keyword emitter returns a
:class:`Checked`: a leaf writes its condition once, in ``_check(bad,
code, path)``, and that one column yields the violations array
(``_maybe``), an exact gate ``ok`` (``~bad``: holds exactly when the
part emits nothing) and a violation count (``when(bad, 1)``). Composites
combine the views — concat / AND / sum over a node's parts, ``~present |
ok`` and ``when(present, count)`` under struct properties, ``forall`` /
``aggregate`` over array items, and the combinators' own condition over
their branches' validity. A subschema's validity inside another keyword
(``contains``, evaluated sets) is its gate where exact, else a zero
count. A keyword with no exact boolean form (open maps,
``unevaluated*``, ...) has no gate and counts ``size(violations)``; its
node then has no gate either.
``compile_ruleset`` wraps the tree in the root's gate
(``when(ok, []).otherwise(violations)``), so valid rows never build the
allocating tree, and ``validation_counts`` reads the count view.

Semantics contract: identical verdicts and ``(code, title, path, detail)``
rows to ``pyvalidator`` (the reference-parity oracle) for the supported
subset, property-tested in ``tests/test_column_parity.py``. The mapping of
valico's dynamic-JSON semantics onto typed columns:

* a SQL ``NULL`` is *absent* (JSON has explicit ``null``; Parquet/Iceberg
  typed columns do not distinguish null from missing) — ``required`` fires
  on NULL, value keywords skip NULL (valico's nonstrict skip,
  validators/mod.rs:24-33);
* ``type`` is checked statically against the Spark type where decidable
  (free at scan time); only integer-ness of float columns is a runtime
  check (``validators/type_.rs:23-27``);
* keywords valico skips on type mismatch compile to a static no-op when
  the column type can never match — same verdict, zero runtime cost.

Constructs that need the dynamic walker (``unevaluated*`` with
branch-dependent evaluated sets, recursive ``$ref``, heterogeneous JSON)
raise ``UnsupportedRule``; ``operators.validate`` then routes the document
to the Arrow-batched fallback stage instead.
"""

from __future__ import annotations

import functools
import math
from dataclasses import dataclass
from typing import Any, Callable, Optional, Union

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from valico_spark.compiler.errors import SCHEMA_TITLES
from valico_spark.compiler.pyvalidator import (
    DRAFT2019, DRAFT7, EPSILON, FINAL_KEYS, NON_SCHEMA_KEYS, PRIMITIVE_TYPES,
    PROPERTY_KEYS, end_anchor_pattern, is_number,
)

VIOLATION_DDL = ("array<struct<code:string,title:string,path:string,"
                 "detail:string,states:string>>")


class UnsupportedRule(Exception):
    """Raised when a schema construct needs the Arrow fallback path."""


def inline_id_with_refs(schema: Any) -> bool:
    """True when the document has BOTH a non-root schema-position ``$id``
    and any ``$ref`` — the combination where pointer inlining diverges
    from the reference's URL-based resolution (rebased refs resolve
    relative to the inline $id's subtree; keyword sub-schemas below it
    silently go missing).  Position-aware, mirroring compile_sub's
    schema/non-schema walk (schema.rs:388-485): ``$id`` as a property
    NAME is data, not an identifier."""
    state = {"id": False, "ref": False}

    def walk(node: Any, parent_key: str, is_schema: bool, is_root: bool):
        if state["id"] and state["ref"]:
            return
        if isinstance(node, dict):
            if is_schema:
                if not is_root and isinstance(node.get("$id"), str):
                    state["id"] = True
                if isinstance(node.get("$ref"), str):
                    state["ref"] = True
            for key, value in node.items():
                if not isinstance(value, (dict, list, bool)):
                    continue
                if parent_key not in PROPERTY_KEYS and key in FINAL_KEYS:
                    continue
                sub_is_schema = (parent_key in PROPERTY_KEYS
                                 or key not in NON_SCHEMA_KEYS)
                walk(value, key, sub_is_schema, False)
        elif isinstance(node, list):
            for value in node:
                if isinstance(value, (dict, list)):
                    walk(value, parent_key, True, False)

    walk(schema, "#", True, True)
    return state["id"] and state["ref"]


def empty_violations() -> Column:
    return F.array().cast(VIOLATION_DDL)


def make_violation(code: str, path: Column, detail: Column | None = None,
                   states: Column | None = None) -> Column:
    return F.struct(
        F.lit(code).alias("code"),
        F.lit(SCHEMA_TITLES[code]).alias("title"),
        path.alias("path"),
        (detail if detail is not None
         else F.lit(None).cast("string")).alias("detail"),
        (states if states is not None
         else F.lit(None).cast("string")).alias("states"),
    )


def unicode_pattern(p: str) -> str:
    """Java regex defaults \\d/\\w/\\s/\\b to ASCII; the reference's
    fancy_regex (and the walker's Python ``re``) are Unicode-first.
    (?U) = UNICODE_CHARACTER_CLASS aligns ``rlike`` with them (pinned by
    the pattern-unicode-classes conformance group). Applied only when a
    shorthand class actually appears — for every other pattern the flag
    is a semantic no-op and would only disturb the matcher's fast
    paths in the regex-heavy validate hot loop."""
    import re as _re

    p = end_anchor_pattern(p, "\\z")  # Java \z = end of input, like Rust $
    if _re.search(r"\\[dwsbDWSB]", p):
        return "(?U)" + p
    return p


def _maybe(cond: Column, violation: Column) -> Column:
    """Array with one violation when ``cond`` (guarded) else empty."""
    return F.when(cond, F.array(violation)).otherwise(empty_violations())


def _concat(arrays: list[Column]) -> Column:
    arrays = [a for a in arrays if a is not None]
    if not arrays:
        return empty_violations()
    if len(arrays) == 1:
        return arrays[0]
    return F.concat(*arrays)


def _states_json(sub_viols: list[Column]) -> Column:
    """The nested ``states`` payload of any_of/one_of errors, byte-equal
    to the walker's serde-shaped serialization (errors.rs:154-172;
    common/error.rs:88-121): a JSON array of the FAILING substates only,
    each ``{"errors": [...], "missing": []}``, error keys in
    code/title/path/detail/states order with absent (NULL) detail/states
    dropped — exactly ``to_json``'s struct rendering."""
    entries = [F.struct(sv.alias("errors"),
                        F.array().cast("array<string>").alias("missing"))
               for sv in sub_viols]
    failing = F.filter(F.array(*entries),
                       lambda s: F.size(s["errors"]) != 0)
    return F.to_json(failing)


def gated(violations: Column, ok: Optional[Column]) -> Column:
    """The violations array with the gate as its fast path: rows whose
    ``ok`` holds never build the tree."""
    if ok is None:
        return violations
    return F.when(ok, empty_violations()).otherwise(violations)


class Checked:
    """A compiled schema part in three views of the same conditions, each
    built on first use: ``viol()`` the violations array, ``ok()`` a
    boolean that holds exactly when the part has no violations (None when
    the part has no exact boolean form) and ``count()`` the number of
    violations (``size(viol())`` unless given). ``empty``: the part can
    never emit, so its views read no value."""

    def __init__(self, viol: Callable[[], Column],
                 ok: Optional[Callable[[], Optional[Column]]] = None,
                 count: Optional[Callable[[], Column]] = None,
                 empty: bool = False):
        self.viol = functools.cache(viol)
        self.ok = functools.cache(ok or (lambda: None))
        self.count = functools.cache(count or (lambda: F.size(self.viol())))
        self.empty = empty

    def gated(self) -> Column:
        """The violations array behind its gate, when it has one."""
        return gated(self.viol(), self.ok())


def _one_if(cond: Column) -> Column:
    return F.when(cond, 1).otherwise(0)


def _check(bad: Column, code: str, path: Column,
           detail: Optional[str | Column] = None, at: str = "") -> Checked:
    """A leaf: one ``code`` violation at ``path`` + ``at`` when ``bad`` is
    TRUE. The only place a leaf writes its condition; the gate and the
    count read the same column, and only the violations view builds the
    violation struct (the count view of a ruleset then costs a few JVM
    calls per leaf, not a struct's worth).
    ``bad`` is never NULL: each leaf ANDs its condition with the value's
    presence and type test (``_present``), and the conditions on a
    present value of the tested type are NULL-free. So ``~bad`` is exact,
    and Catalyst folds it into the parent's ``isnull(value) OR`` guard,
    which a ``coalesce`` would block."""
    def viol() -> Column:
        where = F.concat(path, F.lit(at)) if at else path
        if isinstance(detail, str):
            return _maybe(bad, make_violation(code, where, F.lit(detail)))
        return _maybe(bad, make_violation(code, where, detail))

    return Checked(viol, lambda: ~bad, lambda: _one_if(bad))


def _exact(parts: list[Checked]) -> Optional[list[Column]]:
    """Every part's gate, or None when one has no exact form."""
    oks = []
    for p in parts:
        ok = p.ok()
        if ok is None:
            return None
        oks.append(ok)
    return oks


def _all(parts: list[Optional[Checked]]) -> Checked:
    """The parts of one node (None: the part can never emit):
    concatenated violations, conjoined gates, summed counts."""
    parts = [p for p in parts if p is not None]

    def ok() -> Optional[Column]:
        oks = _exact(parts)
        if oks is None:
            return None
        return functools.reduce(Column.__and__, oks) if oks else F.lit(True)

    def count() -> Column:
        counts = [p.count() for p in parts]
        return functools.reduce(Column.__add__, counts) if counts \
            else F.lit(0)

    return Checked(lambda: _concat([p.viol() for p in parts]), ok, count,
                   empty=all(p.empty for p in parts))


def _when(cond: Column, part: Checked) -> Checked:
    """``part`` where ``cond`` holds, nothing elsewhere. Every caller's
    ``cond`` is a presence test that is never NULL, so the gate stays
    exact."""
    def ok() -> Optional[Column]:
        sub = part.ok()
        return None if sub is None else ~cond | sub

    return Checked(
        lambda: F.when(cond, part.viol()).otherwise(empty_violations()),
        ok, lambda: F.when(cond, part.count()).otherwise(0))


def _each(arr: Column, elem: Callable[[Column, Column], Checked]
          ) -> Checked:
    """``elem(x, i)`` at every element of the non-NULL array ``arr``:
    ``flatten(transform)``, ``forall`` and ``aggregate``. Each view
    compiles the element inside its own lambda; only the violations read
    the index (for paths)."""
    def ok() -> Optional[Column]:
        exact = []

        def body(x: Column) -> Column:
            sub = elem(x, F.lit(0)).ok()
            exact.append(sub is not None)
            return F.lit(True) if sub is None else sub

        out = F.forall(arr, body)
        return out if all(exact) else None

    return Checked(
        lambda: F.flatten(F.transform(arr, lambda x, i: elem(x, i).viol())),
        ok,
        lambda: F.aggregate(arr, F.lit(0), lambda acc, x:
                            acc + elem(x, F.lit(0)).count()))


def _verdict(branches: list[Checked], bad_of: Callable[[list], Column],
             violation_of: Callable[[list], Column]) -> Checked:
    """A combinator's one violation when ``bad_of(valid)`` holds, with
    ``valid`` its branches' "no violations" in the view at hand:
    ``size(viol) == 0``, the branch gates (when all are exact), or
    ``count == 0``. The condition is written once, in ``bad_of``."""
    def ok() -> Optional[Column]:
        oks = _exact(branches)
        return None if oks is None else ~bad_of(oks)

    return Checked(
        lambda: _maybe(bad_of([F.size(b.viol()) == 0 for b in branches]),
                       violation_of([b.viol() for b in branches])),
        ok, lambda: _one_if(bad_of([b.count() == 0 for b in branches])))


def _pick(test: Checked, then: Checked, other: Checked) -> Checked:
    """``then`` where ``test`` has no violations, else ``other``."""
    def ok() -> Optional[Column]:
        oks = _exact([test, then, other])
        return None if oks is None \
            else F.when(oks[0], oks[1]).otherwise(oks[2])

    return Checked(
        lambda: F.when(F.size(test.viol()) == 0, then.viol())
                 .otherwise(other.viol()),
        ok, lambda: F.when(test.count() == 0, then.count())
                     .otherwise(other.count()))


def _valid(node: Checked) -> Column:
    """``node`` emits no violations: its gate where that is exact, else a
    zero count."""
    ok = node.ok()
    return node.count() == 0 if ok is None else ok


#: a type test: decided at compile time (True / False) or per row (a
#: boolean Column)
Test = Union[bool, Column]

#: the target type test for each JSON type name
_TYPE_TESTS = {"null": "is_null", "boolean": "is_bool", "string": "is_str",
               "integer": "is_int", "number": "is_num", "object": "is_obj",
               "array": "is_arr"}


def _typed(test: Test, cond: Optional[Column] = None) -> Optional[Column]:
    """``cond`` where the type ``test`` holds; None when it never does."""
    if test is False:
        return None
    if cond is None:
        return F.lit(True) if test is True else test
    return cond if test is True else test & cond


def _present(t: Any, test: Test) -> Optional[Column]:
    """``t`` holds a value that passes the type ``test`` (value keywords
    skip absent and wrong-typed values, validators/mod.rs:24-33); None
    when no value can."""
    if test is False:
        return None
    return t.col.isNotNull() if test is True else t.col.isNotNull() & test


def _dependency_items(s: dict) -> list[tuple[str, Any]]:
    """A node's dependency entries as the walker reads them
    (``kw_dependencies``): ``dependencies`` alone when present, else
    ``dependentRequired`` then ``dependentSchemas``. A list value names
    required keys; any other value is a subschema."""
    if "dependencies" in s:
        groups = [s["dependencies"]]
    else:
        groups = [s.get("dependentRequired", {}),
                  s.get("dependentSchemas", {})]
    return [(k, v) for g in groups for k, v in g.items()]


def spark_json_types(dtype: T.DataType) -> set[str]:
    """JSON primitive types a Spark type can materialize."""
    if isinstance(dtype, T.StringType):
        return {"string"}
    if isinstance(dtype, T.BooleanType):
        return {"boolean"}
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType,
                          T.LongType)):
        return {"integer", "number"}
    if isinstance(dtype, (T.FloatType, T.DoubleType, T.DecimalType)):
        return {"number", "integer"}  # integer iff whole (runtime)
    if isinstance(dtype, T.ArrayType):
        return {"array"}
    if isinstance(dtype, (T.StructType, T.MapType)):
        return {"object"}
    if isinstance(dtype, (T.DateType, T.TimestampType, T.TimestampNTZType)):
        return {"string"}  # serialized as ISO strings in the JSON view
    if isinstance(dtype, T.NullType):
        return set()
    raise UnsupportedRule(f"untyped/unsupported Spark type {dtype}")


def _is_float(dtype) -> bool:
    return isinstance(dtype, (T.FloatType, T.DoubleType, T.DecimalType))


@dataclass
class Target:
    """The value a subschema is applied to, as a typed Spark column.

    A target answers the JSON type tests (``is_obj`` / ``is_arr`` /
    ``is_num`` / ``is_int`` / ``is_str`` / ``is_bool`` / ``is_null``)
    and reads the value (``num`` / ``str`` / ``bool`` / ``obj`` /
    ``arr``); the keyword emitters of :class:`ColumnCompiler` are written
    against that surface alone. This typed target decides every test at
    compile time from the Spark type; only the integer-ness of a float
    column is tested per row (type_.rs:23-27). The VARIANT target
    (``compiler.variantcolumns``) answers the same tests per row.
    """
    col: Column
    dtype: T.DataType
    path: Column               # JSON-pointer string column
    # NULL ≡ absent. Value keywords skip absent values; `required`
    # (evaluated by the parent) is the only keyword that reports them.

    def child(self, col: Column, dtype, path: Column) -> "Target":
        return Target(col=col, dtype=dtype, path=path)

    def _is(self, json_type: str) -> bool:
        return json_type in spark_json_types(self.dtype)

    @property
    def is_obj(self) -> Test:
        return self._is("object")

    @property
    def is_arr(self) -> Test:
        return self._is("array")

    @property
    def is_num(self) -> Test:
        return self._is("number")

    @property
    def is_int(self) -> Test:
        if self._is("integer") and _is_float(self.dtype):
            return self.col == F.floor(self.col)
        return self._is("integer")

    @property
    def is_str(self) -> Test:
        return self._is("string")

    @property
    def is_bool(self) -> Test:
        return self._is("boolean")

    @property
    def is_null(self) -> Test:
        # JSON null ≡ absent in typed mode: a present value is never null
        return False

    def num_class(self, is_float: bool) -> Test:
        """A number of serde's float class (``is_float``) or integer
        class: nested ``const`` / ``enum`` numbers match strictly."""
        return self._is("number") and _is_float(self.dtype) == is_float

    @property
    def num(self) -> Column:
        return self.col

    @property
    def str(self) -> Optional[Column]:
        """None for date/time columns: their JSON strings are not the
        column's Spark string, so string keywords skip them."""
        return self.col if isinstance(self.dtype, T.StringType) else None

    def str_in(self, values: list) -> Optional[Column]:
        """A string equal to one of ``values``; None when no value can
        be one."""
        sv = self.str
        if sv is None:
            return None
        return _typed(self.is_str, functools.reduce(
            Column.__or__, [sv == F.lit(v) for v in values]))

    @property
    def bool(self) -> Column:
        return self.col

    @property
    def obj(self) -> Column:
        return self.col

    @property
    def arr(self) -> Column:
        return self.col

    @property
    def fields(self) -> Optional[list]:
        """The struct fields of an object with static keys; None for an
        object with open keys (a map)."""
        return (self.dtype.fields if isinstance(self.dtype, T.StructType)
                else None)

    def has_key(self, key: str) -> Column:
        """The object (a struct or map) holds ``key``."""
        if isinstance(self.dtype, T.MapType):
            return F.map_contains_key(self.col, F.lit(key))
        if key in self.dtype.fieldNames():
            return self.col.getField(key).isNotNull()
        return F.lit(False)

    def elem(self, x: Column, path: Column) -> "Target":
        return Target(x, self.dtype.elementType, path)

    def value(self, x: Column, path: Column) -> "Target":
        return Target(x, self.dtype.valueType, path)

    def key(self, k: Column, path: Column) -> "Target":
        return Target(k, T.StringType(), path)

    @property
    def all_distinct(self) -> Column:
        # O(n) array_distinct vs the reference's O(n²) loop
        # (validators/unique_items.rs:18 'TODO quicker algorithm')
        return F.size(F.array_distinct(self.col)) == F.size(self.col)

    def node(self, schema: Any, build: Callable[["Target"], Checked]
             ) -> Checked:
        """A schema node at this value: compiled directly against it."""
        return build(self)


class ColumnCompiler:
    """Compiles one ruleset against one target (typed or VARIANT).

    Mirrors the reference's compile-once / validate-many split
    (schema.rs:128 vs :567): compilation happens once on the driver, the
    emitted Column DAG is optimized by Catalyst and codegen'd.
    ``$ref`` inlines at compile time up to ``_UNROLL_DEPTH`` nested nodes
    and ``_REF_BUDGET`` inlined refs in all.
    """

    _UNROLL_DEPTH = 24
    _REF_BUDGET = math.inf

    def __init__(self, version: int = DRAFT7, root_schema: Any = None):
        self.version = version
        self.root_schema = root_schema  # for local $ref resolution
        self._refs_inlined = 0

    # -- entry ----------------------------------------------------------
    def compile(self, schema: Any, target: Any) -> Checked:
        """The :class:`Checked` views of ``schema`` at ``target``."""
        if inline_id_with_refs(self.root_schema
                               if self.root_schema is not None else schema):
            # An inline (non-root) $id rebases ref resolution and, in
            # the reference, silently kills keyword sub-schemas below it
            # (the root-fragment-under-new-base missing quirk,
            # keywords/properties.rs:27-35 + scope.rs:236-257).  Pointer
            # inlining cannot reproduce that; the walker can.
            raise UnsupportedRule("inline $id together with $ref")
        return self._at(schema, target, 0)

    # -- $ref (compile-time inlining; SURVEY.md §2.4) --------------------
    def _resolve_ref(self, ref: str) -> Any:
        if not ref.startswith("#"):
            raise UnsupportedRule(f"external $ref {ref!r}")
        if ref == "#":
            return self.root_schema
        if not ref.startswith("#/"):
            raise UnsupportedRule(f"anchor $ref {ref!r}")
        node = self.root_schema
        for raw in ref[2:].split("/"):
            key = raw.replace("~1", "/").replace("~0", "~")
            if isinstance(node, dict) and key in node:
                node = node[key]
            elif isinstance(node, list) and key.isdigit():
                node = node[int(key)]
            else:
                raise UnsupportedRule(f"unresolvable $ref {ref!r}")
        return node

    def _inline_ref(self, ref: str, t: Any, depth: int) -> Checked:
        self._refs_inlined += 1
        if self._refs_inlined > self._REF_BUDGET:
            raise UnsupportedRule("$ref inlining budget exhausted")
        return self._node(self._resolve_ref(ref), t, depth + 1)

    # -- node ------------------------------------------------------------
    def _at(self, schema: Any, t: Any, depth: int) -> Checked:
        """``schema`` at a new value ``t`` (an element, entry or key):
        the target decides how the node is bound to it."""
        return t.node(schema, lambda bound: self._node(schema, bound, depth))

    def _node(self, schema: Any, target: Any, depth: int) -> Checked:
        if depth > self._UNROLL_DEPTH:
            raise UnsupportedRule("recursive $ref beyond inlining depth")
        if schema is True:
            schema = {}
        elif schema is False:
            schema = {"not": {}}
        if not isinstance(schema, dict):
            raise UnsupportedRule("schema must be an object or boolean")

        if "$ref" in schema and self.version < DRAFT2019:
            # exclusive pre-2019-09: $ref replaces all siblings
            # (schema.rs:344-362)
            return self._inline_ref(schema["$ref"], target, depth)

        s, t = schema, target
        d = depth
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
            "uniqueItems": lambda: (self._unique_items(t)
                                    if s["uniqueItems"] is True else None),
            "contains": lambda: (self._contains(s, t, d)
                                 if "contains" in s else None),
            "allOf": lambda: self._all_of(s["allOf"], t, d),
            "anyOf": lambda: self._any_of(s["anyOf"], t, d),
            "oneOf": lambda: self._one_of(s["oneOf"], t, d),
            "not": lambda: self._not(s["not"], t, d),
            "if": lambda: (self._conditional(s, t, d)
                           if "if" in s else None),
            "unevaluatedProperties": lambda: (
                Checked(lambda: self._unevaluated_properties(s, t, d))
                if self.version >= DRAFT2019 else None),
            "unevaluatedItems": lambda: (
                Checked(lambda: self._unevaluated_items(s, t, d))
                if self.version >= DRAFT2019 else None),
            "contentMediaType": lambda: self._content_media(s, t),
        }
        from valico_spark.compiler.pyvalidator import keyword_dispatch_order

        return _all([handlers[canon]()
                     for canon in keyword_dispatch_order(s, self.version)
                     if canon in handlers])

    # -- unevaluatedProperties (2019-09) ----------------------------------
    # SURVEY.md §7 hard-part 1: valico's `evaluated` set is dynamic —
    # properties mark a key evaluated only when that key's subschema
    # PASSED (validators/properties.rs:52-56), anyOf merges the sets of
    # valid branches, oneOf takes the single valid branch, if/then/else
    # merge conditionally. For struct targets the key space is static, so
    # the whole set compiles to one boolean column per key; objects with
    # open keys (maps, VARIANT objects) test each entry at run time.

    def _evaluated_keys(self, s: dict, t: Target,
                        depth: int) -> dict[str, Column]:
        """Per-field 'evaluated' boolean columns mirroring
        validators/mod.rs evaluated-set semantics for a StructType target."""
        import re as _re

        if t.fields is None:
            raise UnsupportedRule("evaluated-set analysis needs a struct")
        fields = {f.name: f for f in t.fields}
        ev: dict[str, Column] = {}

        def mark(key: str, cond: Column) -> None:
            ev[key] = (ev[key] | cond) if key in ev else cond

        def present(key: str) -> Column:
            return t.col.isNotNull() & t.col.getField(key).isNotNull()

        def child(key: str) -> Target:
            return t.child(t.col.getField(key), fields[key].dataType,
                           F.concat(t.path, F.lit("/" + key)))

        def branch_ev_and_valid(sub) -> tuple[dict[str, Column], Column]:
            sub_n = {"not": {}} if sub is False else ({} if sub is True
                                                      else sub)
            if not isinstance(sub_n, dict):
                raise UnsupportedRule("schema must be object/boolean")
            return (self._evaluated_keys(sub_n, t, depth + 1),
                    _valid(self._node(sub_n, t, depth + 1)))

        if "$ref" in s:
            ref_ev = self._evaluated_keys(
                self._resolve_ref(s["$ref"]), t, depth + 1)
            for k, c in ref_ev.items():
                mark(k, c)
            if self.version < DRAFT2019:
                return ev

        props = s.get("properties", {})
        patterns = s.get("patternProperties", {})
        additional = s.get("additionalProperties")
        for key in fields:
            matched = False
            if key in props:
                matched = True
                mark(key, present(key) & _valid(
                    self._node(props[key], child(key), depth + 1)))
            for pat, psub in patterns.items():
                if _re.search(pat, key):
                    matched = True
                    mark(key, present(key) & _valid(
                        self._node(psub, child(key), depth + 1)))
            if not matched and additional is not None:
                if additional is True:
                    mark(key, present(key))  # properties.rs:106-108
                elif additional is False:
                    pass  # forbidden, never evaluated
                else:
                    mark(key, present(key) & _valid(
                        self._node(additional, child(key), depth + 1)))

        for sub in s.get("allOf", []):
            # allOf appends every branch state (of.rs:36-42): evaluated
            # flags merge regardless of branch validity (the flags are
            # already per-key success-conditioned)
            for k, c in branch_ev_and_valid(sub)[0].items():
                mark(k, c)

        if "anyOf" in s:
            for sub in s["anyOf"]:
                bev, bvalid = branch_ev_and_valid(sub)
                for k, c in bev.items():
                    mark(k, bvalid & c)

        if "oneOf" in s:
            branches = [branch_ev_and_valid(sub) for sub in s["oneOf"]]
            count = None
            for _, v in branches:
                x = F.when(v, 1).otherwise(0)
                count = x if count is None else (count + x)
            exactly_one = count == 1
            for bev, bvalid in branches:
                for k, c in bev.items():
                    mark(k, exactly_one & bvalid & c)

        if "if" in s:
            iev, ivalid = branch_ev_and_valid(s["if"])
            for k, c in iev.items():
                mark(k, ivalid & c)  # conditional.rs:31
            if "then" in s:
                tev, _ = branch_ev_and_valid(s["then"])
                for k, c in tev.items():
                    mark(k, ivalid & c)
            if "else" in s:
                eev, _ = branch_ev_and_valid(s["else"])
                for k, c in eev.items():
                    mark(k, ~ivalid & c)

        for trig, dsub in _dependency_items(s):
            if isinstance(dsub, (dict, bool)):
                trig_present = (present(trig) if trig in fields
                                else F.lit(False))
                bev, _ = branch_ev_and_valid(dsub)
                for k, c in bev.items():
                    mark(k, trig_present & c)

        if "unevaluatedProperties" in s:
            # a branch's own unevaluatedProperties ANNOTATES: its
            # per-entry check adds each passing entry to `evaluated`
            # (UnevaluatedV._check_one); allOf merges unconditionally
            # (of.rs:44), anyOf/oneOf gating happens at the combinator
            # marks above — so: evaluated(rest) OR entry-passes-uev
            uev = s["unevaluatedProperties"]
            if uev is True:
                for key in fields:
                    mark(key, present(key))
            elif uev is not False:
                for key in fields:
                    mark(key, present(key) & _valid(
                        self._node(uev, child(key), depth + 1)))
        return ev

    def _evaluated_items(self, s: Any, t: Any, depth: int) -> Column:
        """array<boolean> aligned with the target array: element i
        evaluated? Mirrors validators/items.rs evaluated insertions
        (success-conditioned) and the combinator merge rules. valico's
        ``contains`` does NOT mark evaluated (validators/contains.rs)."""
        if not isinstance(s, dict):
            s = {} if s is True else {"not": {}}
        arr = t.arr
        false_arr = F.transform(arr, lambda x: F.lit(False))

        def merge(a: Column, b: Column) -> Column:
            return F.zip_with(a, b, lambda x, y: x | y)

        def gate(a: Column, cond: Column) -> Column:
            return F.transform(a, lambda x: cond & x)

        def elem_ok(sub: Any, x: Column) -> Column:
            return _valid(self._at(sub, t.elem(x, F.lit("")), depth + 1))

        if "unevaluatedItems" in s:
            # annotation rule (see _evaluated_keys): per-item uev
            # success marks the item evaluated for the parent
            uev = s["unevaluatedItems"]
            if uev is True:
                return F.transform(arr, lambda x: F.lit(True))
            rest_s = {k: v for k, v in s.items() if k != "unevaluatedItems"}
            ev_rest = self._evaluated_items(rest_s, t, depth)
            if uev is False:
                return ev_rest
            return merge(ev_rest, F.transform(arr,
                                              lambda x: elem_ok(uev, x)))

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
                        .otherwise(out)  # items.rs:118-123
                elif isinstance(additional, dict):
                    out = F.when(i >= len(items), elem_ok(additional, x)) \
                        .otherwise(out)
                return out
            ev = merge(ev, F.transform(arr, positional))

        def branch(sub) -> tuple[Column, Column]:
            return (self._evaluated_items(sub, t, depth + 1),
                    _valid(self._node(sub, t, depth + 1)))

        for sub in s.get("allOf", []):
            bev, _ = branch(sub)
            ev = merge(ev, bev)
        if "anyOf" in s:
            for sub in s["anyOf"]:
                bev, bvalid = branch(sub)
                ev = merge(ev, gate(bev, bvalid))
        if "oneOf" in s:
            branches = [branch(sub) for sub in s["oneOf"]]
            count = None
            for _, v in branches:
                x = F.when(v, 1).otherwise(0)
                count = x if count is None else (count + x)
            exactly_one = count == 1
            for bev, bvalid in branches:
                ev = merge(ev, gate(bev, exactly_one & bvalid))
        if "if" in s:
            iev, ivalid = branch(s["if"])
            ev = merge(ev, gate(iev, ivalid))
            if "then" in s:
                tev, _ = branch(s["then"])
                ev = merge(ev, gate(tev, ivalid))
            if "else" in s:
                eev, _ = branch(s["else"])
                ev = merge(ev, gate(eev, ~ivalid))
        if "$ref" in s:
            rev = self._evaluated_items(self._resolve_ref(s["$ref"]), t,
                                        depth + 1)
            ev = merge(ev, rev)
        return ev

    def _unevaluated_items(self, s: dict, t: Any, depth: int) -> Column:
        present = _present(t, t.is_arr)
        if present is None:
            return empty_violations()
        spec = s["unevaluatedItems"]
        rest = {k: v for k, v in s.items() if k != "unevaluatedItems"}
        ev = self._evaluated_items(rest, t, depth)
        idx_ev = F.zip_with(
            t.arr, ev, lambda x, e: F.struct(x.alias("x"), e.alias("e")))

        if spec is True:
            return empty_violations()
        if spec is False:
            def emit(pair: Column, i: Column) -> Column:
                return F.when(~pair["e"], F.array(make_violation(
                    "unevaluated",
                    F.concat(t.path, F.lit("/"), i.cast("string")),
                    F.lit("Unevaluated items are not allowed")))
                ).otherwise(empty_violations())
        else:
            def emit(pair: Column, i: Column) -> Column:
                child = t.elem(pair["x"], F.concat(t.path, F.lit("/"),
                                                   i.cast("string")))
                return F.when(~pair["e"],
                              self._at(spec, child, depth + 1).viol()
                              ).otherwise(empty_violations())
        return F.when(present, F.flatten(F.transform(idx_ev, emit))
                      ).otherwise(empty_violations())

    def _entry_evaluated(self, s: Any, t: Any, depth: int,
                         key: Column, val: Column) -> Column:
        """Runtime 'is this entry evaluated?' boolean — the open-key
        analogue of ``_evaluated_keys`` (keys are dynamic, so property
        matching happens per entry: equality for ``properties``, rlike
        for ``patternProperties``), with the same success-conditioned
        marking and combinator merge rules as the walker's evaluated-set
        semantics (validators/properties.rs:52-56, of.rs:94-110)."""
        if not isinstance(s, dict):
            s = {} if s is True else {"not": {}}

        def sub_ok(sub) -> Column:
            return _valid(self._at(sub, t.value(val, F.lit("")), depth + 1))

        def branch_valid(sub) -> Column:
            return _valid(self._node(sub, t, depth + 1))

        if "unevaluatedProperties" in s:
            # annotation rule (see _evaluated_keys): per-entry uev
            # success marks the entry evaluated for the parent
            uev = s["unevaluatedProperties"]
            if uev is True:
                return F.lit(True)
            rest = {k: v for k, v in s.items()
                    if k != "unevaluatedProperties"}
            base = self._entry_evaluated(rest, t, depth, key, val)
            if uev is False:
                return base
            return base | sub_ok(uev)

        conds: list[Column] = []
        if "$ref" in s:
            conds.append(self._entry_evaluated(
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
            is_known = _known(key, props, patterns)
            if additional is True:
                conds.append(~is_known)
            elif additional is not False:
                conds.append(~is_known & sub_ok(additional))
        for sub in s.get("allOf", []):
            conds.append(self._entry_evaluated(sub, t, depth + 1,
                                               key, val))
        for sub in s.get("anyOf", []):
            conds.append(branch_valid(sub)
                         & self._entry_evaluated(sub, t, depth + 1,
                                                 key, val))
        if "oneOf" in s:
            count = None
            for sub in s["oneOf"]:
                x = F.when(branch_valid(sub), 1).otherwise(0)
                count = x if count is None else (count + x)
            for sub in s["oneOf"]:
                conds.append((count == 1) & branch_valid(sub)
                             & self._entry_evaluated(sub, t, depth + 1,
                                                     key, val))
        if "if" in s:
            ivalid = branch_valid(s["if"])
            conds.append(ivalid & self._entry_evaluated(
                s["if"], t, depth + 1, key, val))
            if "then" in s:
                conds.append(ivalid & self._entry_evaluated(
                    s["then"], t, depth + 1, key, val))
            if "else" in s:
                conds.append(~ivalid & self._entry_evaluated(
                    s["else"], t, depth + 1, key, val))
        for trig, dsub in _dependency_items(s):
            if isinstance(dsub, (dict, bool)):
                conds.append(t.has_key(trig) & self._entry_evaluated(
                    dsub, t, depth + 1, key, val))
        out = F.lit(False)
        for c in conds:
            out = out | c
        return out

    def _unevaluated_properties(self, s: dict, t: Any,
                                depth: int) -> Column:
        present = _present(t, t.is_obj)
        if present is None:
            return empty_violations()
        spec = s["unevaluatedProperties"]
        if t.fields is None:
            return self._unevaluated_entries(s, t, depth, present)
        rest = {k: v for k, v in s.items() if k != "unevaluatedProperties"}
        ev = self._evaluated_keys(rest, t, depth)
        parts = []
        for f_ in t.fields:
            key = f_.name
            present = t.col.isNotNull() & t.col.getField(key).isNotNull()
            unevaluated = present & ~ev.get(key, F.lit(False))
            if spec is False:
                parts.append(_maybe(unevaluated, make_violation(
                    "unevaluated", F.concat(t.path, F.lit("/" + key)),
                    F.lit("Unevaluated properties are not allowed"))))
            elif spec is True:
                continue
            else:
                child = t.child(t.col.getField(key), f_.dataType,
                                F.concat(t.path, F.lit("/" + key)))
                sub_viol = self._node(spec, child, depth + 1).viol()
                parts.append(F.when(unevaluated, sub_viol)
                              .otherwise(empty_violations()))
        return _concat(parts)

    def _unevaluated_entries(self, s: dict, t: Any, depth: int,
                             present: Column) -> Column:
        spec = s["unevaluatedProperties"]
        if spec is True:
            return empty_violations()
        rest = {k: v for k, v in s.items()
                if k != "unevaluatedProperties"}

        def emit(e: Column) -> Column:
            ev = self._entry_evaluated(rest, t, depth, e["key"], e["value"])
            path = F.concat(t.path, F.lit("/"), e["key"])
            if spec is False:
                return F.when(~ev, F.array(make_violation(
                    "unevaluated", path,
                    F.lit("Unevaluated properties are not allowed")))
                ).otherwise(empty_violations())
            child = t.value(e["value"], path)
            return F.when(~ev, self._at(spec, child, depth + 1).viol()) \
                    .otherwise(empty_violations())

        return F.when(
            present, F.flatten(F.transform(F.map_entries(t.obj), emit))
        ).otherwise(empty_violations())

    # -- keyword emitters -------------------------------------------------
    # each returns a Checked, or None when it can never emit (a static
    # no-op: the keyword is decided by the target's type alone)
    def _type(self, ty: Any, t: Any) -> Optional[Checked]:
        types = [ty] if isinstance(ty, str) else list(ty)
        for x in types:
            if x not in PRIMITIVE_TYPES:
                raise UnsupportedRule(f"unknown type {x!r}")
        if isinstance(ty, str):
            detail = f"The value must be {ty}"
        else:
            detail = "The value must be any of: " + ", ".join(types)
        tests = [getattr(t, _TYPE_TESTS[x]) for x in types]
        if any(x is True for x in tests):
            return None  # statically satisfied
        tests = [x for x in tests if x is not False]
        # no test can hold → violation whenever present
        bad = t.col.isNotNull() if not tests else \
            t.col.isNotNull() & ~functools.reduce(Column.__or__, tests)
        return _check(bad, "wrong_type", t.path, detail)

    def _match(self, value: Any, t: Any, top_level: bool) -> Column | None:
        """Boolean column: does ``t`` equal ``value`` under the
        reference's matcher (helpers.rs:137-145)? Top-level numbers
        compare through f64; NESTED numbers are strict serde equality
        (int vs float are distinct Number variants). Objects must have
        the exact key set, arrays the exact length. Returns None when
        the match is statically impossible."""
        if value is None:
            return _typed(t.is_null)
        if isinstance(value, bool):
            return _typed(t.is_bool, t.bool == F.lit(value))
        if is_number(value):
            if top_level:
                return _typed(t.is_num, t.num.cast("double")
                              == F.lit(float(value)))
            return _typed(t.num_class(isinstance(value, float)),
                          t.num == F.lit(value))
        if isinstance(value, str):
            sv = t.str
            return None if sv is None else _typed(t.is_str,
                                                  sv == F.lit(value))
        if isinstance(value, list):
            if t.is_arr is False:
                return None
            arr = t.arr
            if len(value) == 0:
                return _typed(t.is_arr, F.size(arr) == 0)
            out = F.size(arr) == len(value)
            for i, v in enumerate(value):
                el = t.elem(F.try_element_at(arr, F.lit(i + 1)), F.lit(""))
                m = self._match(v, el, top_level=False)
                if m is None and v is not None:
                    return None  # some element can never match
                if m is None:
                    m = el.col.isNull()  # a NULL element is JSON null
                out = out & F.coalesce(m, F.lit(False))
            return _typed(t.is_arr, out)
        if isinstance(value, dict):
            if t.is_obj is False:
                return None
            if t.fields is None:  # open keys: the exact key set
                m = t.obj
                out = F.size(F.map_keys(m)) == len(value)
                for k, sub in value.items():
                    v = F.element_at(m, F.lit(k))
                    mv = self._match(sub, t.value(v, F.lit("")), False)
                    if mv is None:
                        return None
                    out = out & v.isNotNull() & F.coalesce(mv, F.lit(False))
                return _typed(t.is_obj, out)
            fields = {f.name: f for f in t.fields}
            if any(k not in fields for k in value):
                return None  # const has a key the row type can't hold
            preds = []
            for f_ in t.fields:
                c = t.col.getField(f_.name)
                if f_.name in value:
                    m = self._match(value[f_.name],
                                    t.child(c, f_.dataType, F.lit("")),
                                    top_level=False)
                    if m is None:
                        return None
                    preds.append(F.coalesce(m, F.lit(False)))
                else:
                    preds.append(c.isNull())  # NULL ≡ absent
            out = t.col.isNotNull()
            for m in preds:
                out = out & m
            return out
        raise UnsupportedRule(f"unsupported const value {value!r}")

    def _enum(self, values: list, t: Any) -> Checked:
        if not isinstance(values, list) or not values:
            raise UnsupportedRule("enum must be a non-empty array")
        return self._match_any(values, t, "enum")

    def _const(self, value: Any, t: Any) -> Checked:
        return self._match_any([value], t, "const")

    def _match_any(self, values: list, t: Any, code: str) -> Checked:
        strs = [v for v in values if isinstance(v, str)]
        ok = t.str_in(strs) if strs else None
        for v in values:
            if isinstance(v, str):
                continue
            m = self._match(v, t, top_level=True)
            if m is not None:
                ok = m if ok is None else (ok | m)
        bad = t.col.isNotNull() if ok is None else t.col.isNotNull() & ~ok
        return _check(bad, code, t.path)

    def _bound(self, m: Any, op: str, t: Any) -> Optional[Checked]:
        if not is_number(m):
            raise UnsupportedRule("bound must be a number")
        present = _present(t, t.is_num)
        if present is None:
            return None  # nonstrict skip, statically
        c = t.num.cast("double")
        ok = {"min": c >= F.lit(float(m)), "emin": c > F.lit(float(m)),
              "max": c <= F.lit(float(m)), "emax": c < F.lit(float(m))}[op]
        code = "maximum" if op in ("max", "emax") else "minimum"
        return _check(present & ~ok, code, t.path)

    def _multiple_of(self, k: Any, t: Any) -> Optional[Checked]:
        if not is_number(k) or float(k) <= 0:
            raise UnsupportedRule("multipleOf must be > 0")
        present = _present(t, t.is_num)
        if present is None:
            return None
        k = float(k)
        c = t.num.cast("double")
        if t.is_int is True and k == math.floor(k):
            ok = (t.num % F.lit(int(k))) == 0
        elif k == math.floor(k):
            # value may be fractional: integral branch applies only when
            # value.fract()==0 (multiple_of.rs:22-24)
            whole = c == F.floor(c)
            rem = (c / F.lit(k)) % F.lit(1.0)
            float_ok = ((F.isnan(rem) | (rem < F.lit(EPSILON)))
                        & (rem < F.lit(1.0 - EPSILON)))
            ok = F.when(whole, (c % F.lit(k)) == 0).otherwise(float_ok)
        else:
            rem = (c / F.lit(k)) % F.lit(1.0)
            ok = ((F.isnan(rem) | (rem < F.lit(EPSILON)))
                  & (rem < F.lit(1.0 - EPSILON)))
        return _check(present & ~ok, "multiple_of", t.path)

    def _length(self, n: Any, is_max: bool, t: Any) -> Optional[Checked]:
        present = _present(t, t.is_str)
        if present is None or t.str is None:
            return None
        # F.length = UTF8String.numChars = Unicode code points — exact
        # parity with chars().count() (maxmin_length.rs:21,46), including
        # supplementary-plane characters.
        ln = F.length(t.str)
        ok = ln <= F.lit(int(n)) if is_max else ln >= F.lit(int(n))
        return _check(present & ~ok,
                      "max_length" if is_max else "min_length", t.path)

    def _pattern(self, p: Any, t: Any) -> Optional[Checked]:
        if not isinstance(p, str):
            raise UnsupportedRule("pattern must be a string")
        present = _present(t, t.is_str)
        if present is None or t.str is None:
            return None
        ok = t.str.rlike(unicode_pattern(p))  # unanchored, like find()
        return _check(present & ~ok, "pattern", t.path)

    # regex approximations for the JVM-side format fast path; semantics
    # pinned against pyvalidator in tests (exotic formats → fallback).
    _FORMAT_REGEX = {
        "date": r"^\d{4}-\d{2}-\d{2}$",
        "time": r"^\d{2}:\d{2}:\d{2}(\.\d+)?$",
        "date-time": (r"^\d{4}-\d{2}-\d{2}[Tt ]\d{2}:\d{2}:\d{2}(\.\d+)?"
                      r"([Zz]|[+-]\d{2}:\d{2})$"),
        "ipv4": (r"^((25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)\.){3}"
                 r"(25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)$"),
        "uuid": (r"^(urn:uuid:)?(\{)?([0-9a-fA-F]{8}-[0-9a-fA-F]{4}-"
                 r"[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}"
                 r"|[0-9a-fA-F]{32})(\})?$"),
        "json-pointer": r"^(/([^/~]|~[01])*)*$",
        "relative-json-pointer": r"^(/([^/~]|~[01])*)*$",
        "uri": r"^[A-Za-z][A-Za-z0-9+.-]*:[^\s]*$",
        # local part is dot-atom (no leading/trailing/double dots), <=64
        # chars enforced by the lookahead (Java regex, rlike)
        "email": (r"^(?=[^@]{1,64}@)"
                  r"[A-Za-z0-9!#$%&'*+/=?^_`{|}~-]+"
                  r"(\.[A-Za-z0-9!#$%&'*+/=?^_`{|}~-]+)*@"
                  r"([A-Za-z0-9]([A-Za-z0-9-]{0,61}[A-Za-z0-9])?\.)+"
                  r"[A-Za-z]{2,}$"),
        "hostname": (r"^([A-Za-z0-9]([A-Za-z0-9-]{0,61}[A-Za-z0-9])?\.)+"
                     r"[A-Za-z]{2,}$"),
    }
    _FORMAT_DETAILS = {
        "date": "Malformed date", "time": "Malformed time",
        "date-time": "Malformed date time",
        "ipv4": "Malformed IP address",
        "uuid": "Malformed UUID: invalid format",
        "json-pointer": "Malformed JSON pointer",
        "relative-json-pointer": "Malformed relative JSON pointer",
        "uri": "Malformed URI: invalid", "email": "Malformed email address",
        "hostname": "Malformed hostname",
    }

    @classmethod
    def format_ok_expr(cls, name: str, sv: Column) -> Column | None:
        """Shared format predicate over a string Column (walker-exact);
        ``None`` when the name is unknown (ignored, format.rs:172-175)
        or can never fail (uri-template, formats.rs:380-396).
        Raises UnsupportedRule for Arrow-fallback-only formats."""
        if name in ("uri-template",):
            return None
        regex = cls._FORMAT_REGEX.get(name)
        if regex is None:
            if name in ("ipv6", "iri", "uri-reference", "iri-reference",
                        "regex", "idn-email", "idn-hostname"):
                raise UnsupportedRule(f"format {name!r} needs Arrow fallback")
            return None
        ok = sv.rlike(regex)
        # date: reject impossible month/day values the regex admits
        # (try_to_date: NULL instead of an ANSI parse exception)
        if name == "date":
            ok = ok & F.try_to_date(sv, "yyyy-MM-dd").isNotNull()
        if name == "time":
            ok = ok & (F.substring(sv, 1, 2).cast("int") <= 23) \
                    & (F.substring(sv, 4, 2).cast("int") <= 59) \
                    & (F.substring(sv, 7, 2).cast("int") <= 60)
        if name == "date-time":
            # mirror check_date_time: real calendar date, field ranges
            # (leap-second 60 allowed), offset within +/-23:59
            off_h = F.regexp_extract(sv, r"([+-]\d{2}):\d{2}$", 1)
            off_m = F.regexp_extract(sv, r"[+-]\d{2}:(\d{2})$", 1)
            ok = ok \
                & F.try_to_date(F.substring(sv, 1, 10),
                                "yyyy-MM-dd").isNotNull() \
                & (F.substring(sv, 12, 2).cast("int") <= 23) \
                & (F.substring(sv, 15, 2).cast("int") <= 59) \
                & (F.substring(sv, 18, 2).cast("int") <= 60) \
                & ((off_h == "") | (F.abs(off_h.cast("int")) <= 23)) \
                & ((off_m == "") | (off_m.cast("int") <= 59))
        return ok

    def _format(self, name: Any, t: Any) -> Optional[Checked]:
        if not isinstance(name, str):
            raise UnsupportedRule("format must be a string")
        present = _present(t, t.is_str)
        if present is None or t.str is None:
            return None
        ok = self.format_ok_expr(name, t.str)
        if ok is None:
            return None
        return _check(present & ~ok, "format", t.path,
                      self._FORMAT_DETAILS[name])

    def _required(self, keys: Any, t: Any) -> Optional[Checked]:
        if not isinstance(keys, list):
            raise UnsupportedRule("required must be an array")
        present = _present(t, t.is_obj)
        if present is None:
            return None  # non-object target → skip
        # key presence, not value non-nullness: a JSON null passes
        # required (required.rs checks object containment)
        return _all([_check(present & ~t.has_key(k),
                            "required", t.path, at="/" + k)
                     for k in keys])

    def _properties(self, s: dict, t: Any, depth: int) -> Optional[Checked]:
        props = s.get("properties", {})
        additional = s.get("additionalProperties")
        patterns = s.get("patternProperties")
        present = _present(t, t.is_obj)
        if present is None:
            return None  # non-object → skip
        if t.fields is None:
            return self._open_properties(s, t, depth, present)
        if patterns:
            raise UnsupportedRule(
                "patternProperties on struct targets (closed schema)")
        # iterate FIELD order — the document key order of the
        # serialized row (properties.rs:47 walks the object's keys),
        # so states payloads are byte-equal to the walker's
        parts = []
        for f_ in t.fields:
            key = f_.name
            if key not in props and additional is not False \
                    and not isinstance(additional, dict):
                continue
            child = t.child(t.col.getField(key), f_.dataType,
                            F.concat(t.path, F.lit("/" + key)))
            present = t.col.isNotNull() & child.col.isNotNull()
            if key in props:
                # valico validates a property only when the key
                # exists (properties.rs:47-67): NULL ≡ absent, so
                # the whole subschema — including combinators like
                # `not` that would otherwise fire on a vacuously-
                # skipped value — is gated on child presence
                parts.append(_when(
                    present, self._node(props[key], child, depth + 1)))
            elif additional is False:
                parts.append(_check(
                    present, "properties", t.path,
                    f"Additional property '{key}' is not allowed"))
            elif isinstance(additional, dict):
                parts.append(_when(
                    present, self._node(additional, child, depth + 1)))
        return _all(parts)

    def _open_properties(self, s: dict, t: Any, depth: int,
                         present: Column) -> Optional[Checked]:
        """properties/patternProperties/additionalProperties over an
        object with open keys (a map column or a VARIANT object).
        Violations: ONE pass over ``map_entries`` so they come out in
        document key order (properties.rs:47), with the walker's per-key
        sub-order: property match, then each matching pattern, then
        additional. Gate and count: each declared property through a
        direct ``element_at`` lookup; patterns and additional through
        the entries."""
        props = s.get("properties", {})
        additional = s.get("additionalProperties")
        patterns = s.get("patternProperties", {})
        checks_rest = bool(patterns) or additional is False \
            or isinstance(additional, dict)
        if not props and not checks_rest:
            return None
        m = t.obj

        def rest(key: Column, child: Any) -> list[Checked]:
            """The pattern and additional parts at one entry."""
            parts = [_when(key.rlike(unicode_pattern(p)),
                           self._at(sub, child, depth + 1))
                     for p, sub in patterns.items()]
            is_known = _known(key, props, patterns)
            if additional is False:
                parts.append(_check(
                    ~is_known, "properties", t.path,
                    F.concat(F.lit("Additional property '"), key,
                             F.lit("' is not allowed"))))
            elif isinstance(additional, dict):
                parts.append(_when(~is_known,
                                   self._at(additional, child, depth + 1)))
            return parts

        def entry_viols(e: Column) -> Column:
            key = e["key"]
            child = t.value(e["value"], F.concat(t.path, F.lit("/"), key))
            parts = []
            prop_case = None
            for k, sub in props.items():
                v = self._at(sub, child, depth + 1).viol()
                prop_case = (F.when(key == F.lit(k), v) if prop_case is None
                             else prop_case.when(key == F.lit(k), v))
            if prop_case is not None:
                parts.append(prop_case.otherwise(empty_violations()))
            return _concat(parts + [p.viol() for p in rest(key, child)])

        def by_key(k: str, sub: Any) -> Checked:
            v = F.element_at(m, F.lit(k))
            return _when(v.isNotNull(),
                         self._at(sub, t.value(v, F.lit("")), depth + 1))

        parts = [by_key(k, sub) for k, sub in props.items()]
        if checks_rest:
            parts.append(_each(F.map_entries(m), lambda e, i: _all(rest(
                e["key"], t.value(e["value"], F.lit(""))))))
        views = _all(parts)
        return _when(present, Checked(
            lambda: F.flatten(F.transform(F.map_entries(m), entry_viols)),
            views.ok, views.count))

    def _property_names(self, sub: Any, t: Any,
                        depth: int) -> Optional[Checked]:
        present = _present(t, t.is_obj)
        if present is None:
            return None
        if t.fields is not None:
            # static keys: evaluate at compile time via pyvalidator
            from valico_spark.compiler.pyvalidator import validate_json
            parts = []
            for f_ in t.fields:
                st = validate_json(sub, f_.name, version=self.version)
                for e in st.errors:
                    parts.append(_check(
                        t.col.isNotNull() & t.col.getField(f_.name).isNotNull(),
                        e.code, t.path, e.detail or None,
                        at=f"/[{f_.name}]"))
            return _all(parts)
        # every key validates ``sub`` as a string value; error paths are
        # ``{path}/[{key}]`` (property_names.rs:25)
        return _when(present, _each(F.map_keys(t.obj), lambda k, i: self._at(
            sub, t.key(k, F.concat(t.path, F.lit("/["), k, F.lit("]"))),
            depth + 1)))

    def _props_count(self, n: Any, is_max: bool,
                     t: Any) -> Optional[Checked]:
        present = _present(t, t.is_obj)
        if present is None:
            return None
        if t.fields is not None:
            # count present (non-null) fields
            counts = [F.when(t.col.getField(f.name).isNotNull(), 1)
                      .otherwise(0) for f in t.fields]
            total = sum(counts[1:], counts[0]) if counts else F.lit(0)
        else:
            total = F.size(F.map_keys(t.obj))
        ok = total <= F.lit(int(n)) if is_max else total >= F.lit(int(n))
        return _check(present & ~ok,
                      "max_properties" if is_max else "min_properties",
                      t.path)

    def _dependencies(self, s: dict, t: Any,
                      depth: int) -> Optional[Checked]:
        present = _present(t, t.is_obj)
        if present is None:
            return None

        parts = []
        for key, extra in _dependency_items(s):
            trigger = present & t.has_key(key)
            if isinstance(extra, list):
                for k2 in extra:
                    parts.append(_check(
                        trigger & ~t.has_key(k2), "required", t.path,
                        at="/" + k2))
            else:
                parts.append(_when(trigger,
                                   self._node(extra, t, depth + 1)))
        return _all(parts)

    def _items(self, s: dict, t: Any, depth: int) -> Optional[Checked]:
        present = _present(t, t.is_arr)
        if present is None:
            return None
        items = s.get("items")
        additional = s.get("additionalItems")
        arr = t.arr
        if isinstance(items, (dict, bool)):
            def per_elem(x: Column, i: Column) -> Checked:
                child = t.elem(x, F.concat(t.path, F.lit("/"),
                                           i.cast("string")))
                return self._at(items, child, depth + 1)
            return _when(present, _each(arr, per_elem))
        if not isinstance(items, list):
            return None
        parts = []
        for idx, sub in enumerate(items):
            # try_: the gate reads the position outside the size guard
            child = t.elem(F.try_element_at(arr, F.lit(idx + 1)),
                           F.concat(t.path, F.lit(f"/{idx}")))
            parts.append(_when(present & (F.size(arr) > idx),
                               self._at(sub, child, depth + 1)))
        extra = present & (F.size(arr) > len(items))
        if additional is False:
            parts.append(_check(extra, "items", t.path,
                                "Additional items are not allowed"))
        elif isinstance(additional, dict):
            def per_extra(x: Column, i: Column) -> Checked:
                child = t.elem(x, F.concat(t.path, F.lit("/"),
                                           (i + len(items)).cast("string")))
                return self._at(additional, child, depth + 1)
            tail = F.slice(arr, len(items) + 1,
                           F.greatest(F.size(arr) - len(items), F.lit(0)))
            parts.append(_when(extra, _each(tail, per_extra)))
        return _all(parts)

    def _items_count(self, n: Any, is_max: bool,
                     t: Any) -> Optional[Checked]:
        present = _present(t, t.is_arr)
        if present is None:
            return None
        sz = F.size(t.arr)
        ok = sz <= F.lit(int(n)) if is_max else sz >= F.lit(int(n))
        return _check(present & ~ok,
                      "max_items" if is_max else "min_items", t.path)

    def _unique_items(self, t: Any) -> Optional[Checked]:
        present = _present(t, t.is_arr)
        if present is None:
            return None
        return _check(present & ~t.all_distinct, "unique_items", t.path)

    def _contains(self, s: dict, t: Any, depth: int) -> Optional[Checked]:
        present = _present(t, t.is_arr)
        if present is None:
            return None
        sub = s["contains"]
        min_c = s.get("minContains") if self.version >= DRAFT2019 else None
        max_c = s.get("maxContains") if self.version >= DRAFT2019 else None

        def ok_elem(x: Column) -> Column:
            return _valid(self._at(sub, t.elem(x, F.lit("")), depth + 1))

        if min_c is None and max_c is None:
            # F.exists short-circuits (contains.rs:38-40 parity, but free)
            return _check(present & ~F.exists(t.arr, ok_elem),
                          "contains", t.path)
        matched = F.size(F.filter(t.arr, ok_elem))
        parts = []
        if min_c != 0:
            parts.append(_check(present & (matched == 0),
                                "contains", t.path))
        if max_c is not None:
            parts.append(_check(
                present & (matched > F.lit(int(max_c))),
                "min_contains/max_contains", t.path))
        if min_c is not None:
            parts.append(_check(
                present & (matched < F.lit(int(min_c))),
                "min_contains/max_contains", t.path))
        return _all(parts)

    def _all_of(self, subs: list, t: Any, depth: int) -> Checked:
        return _all([self._node(sub, t, depth + 1) for sub in subs])

    def _any_of(self, subs: list, t: Any, depth: int) -> Checked:
        return _verdict(
            [self._node(sub, t, depth + 1) for sub in subs],
            lambda valid: ~functools.reduce(Column.__or__, valid),
            lambda viols: make_violation("any_of", t.path,
                                         states=_states_json(viols)))

    def _one_of(self, subs: list, t: Any, depth: int) -> Checked:
        return _verdict(
            [self._node(sub, t, depth + 1) for sub in subs],
            lambda valid: functools.reduce(
                Column.__add__, [_one_if(v) for v in valid]) != 1,
            lambda viols: make_violation("one_of", t.path,
                                         states=_states_json(viols)))

    def _not(self, sub: Any, t: Any, depth: int) -> Checked:
        return _verdict([self._node(sub, t, depth + 1)],
                        lambda valid: valid[0],
                        lambda _: make_violation("not", t.path))

    def _conditional(self, s: dict, t: Any, depth: int) -> Checked:
        def branch(key: str) -> Checked:
            return (self._node(s[key], t, depth + 1) if key in s
                    else _all([]))
        return _pick(branch("if"), branch("then"), branch("else"))

    def _content_media(self, s: dict, t: Any) -> Optional[Checked]:
        present = _present(t, t.is_str)
        if present is None or t.str is None:
            return None
        enc = s.get("contentEncoding")
        mt = s.get("contentMediaType")
        parts = []
        sv = val = t.str
        decodable = F.lit(True)
        if enc == "base64":
            # strict alphabet check then decode (content_media.rs:52-63);
            # details normalized with the walker (formats.py
            # decode_base64_utf8): "Invalid byte" / "Invalid UTF-8"
            b64_ok = sv.rlike(
                r"^(?:[A-Za-z0-9+/]{4})*(?:[A-Za-z0-9+/]{2}=="
                r"|[A-Za-z0-9+/]{3}=)?$")
            utf8_ok = F.is_valid_utf8(F.unbase64(sv))
            parts.append(_check(present & ~b64_ok,
                                "format", t.path, "Invalid byte"))
            parts.append(_check(present & b64_ok & ~utf8_ok,
                                "format", t.path, "Invalid UTF-8"))
            decodable = b64_ok & utf8_ok
            val = F.when(decodable, F.decode(F.unbase64(sv), "UTF-8"))
        if mt == "application/json":
            parsed = F.try_parse_json(val)
            bad = present & decodable & parsed.isNull()
            parts.append(_check(bad, "format", t.path, ""))
        return _all(parts)


def _known(key: Column, props: dict, patterns: dict) -> Column:
    """An entry ``key`` that ``properties`` or ``patternProperties``
    names (``additionalProperties`` applies to the others)."""
    is_known = F.lit(False)
    if props:
        is_known = is_known | key.isin(list(props))
    for p in patterns:
        is_known = is_known | key.rlike(unicode_pattern(p))
    return is_known


def row_target(spark_schema: T.StructType) -> Target:
    """The whole row of a table with ``spark_schema`` as one document.
    GetStructField(CreateStruct(...)) collapses in Catalyst's
    SimplifyExtractValueOps, so column pruning/pushdown still reach the
    scan."""
    root_col = F.struct(*[F.col(f.name).alias(f.name)
                          for f in spark_schema.fields])
    return Target(col=root_col, dtype=spark_schema, path=F.lit(""))


def compile_checked(schema: Any, target: Target,
                    version: int = DRAFT7) -> Checked:
    """The :class:`Checked` views of ``schema`` at ``target``."""
    return ColumnCompiler(version=version,
                          root_schema=schema).compile(schema, target)


def compile_ruleset(schema: Any, spark_schema: T.StructType,
                    version: int = DRAFT7) -> Column:
    """Compile ``schema`` against a table's row type.

    The document is the whole row (as valico validates a whole JSON
    object). Returns the violations-array Column; ``F.size(...) == 0`` is
    the verdict. The tree sits behind the root's exact gate ``ok``, read
    from the same conditions as the tree: ``when(ok, empty)
    .otherwise(violations)``, so valid rows never build the allocating
    tree and the emitted violations are byte-identical with or without
    the gate. A ruleset with a keyword that has no exact boolean form
    (see :class:`Checked`) gets the ungated tree.
    """
    return compile_checked(schema, row_target(spark_schema), version).gated()
