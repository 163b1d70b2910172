"""Dynamic-JSON targets: a ruleset → vectorized plan over VARIANT.

The column compiler (``compiler.columns``) compiles a ruleset against a
*target*: a value that answers the JSON type tests (``is_obj`` /
``is_arr`` / ``is_num`` / ``is_int`` / ``is_str`` / ``is_bool`` /
``is_null``) and reads the value (``num`` / ``str`` / ``bool`` / ``obj``
/ ``arr``). Its typed ``Target`` answers from the Spark type at compile
time. This module holds the other target, :class:`VariantTarget`: a
column of raw JSON documents whose per-row shape is unknown, parsed to
Spark 4's VARIANT. VARIANT (``parse_json`` / ``try_variant_get`` /
``schema_of_variant`` / casts to ``map<string,variant>`` and
``array<variant>``) exposes the exact JSON type system (BIGINT vs
DECIMAL vs DOUBLE vs STRING vs BOOLEAN vs VOID vs OBJECT vs ARRAY)
inside JVM expressions, so the reference's runtime type dispatch
(validators/type_.rs) becomes per-row type tests, with zero Python in
the row loop. The keyword emitters, the violations / exact gate / count
views and the combinators are the column compiler's own; nothing here
knows a keyword.

It is no longer the serving path: ``validate_json_column(mode="auto")``
serves a ruleset the walker's gate covers (``pyvalidator.Scope.gate``)
from the gated walker stage, and takes this plan for rulesets outside
the gate and for an explicit ``mode="variant"``.

Evaluation shape — parse once, bind once per node, gate:

* **Parse once.** ``validate_json_column`` stages
  ``coalesce(try_parse_json(doc), parse_json('null'))`` as one projected
  column and compiles against it (``compile_variant_ruleset``), so the
  plan parses each row once; ``compile_json_ruleset`` binds the parse
  with a one-element ``transform`` for the same effect in one Column.
* **Bind once per node.** Each schema node at a new value (the root, an
  element, an entry, a key) is compiled once against a lambda variable
  holding the value and what its keywords derive from it: the
  ``map<string,variant>`` and ``array<variant>`` casts on nodes with
  object/array keywords, the type tag on nodes that only check scalars.
  Evaluating the node at a value is a one-element ``transform`` (or
  ``forall``) — a let-binding — so a cast is computed once however many
  keywords read it. Object and array are told by which cast succeeded;
  ``schema_of_variant`` only ever runs on scalars, where it is O(1),
  never on a whole subtree.
* **Gate.** The compiler's exact gate ``ok`` (``when(ok, empty)
  .otherwise(violations)``) keeps valid rows off the allocating tree,
  and its count view counts violations without building them.
  Properties gate through direct ``element_at`` lookups, items through
  ``forall``; ``not`` / ``oneOf`` / ``if`` read their branches' gates.

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
  validators/mod.rs:24-33): every emitter is guarded by its type test.

Unsupported constructs (remote ``$ref``, exotic formats, inline ``$id``
with ``$ref``, ``uniqueItems``, recursion deeper than the compile-time
unroll) raise ``UnsupportedRule`` at compile time, and
``validate_json_column`` serves the whole ruleset from the Arrow-batched
walker; no row is split between the two. ``unevaluated*`` — including
nested inside combinators — compiles statically (runtime per-entry /
per-element evaluated predicates).
"""

from __future__ import annotations

from typing import Any, Callable, Optional, Tuple

from pyspark import SparkContext
from pyspark.sql import Column
from pyspark.sql import functions as F

from valico_spark.compiler.columns import (  # noqa: F401  (gated: re-export)
    Checked, ColumnCompiler, UnsupportedRule, gated,
)
from valico_spark.compiler.pyvalidator import DRAFT7

_MAP = "map<string,variant>"
_ARRAY = "array<variant>"


class VariantTarget:
    """A (possibly absent) JSON value as a variant column.

    ``col`` SQL NULL ⇔ the value does not exist (missing key / element);
    a JSON ``null`` is a present VOID variant. ``path`` is the
    JSON-pointer string column for error rows. ``cast_map`` /
    ``cast_arr`` / ``tag`` are the node's bound map cast, array cast and
    type tag (fields of a let-bound lambda variable); any left unbound is
    derived from ``col`` where it is read. Every type test is a Column.
    """

    #: an object's keys are known only per row
    fields = None

    def __init__(self, col: Column, path: Column,
                 cast_map: Optional[Column] = None,
                 cast_arr: Optional[Column] = None,
                 tag: Optional[Column] = None):
        self.col, self.path = col, path
        self._map, self._arr, self._tag = cast_map, cast_arr, tag

    # -- reads -------------------------------------------------------------
    @property
    def obj(self) -> Column:
        return self._map if self._map is not None \
            else self.col.try_cast(_MAP)

    @property
    def arr(self) -> Column:
        return self._arr if self._arr is not None \
            else self.col.try_cast(_ARRAY)

    @property
    def tag(self) -> Column:
        """JSON type tag: OBJECT / ARRAY from whichever cast succeeded,
        else the scalar's ``schema_of_variant`` (BIGINT, DECIMAL(p,s),
        DOUBLE, STRING, BOOLEAN, VOID) — never evaluated on a
        container."""
        if self._tag is not None:
            return self._tag
        return (F.when(self.obj.isNotNull(), F.lit("OBJECT"))
                 .when(self.arr.isNotNull(), F.lit("ARRAY"))
                 .otherwise(F.schema_of_variant(self.col)))

    @property
    def num(self) -> Column:
        return F.try_variant_get(self.col, "$", "double")

    @property
    def str(self) -> Column:
        return F.try_variant_get(self.col, "$", "string")

    def str_in(self, values: list) -> Column:
        """A string equal to one of ``values``: one type test and one
        read for every member (an OR of equalities would repeat the read
        per member, interpreted inside the binding lambda)."""
        return self.is_str & self.str.isin(values)

    @property
    def bool(self) -> Column:
        return F.try_variant_get(self.col, "$", "boolean")

    # -- type tests --------------------------------------------------------
    @property
    def is_obj(self) -> Column:
        if self._map is None and self._tag is not None:
            return self._tag == "OBJECT"
        return self.obj.isNotNull()

    @property
    def is_arr(self) -> Column:
        if self._arr is None and self._tag is not None:
            return self._tag == "ARRAY"
        return self.arr.isNotNull()

    @property
    def is_num(self) -> Column:
        return self.tag.rlike("^(BIGINT|DOUBLE|DECIMAL)")

    @property
    def is_int(self) -> Column:
        d = self.num
        return (self.tag == "BIGINT") | (self.is_num & (d == F.floor(d)))

    @property
    def is_str(self) -> Column:
        return self.tag == "STRING"

    @property
    def is_bool(self) -> Column:
        return self.tag == "BOOLEAN"

    @property
    def is_null(self) -> Column:
        return F.is_variant_null(self.col)

    def num_class(self, is_float: bool) -> Column:
        """serde's float-class (DECIMAL / DOUBLE) or integer-class
        (BIGINT) number: nested ``const`` / ``enum`` numbers match
        strictly."""
        if is_float:
            return self.is_num & (self.tag != "BIGINT")
        return self.tag == "BIGINT"

    @property
    def all_distinct(self) -> Column:
        # element equality over runtime-typed trees of any depth has no
        # bounded expression form: the walker owns uniqueItems here
        raise UnsupportedRule("uniqueItems on dynamic JSON")

    # -- structure ---------------------------------------------------------
    def has_key(self, key: str) -> Column:
        return F.map_contains_key(self.obj, F.lit(key))

    def elem(self, x: Column, path: Column) -> "VariantTarget":
        return VariantTarget(x, path)

    value = elem

    def key(self, k: Column, path: Column) -> "VariantTarget":
        """An object key as a string value, so the full keyword surface
        applies to it (``propertyNames``)."""
        return VariantTarget(k.cast("variant"), path)

    def node(self, schema: Any, build: Callable[["VariantTarget"], Checked]
             ) -> Checked:
        """``schema`` compiled once against a lambda variable and
        evaluated at this value by a one-element ``transform`` (views
        that read the tree or the count) or ``forall`` (the gate)."""
        fields = _bind_fields(schema)
        var = _lambda_var("node")
        inner = build(VariantTarget(
            var["v"], var["p"], var["m"] if "m" in fields else None,
            var["a"] if "a" in fields else None,
            var["t"] if "t" in fields else None))
        if inner.empty:
            return inner  # reads no value: nothing to bind
        binding = _binding(self.col, self.path, fields)

        def ok() -> Optional[Column]:
            sub = inner.ok()
            return None if sub is None else _hof("forall", binding, var, sub)

        return Checked(
            lambda: F.flatten(_hof("transform", binding, var, inner.viol())),
            ok, lambda: _hof("transform", binding, var, inner.count())[0])


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
        cols.append(VariantTarget(value, path).tag.alias("t"))
    return F.array(F.struct(*cols))


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


class VariantCompiler(ColumnCompiler):
    """The column compiler with the VARIANT plan's recursion limits.

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
    checked = VariantCompiler(version=version, root_schema=schema).compile(
        schema, VariantTarget(doc, F.lit("")))
    return checked.viol(), checked.ok()


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
