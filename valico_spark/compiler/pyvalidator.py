"""Reference-semantics JSON-Schema validation core (draft-07 / draft-2019-09).

A from-scratch Python implementation of the validation semantics of the
reference engine (s-panferov/valico) — compile a schema into a tree of
validator closures, walk a document, produce a ``ValidationState`` with
``{code, title, path, detail}`` errors, missing-$ref URLs, a replacement
value (defaults/content decoding) and the ``evaluated``-path set that powers
``unevaluatedItems/Properties``.

Role in the engine:
(a) the semantics oracle for golden fixtures and tests;
(b) the serving path for dynamic JSON: ``Scope.gate`` is the walk's
    boolean fast path, no state allocated. It is generated Python: one
    fail-fast function per reachable schema node, built from each
    keyword's ``gate_src`` template and ``exec``'d once per schema, with
    every ruleset value (key, enum set, bound, regex) passed in the
    namespace as a constant and never spliced into the source text.
    ``operators.validate`` runs it in one Arrow-batched ``mapInArrow``
    stage that walks only the documents failing the gate, when the gate
    covers the ruleset;
(c) without the gate, the distributed fallback for constructs no compiled
    plan expresses (``unevaluated*`` with recursion, exotic formats).

Behavioral contract mirrored from the reference (citations are
``/root/reference/<file>:<line>``):
* validator walk & replacement threading — src/json_schema/schema.rs:567-586
* state append semantics — src/json_schema/validators/mod.rs:121-134
* integer accepts whole floats — src/json_schema/validators/type_.rs:23-27
* numeric comparisons through f64 — src/json_schema/validators/maxmin.rs
* multipleOf epsilon rule — src/json_schema/validators/multiple_of.rs:22-33
* enum/const matching (top-level numeric-tolerant, nested strict) —
  src/json_schema/helpers.rs:137-145
* min/maxLength count Unicode scalars — validators/maxmin_length.rs:21,46
* exclusive $ref pre-2019-09 — schema.rs:344-362, keywords/ref_.rs:34-36
* properties/items placed first, unevaluated* last — schema.rs:351-355
* error codes/titles — src/json_schema/errors.rs (see errors.py)
"""

from __future__ import annotations

import functools
import json
import math
import re
from typing import Any, Callable

from valico_spark.compiler import formats as fmt
from valico_spark.compiler import jsonurls as ju
from valico_spark.compiler.errors import Violation, schema_violation

EPSILON = 2.220446049250313e-16  # f64::EPSILON

DRAFT7 = 7
DRAFT2019 = 2019

NO_REPL = object()


class SchemaError(Exception):
    """Compile-time schema error (schema.rs SchemaError::Malformed etc.)."""

    def __init__(self, kind: str, path: str = "", detail: str = ""):
        self.kind = kind
        self.path = path
        self.detail = detail
        super().__init__(f"{kind}: {path}: {detail}")


def malformed(path_parts: list[str], detail: str) -> SchemaError:
    return SchemaError("Malformed", "/".join(path_parts), detail)


class ValidationState:
    __slots__ = ("errors", "missing", "evaluated", "replacement")

    def __init__(self):
        self.errors: list[Violation] = []
        self.missing: list[str] = []
        self.evaluated: set[str] = set()
        self.replacement: Any = NO_REPL

    def is_valid(self) -> bool:
        return not self.errors

    def is_strictly_valid(self) -> bool:
        return not self.errors and not self.missing

    def append(self, other: "ValidationState") -> None:
        # validators/mod.rs:121-126 — replacement does NOT propagate here
        self.errors.extend(other.errors)
        self.missing.extend(other.missing)
        self.evaluated |= other.evaluated

    def serialize(self) -> dict:
        # validators/mod.rs:137-160
        return {
            "errors": [e.as_dict() for e in self.errors],
            "missing": list(self.missing),
        }


def err_state(v: Violation) -> ValidationState:
    s = ValidationState()
    s.errors.append(v)
    return s


# ---------------------------------------------------------------------------
# JSON value helpers

def is_number(v: Any) -> bool:
    return isinstance(v, (int, float)) and not isinstance(v, bool)


def as_f64(v: Any) -> float | None:
    if not is_number(v):
        return None
    try:
        return float(v)
    except OverflowError:
        return math.inf if v > 0 else -math.inf


def fract_is_zero(v: float) -> bool:
    return float(v).is_integer()


# validators/type_.rs:19-33, as gate source over a value named {v}: integer
# accepts whole floats (a float's is_integer() is False on inf and nan)
_TYPE_SRC = {
    "array": "isinstance({v}, list)",
    "boolean": "isinstance({v}, bool)",
    "integer": "(isinstance({v}, int) and not isinstance({v}, bool)"
               " or isinstance({v}, float) and {v}.is_integer())",
    "number": "(isinstance({v}, (int, float)) and not isinstance({v}, bool))",
    "null": "{v} is None",
    "object": "isinstance({v}, dict)",
    "string": "isinstance({v}, str)",
}

PRIMITIVE_TYPES = set(_TYPE_SRC)


def deep_eq_strict(a: Any, b: Any) -> bool:
    """serde_json::Value equality: integers and floats are distinct Number
    variants, so nested ``1`` != ``1.0`` (unlike Python's ``==``)."""
    if isinstance(a, bool) or isinstance(b, bool):
        return a is b if isinstance(a, bool) and isinstance(b, bool) else False
    if is_number(a) and is_number(b):
        if isinstance(a, float) != isinstance(b, float):
            return False
        return a == b
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(
            deep_eq_strict(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(
            deep_eq_strict(v, b[k]) for k, v in a.items())
    if type(a) is not type(b) and not (a is None and b is None):
        return False
    return a == b


def is_matching(va: Any, vb: Any) -> bool:
    # helpers.rs:137-145: top-level numbers compare through f64
    if is_number(va):
        return is_number(vb) and as_f64(va) == as_f64(vb)
    return deep_eq_strict(va, vb)


def _hash_key(v: Any) -> Any:
    """Type-tagged hashable key consistent with deep_eq_strict."""
    if isinstance(v, bool):
        return ("b", v)
    if is_number(v):
        return ("f" if isinstance(v, float) else "i", v)
    if isinstance(v, str):
        return ("s", v)
    if v is None:
        return ("n",)
    if isinstance(v, list):
        return ("a", tuple(_hash_key(x) for x in v))
    if isinstance(v, dict):
        return ("o", tuple(sorted((k, _hash_key(x)) for k, x in v.items())))
    return ("?", repr(v))


def convert_boolean_schema(v: Any) -> Any:
    # helpers.rs:124-135
    if v is True:
        return {}
    if v is False:
        return {"not": {}}
    return v


def join_path(path: str, key: str) -> str:
    return f"{path}/{key}"


# ---------------------------------------------------------------------------
# Validators. Each is a callable (value, path, scope, prev_state) -> state.

Validator = Callable[[Any, str, "Scope", ValidationState], ValidationState]


def _skip() -> ValidationState:
    return ValidationState()


class GateEnv:
    """The names one generated gate source may use.

    Every ruleset value a template needs (a property key, an enum set, a
    bound, a compiled regex's ``search``) becomes a constant of the
    ``exec`` namespace under a name made here (``c<n>``), so no ruleset
    text is ever spliced into the source. ``schema(node)`` names a schema
    node's function (``s<n>``), looked up when called, so recursive
    ``$ref``s need no ordering; ``local()`` makes a fresh local (``x<n>``).

    ``types`` maps a variable to the JSON types a ``type`` keyword checked
    earlier in the same function allows; ``guard`` / ``block`` then drop
    the type tests that check already made.
    """

    def __init__(self, schemas: dict["Schema", str]):
        self.ns: dict[str, Any] = {}
        self._consts: dict[int, str] = {}
        self._schemas = schemas
        self._locals = 0
        self.types: dict[str, list[str]] = {}

    def const(self, value: Any) -> str:
        # keyed by identity: the namespace keeps each value alive
        name = self._consts.get(id(value))
        if name is None:
            name = self._consts[id(value)] = f"c{len(self._consts)}"
            self.ns[name] = value
        return name

    def schema(self, node: "Schema") -> str:
        return self._schemas[node]

    def local(self) -> str:
        self._locals += 1
        return f"x{self._locals}"

    def known(self, var: str, json_type: str) -> bool:
        """Whether ``var`` is already known to be a ``json_type``."""
        types = self.types.get(var)
        return types is not None and all(
            t == json_type or (t, json_type) == ("integer", "number")
            for t in types)

    def guard(self, var: str, json_type: str) -> str:
        """A condition prefix that holds when ``var`` is a ``json_type``
        (string, array or object)."""
        if self.known(var, json_type):
            return ""
        return f"isinstance({var}, {_PY_CLASS[json_type]}) and "

    def block(self, var: str, json_type: str, lines: list[str]) -> list[str]:
        """``lines`` run only when ``var`` is a ``json_type``."""
        if not lines or self.known(var, json_type):
            return lines
        return [f"if isinstance({var}, {_PY_CLASS[json_type]}):",
                *("    " + line for line in lines)]


_PY_CLASS = {"string": "str", "array": "list", "object": "dict"}


@functools.lru_cache(maxsize=256)
def _compile_source(src: str):
    return compile(src, "<gate>", "exec")


def _function_src(name: str, body: list[str]) -> list[str]:
    return [f"def {name}(v):", *("    " + line for line in body),
            "    return True"]


class Keyword:
    """A compiled keyword, called as (value, path, scope, prev) -> state.

    ``passes(value)`` is its boolean form: True only when the call would
    append no error. An ``exact`` keyword's ``passes`` is also True
    whenever the call appends none, provided the sub-schemas it reads
    are exact; a keyword without an exact boolean form passes nothing.
    ``bind(scope)`` resolves the sub-schemas the boolean form reads and
    returns them (``Scope.gate`` binds every schema before use).

    ``gate_src(var, env)`` is the boolean form as source: statements that
    ``return False`` from the generated gate function when the keyword
    fails on the value named ``var``. The default calls ``passes``
    through a namespace constant. Hot keywords override it with an
    inline template; for leaf keywords (``_Template``) that template is
    the only copy of the condition and ``passes`` is compiled from it.
    """

    exact = True

    def bind(self, scope: "Scope") -> list["Schema"]:
        return []

    def passes(self, val) -> bool:
        return False

    def gate_src(self, var: str, env: GateEnv) -> list[str]:
        return [f"if not {env.const(self.passes)}({var}): return False"]


class _Template(Keyword):
    """A leaf keyword whose ``passes`` is compiled from its ``gate_src``
    (on first use; sources with the same text share one code object)."""

    @functools.cached_property
    def passes(self) -> Callable[[Any], bool]:
        env = GateEnv({})
        src = "\n".join(_function_src("passes", self.gate_src("v", env)))
        exec(_compile_source(src), env.ns)
        return env.ns["passes"]


class TypeV(_Template):
    def __init__(self, types: list[str], single: bool):
        self.types = types
        self.single = single

    def gate_src(self, var, env):
        test = " or ".join(_TYPE_SRC[t].format(v=var) for t in self.types)
        return [f"if not ({test}): return False"]

    def __call__(self, val, path, scope, prev):
        state = ValidationState()
        if self.passes(val):
            state.evaluated.add(path)
        elif self.single:
            state.errors.append(schema_violation(
                "wrong_type", path, f"The value must be {self.types[0]}"))
        else:
            state.errors.append(schema_violation(
                "wrong_type", path,
                "The value must be any of: " + ", ".join(self.types)))
        return state


class EnumV(_Template):
    def __init__(self, items: list):
        self.items = items
        # all-string enums: a set lookup is is_matching exactly
        self._strings = (frozenset(items)
                         if all(isinstance(i, str) for i in items) else None)

    def _matches(self, val):
        return any(is_matching(val, item) for item in self.items)

    def gate_src(self, var, env):
        if self._strings is None:
            return [f"if not {env.const(self._matches)}({var}): return False"]
        strings = env.const(self._strings)
        return [f"if not ({env.guard(var, 'string')}{var} in {strings}):"
                " return False"]

    def __call__(self, val, path, scope, prev):
        if self.passes(val):
            return _skip()
        return err_state(schema_violation("enum", path))


class ConstV(Keyword):
    def __init__(self, item):
        self.item = item

    def passes(self, val):
        return is_matching(self.item, val)

    def __call__(self, val, path, scope, prev):
        state = ValidationState()
        if not self.passes(val):
            state.errors.append(schema_violation("const", path))
        else:
            state.evaluated.add(path)
        return state


class BoundV(_Template):
    """maximum/minimum/exclusive* — validators/maxmin.rs. exclusive variants
    report the plain maximum/minimum code (maxmin.rs:49-52,99-102)."""

    _OPS = {"max": "<=", "emax": "<", "min": ">=", "emin": ">"}

    def __init__(self, number: float, op: str):
        self.number = number
        self.op = op  # 'max' | 'emax' | 'min' | 'emin'

    def gate_src(self, var, env):
        # ints compare through f64 too (a Python int-float compare is
        # exact), as as_f64 converts them
        bound, op, f64 = env.const(self.number), self._OPS[self.op], \
            env.local()
        inf = env.const(math.inf)
        return [f"if isinstance({var}, float):",
                f"    if not ({var} {op} {bound}): return False",
                "else:" if env.known(var, "number") else
                f"elif isinstance({var}, int) and not isinstance({var}, bool):",
                f"    try: {f64} = float({var})",
                f"    except OverflowError: {f64} = {inf} if {var} > 0"
                f" else -{inf}",
                f"    if not ({f64} {op} {bound}): return False"]

    def __call__(self, val, path, scope, prev):
        if self.passes(val):
            return _skip()
        code = "maximum" if self.op in ("max", "emax") else "minimum"
        return err_state(schema_violation(code, path))


class MultipleOfV(Keyword):
    def __init__(self, number: float):
        self.number = number

    def passes(self, val):
        n = as_f64(val)
        if n is None:
            return True
        k = self.number
        if (math.isfinite(n) and fract_is_zero(n)) and fract_is_zero(k):
            return (math.fmod(n, k) == 0.0 if k != 0
                    else math.isnan(math.fmod(n, k)))
        try:
            # Rust `inf % 1.0` / `nan % x` yield NaN; Python fmod
            # raises ValueError on an infinite dividend instead.
            remainder = math.fmod(n / k, 1.0)
        except (ZeroDivisionError, ValueError):
            remainder = math.nan
        less_eps = math.isnan(remainder) or remainder < EPSILON
        less_one = remainder < (1.0 - EPSILON)
        return less_eps and less_one

    def __call__(self, val, path, scope, prev):
        if self.passes(val):
            return _skip()
        return err_state(schema_violation("multiple_of", path))


class _CountV(_Template):
    """A max/min bound on ``len`` of one JSON type; other types pass."""

    json_type: str
    codes: tuple[str, str]  # (max code, min code)

    def __init__(self, length: int, is_max: bool):
        self.length = length
        self.is_max = is_max

    def gate_src(self, var, env):
        op = "<=" if self.is_max else ">="
        return [f"if {env.guard(var, self.json_type)}"
                f"not (len({var}) {op} {env.const(self.length)}): return False"]

    def __call__(self, val, path, scope, prev):
        if self.passes(val):
            return _skip()
        return err_state(schema_violation(self.codes[not self.is_max], path))


class LengthV(_CountV):
    # Python len == Unicode scalar count (maxmin_length.rs)
    json_type, codes = "string", ("max_length", "min_length")


class ItemsCountV(_CountV):
    json_type, codes = "array", ("max_items", "min_items")


class PropsCountV(_CountV):
    json_type, codes = "object", ("max_properties", "min_properties")


class PatternV(_Template):
    def __init__(self, regex):
        self.regex = regex

    def gate_src(self, var, env):
        # unanchored, pattern.rs:21
        return [f"if {env.guard(var, 'string')}"
                f"{env.const(self.regex.search)}({var}) is None: return False"]

    def __call__(self, val, path, scope, prev):
        if self.passes(val):
            return _skip()
        return err_state(schema_violation("pattern", path))


class UniqueItemsV(Keyword):
    def passes(self, val):
        if not isinstance(val, list):
            return True
        seen = set()
        for item in val:
            k = _hash_key(item)
            if k in seen:
                return False
            seen.add(k)
        return True

    def __call__(self, val, path, scope, prev):
        if self.passes(val):
            return _skip()
        return err_state(schema_violation("unique_items", path))


class RequiredV(_Template):
    def __init__(self, items: list[str]):
        self.items = items

    def gate_src(self, var, env):
        if not self.items:
            return []
        missing = " or ".join(f"{env.const(k)} not in {var}"
                              for k in dict.fromkeys(self.items))
        return [f"if {env.guard(var, 'object')}({missing}): return False"]

    def __call__(self, val, path, scope, prev):
        if not isinstance(val, dict):
            return _skip()
        state = ValidationState()
        for key in self.items:
            if key not in val:
                state.errors.append(
                    schema_violation("required", join_path(path, key)))
        return state


class PropertiesV(Keyword):
    """properties / patternProperties / additionalProperties
    (validators/properties.rs:22-137)."""

    def __init__(self, properties: dict[str, str],
                 patterns: list[tuple[Any, str]],
                 additional: tuple[str, Any]):
        self.properties = properties  # key -> url
        self.patterns = patterns      # (compiled_regex, url)
        self.additional = additional  # ('unspecified'|'bool'|'schema', x)

    def bind(self, scope):
        kind, extra = self.additional
        self._props = {k: scope.resolve(u)
                       for k, u in self.properties.items()}
        self._patterns = [(regex, scope.resolve(u))
                          for regex, u in self.patterns]
        self._additional = scope.resolve(extra) if kind == "schema" else None
        subs = [*self._props.values(), *(s for _, s in self._patterns),
                self._additional]
        return [s for s in subs if s is not None]

    def gate_src(self, var, env):
        kind, extra = self.additional
        if self.patterns or kind == "schema" or (kind == "bool" and not extra):
            return super().gate_src(var, env)
        # open: only the declared keys are checked, so look those up
        # instead of walking the object
        lines = []
        for key, schema in self._props.items():
            if schema is not None:
                k = env.const(key)
                lines.append(f"if {k} in {var} and not"
                             f" {env.schema(schema)}({var}[{k}]): return False")
        return env.block(var, "object", lines)

    def passes(self, val):
        """The closed form (patternProperties or additionalProperties)."""
        if not isinstance(val, dict):
            return True
        kind, extra = self.additional
        for key, item in val.items():
            matched = key in self._props
            if matched:
                schema = self._props[key]
                if schema is not None and not schema.passes(item):
                    return False
            for regex, schema in self._patterns:
                if schema is not None and regex.search(key):
                    if not schema.passes(item):
                        return False
                    matched = True
            if matched:
                continue
            if kind == "bool":
                if not extra:
                    return False
            elif (self._additional is not None
                  and not self._additional.passes(item)):
                return False
        return True

    def __call__(self, val, path, scope, prev):
        if not isinstance(val, dict):
            return _skip()
        obj = val
        mutated = False
        state = ValidationState()

        if scope.supply_defaults:
            for key, url in self.properties.items():
                schema = scope.resolve(url)
                if schema is not None and key not in obj and schema.has_default():
                    if not mutated:
                        obj, mutated = dict(obj), True
                    obj[key] = schema.get_default()

        for key in list(obj.keys()):
            is_property_passed = False
            if key in self.properties:
                url = self.properties[key]
                schema = scope.resolve(url)
                if schema is not None:
                    vp = join_path(path, key)
                    result = schema.validate_in(obj[key], vp, scope)
                    if result.is_valid():
                        state.evaluated.add(vp)
                        if result.replacement is not NO_REPL:
                            if not mutated:
                                obj, mutated = dict(obj), True
                            obj[key] = result.replacement
                            result.replacement = NO_REPL
                    state.append(result)
                else:
                    state.missing.append(url)
                is_property_passed = True

            is_pattern_passed = False
            for regex, url in self.patterns:
                if regex.search(key):
                    schema = scope.resolve(url)
                    if schema is not None:
                        vp = join_path(path, key)
                        result = schema.validate_in(obj[key], vp, scope)
                        if result.is_valid():
                            state.evaluated.add(vp)
                            if result.replacement is not NO_REPL:
                                if not mutated:
                                    obj, mutated = dict(obj), True
                                obj[key] = result.replacement
                                result.replacement = NO_REPL
                        state.append(result)
                        is_pattern_passed = True
                    else:
                        state.missing.append(url)

            if is_property_passed or is_pattern_passed:
                continue

            kind, extra = self.additional
            if kind == "bool":
                if not extra:
                    state.errors.append(schema_violation(
                        "properties", path,
                        f"Additional property '{key}' is not allowed"))
                else:
                    state.evaluated.add(join_path(path, key))
            elif kind == "schema":
                schema = scope.resolve(extra)
                if schema is not None:
                    vp = join_path(path, key)
                    result = schema.validate_in(obj[key], vp, scope)
                    if result.is_valid():
                        state.evaluated.add(vp)
                        if result.replacement is not NO_REPL:
                            if not mutated:
                                obj, mutated = dict(obj), True
                            obj[key] = result.replacement
                            result.replacement = NO_REPL
                    state.append(result)
                else:
                    state.missing.append(extra)

        if mutated and state.is_valid():
            state.replacement = obj
        return state


class _SubV(Keyword):
    """A keyword over one sub-schema url."""

    def __init__(self, url: str):
        self.url = url

    def bind(self, scope):
        self._sub = scope.resolve(self.url)
        return [self._sub] if self._sub is not None else []


class PropertyNamesV(_SubV):
    def passes(self, val):
        if not isinstance(val, dict) or self._sub is None:
            return True
        return all(self._sub.passes(key) for key in val)

    def __call__(self, val, path, scope, prev):
        if not isinstance(val, dict):
            return _skip()
        schema = scope.resolve(self.url)
        state = ValidationState()
        if schema is None:
            state.missing.append(self.url)
            return state
        for key in val.keys():
            item_path = join_path(path, f"[{key}]")  # property_names.rs:25
            state.append(schema.validate_in(key, item_path, scope))
        return state


class DependenciesV(Keyword):
    def __init__(self, items: list[tuple[str, tuple[str, Any]]]):
        self.items = items  # (key, ('schema', url) | ('props', [keys]))

    def bind(self, scope):
        # (key, sub-schema or None, required keys or None)
        self._bound = [(key, scope.resolve(extra), None) if kind == "schema"
                       else (key, None, extra)
                       for key, (kind, extra) in self.items]
        return [s for _, s, _ in self._bound if s is not None]

    def passes(self, val):
        if not isinstance(val, dict):
            return True
        for key, schema, keys in self._bound:
            if key not in val:
                continue
            if schema is not None and not schema.passes(val):
                return False
            if keys is not None and any(k not in val for k in keys):
                return False
        return True

    def __call__(self, val, path, scope, prev):
        state = ValidationState()
        if not isinstance(val, dict):
            return state
        obj = val
        mutated = False
        for key, (kind, extra) in self.items:
            if key not in obj:
                continue
            if kind == "schema":
                schema = scope.resolve(extra)
                if schema is not None:
                    result = schema.validate_in(obj, path, scope)
                    if result.is_valid() and result.replacement is not NO_REPL:
                        obj, mutated = result.replacement, True
                        result.replacement = NO_REPL
                    state.append(result)
                else:
                    state.missing.append(extra)
            else:
                for k in extra:
                    if k not in obj:
                        state.errors.append(
                            schema_violation("required", join_path(path, k)))
        if mutated and state.is_valid():
            state.replacement = obj
        return state


class ItemsV(Keyword):
    """items / additionalItems (validators/items.rs:30-150)."""

    def __init__(self, kind: str | None, urls, additional):
        self.kind = kind          # None | 'schema' | 'array'
        self.urls = urls          # url | [urls]
        self.additional = additional  # None | ('bool', b) | ('schema', url)

    def bind(self, scope):
        urls = [self.urls] if self.kind == "schema" else self.urls or []
        self._items = [scope.resolve(u) for u in urls]
        akind, extra = self.additional or (None, None)
        self._additional = scope.resolve(extra) if akind == "schema" \
            else None
        return [s for s in (*self._items, self._additional) if s is not None]

    def gate_src(self, var, env):
        item = env.local()
        if self.kind == "schema":
            schema = self._items[0]
            return [] if schema is None else env.block(var, "array", [
                f"for {item} in {var}:",
                f"    if not {env.schema(schema)}({item}): return False"])
        if self.kind != "array":
            return []
        n = env.local()
        lines = [f"{n} = len({var})"]
        for idx, schema in enumerate(self._items):
            if schema is not None:
                i = env.const(idx)
                lines.append(f"if {n} > {i} and not"
                             f" {env.schema(schema)}({var}[{i}]): return False")
        count = env.const(len(self._items))
        akind, extra = self.additional or (None, None)
        if akind == "bool" and not extra:
            lines.append(f"if {n} > {count}: return False")
        elif akind == "schema" and self._additional is not None:
            lines += [f"for {item} in {var}[{count}:]:",
                      f"    if not {env.schema(self._additional)}({item}):"
                      " return False"]
        return env.block(var, "array", lines)

    def __call__(self, val, path, scope, prev):
        if not isinstance(val, list):
            return _skip()
        array = val
        mutated = False
        state = ValidationState()

        if scope.supply_defaults and self.kind == "array":
            for url in self.urls[len(array):]:
                schema = scope.resolve(url)
                if schema is None:
                    break
                d = schema.get_default()
                if d is None and not schema.has_default():
                    break
                if not mutated:
                    array, mutated = list(array), True
                array.append(d)

        def run_sub(url, idx):
            nonlocal array, mutated
            schema = scope.resolve(url)
            if schema is None:
                state.missing.append(url)
                return
            item_path = join_path(path, str(idx))
            result = schema.validate_in(array[idx], item_path, scope)
            if result.is_valid():
                state.evaluated.add(item_path)
                if result.replacement is not NO_REPL:
                    if not mutated:
                        array, mutated = list(array), True
                    array[idx] = result.replacement
                    result.replacement = NO_REPL
            state.append(result)

        if self.kind == "schema":
            schema = scope.resolve(self.urls)
            if schema is None:
                state.missing.append(self.urls)
            else:
                for idx in range(len(array)):
                    run_sub(self.urls, idx)
        elif self.kind == "array":
            for idx in range(min(len(self.urls), len(array))):
                run_sub(self.urls[idx], idx)
            if len(array) > len(self.urls) and self.additional is not None:
                akind, extra = self.additional
                if akind == "bool":
                    if not extra:
                        state.errors.append(schema_violation(
                            "items", path, "Additional items are not allowed"))
                    else:
                        for idx in range(len(self.urls), len(array)):
                            state.evaluated.add(join_path(path, str(idx)))
                else:
                    for idx in range(len(self.urls), len(array)):
                        run_sub(extra, idx)

        if mutated and state.is_valid():
            state.replacement = array
        return state


class ContainsV(_SubV):
    def __init__(self, url: str, min_contains, max_contains):
        super().__init__(url)
        self.min_contains = min_contains
        self.max_contains = max_contains

    def passes(self, val):
        schema = self._sub
        if not isinstance(val, list) or schema is None:
            return True
        lo, hi = self.min_contains, self.max_contains
        if lo is None and hi is None:
            return any(schema.passes(x) for x in val)
        if hi is not None and not schema.exact:
            return False  # an inexact count could hide one over the max
        matched = sum(1 for x in val if schema.passes(x))
        return ((matched > 0 or lo == 0)
                and (hi is None or matched <= hi)
                and (lo is None or matched >= lo))

    def __call__(self, val, path, scope, prev):
        if not isinstance(val, list):
            return _skip()
        state = ValidationState()
        schema = scope.resolve(self.url)
        if schema is None:
            state.missing.append(self.url)
            return state
        matched = 0
        array = val
        mutated = False
        for idx in range(len(array)):
            result = schema.validate_in(array[idx],
                                        join_path(path, str(idx)), scope)
            if result.is_valid():
                matched += 1
                # contains.rs:35-38 — a matching sub-result's replacement
                # (supply_defaults mutation) is written back into the
                # array, Cow-style (copy on first write)
                if result.replacement is not NO_REPL:
                    if not mutated:
                        array, mutated = list(array), True
                    array[idx] = result.replacement
                if self.min_contains is None and self.max_contains is None:
                    break  # contains.rs:38-40 short-circuit
        if matched == 0 and self.min_contains != 0:
            state.errors.append(schema_violation("contains", path))
        if self.max_contains is not None and matched > self.max_contains:
            state.errors.append(
                schema_violation("min_contains/max_contains", path))
        if self.min_contains is not None and matched < self.min_contains:
            state.errors.append(
                schema_violation("min_contains/max_contains", path))
        if mutated:
            # contains.rs:73 set_replacement is unconditional (assigns
            # only when the Cow was actually written)
            state.replacement = array
        return state


class _OfV(Keyword):
    """allOf / anyOf / oneOf: a list of sub-schema urls."""

    def __init__(self, urls: list[str]):
        self.urls = urls

    def bind(self, scope):
        self._subs = [s for s in map(scope.resolve, self.urls)
                      if s is not None]
        return self._subs


class AllOfV(_OfV):
    def gate_src(self, var, env):
        return [f"if not {env.schema(s)}({var}): return False"
                for s in self._subs]

    def __call__(self, val, path, scope, prev):
        state = ValidationState()
        schemas = []
        for url in self.urls:
            s = scope.resolve(url)
            if s is None:
                state.missing.append(url)
            else:
                schemas.append(s)
        cur = val
        mutated = False
        for schema in schemas:
            result = schema.validate_in(cur, path, scope)
            if result.is_valid() and result.replacement is not NO_REPL:
                cur, mutated = result.replacement, True
                result.replacement = NO_REPL
            state.append(result)
        if not state.is_valid():
            return state
        if mutated:
            # two-pass convergence check (of.rs:50-69)
            second = cur
            changed = False
            for schema in schemas:
                result = schema.validate_in(second, path, scope)
                if result.is_valid() and result.replacement is not NO_REPL:
                    second, changed = result.replacement, True
                    result.replacement = NO_REPL
                state.append(result)
            if changed:
                state.errors.append(schema_violation("default", path))
            if not state.is_valid():
                return state
            state.replacement = cur
        return state


def _serialize_states(states: list[ValidationState]) -> str:
    # serde_json bytes: insertion key order ({"errors": [...], "missing":
    # [...]}, error keys code/title/path/detail/states —
    # common/error.rs:88-121), compact separators, raw UTF-8. The column
    # compilers (_states_json) emit the identical bytes via to_json.
    return json.dumps([s.serialize() for s in states],
                      separators=(",", ":"), ensure_ascii=False)


class AnyOfV(_OfV):
    def gate_src(self, var, env):
        tests = " or ".join(f"{env.schema(s)}({var})" for s in self._subs)
        return [f"if not ({tests or 'False'}): return False"]

    def __call__(self, val, path, scope, prev):
        state = ValidationState()
        invalid_states = []
        evaluated: set[str] = set()
        valid = False
        cur = val
        mutated = False
        for url in self.urls:
            schema = scope.resolve(url)
            if schema is None:
                state.missing.append(url)
                continue
            result = schema.validate_in(cur, path, scope)
            state.missing.extend(result.missing)
            if result.is_valid():
                if result.replacement is not NO_REPL:
                    cur, mutated = result.replacement, True
                valid = True
                evaluated |= result.evaluated
            else:
                invalid_states.append(result)
        if not valid:
            state.errors.append(schema_violation(
                "any_of", path, states=_serialize_states(invalid_states)))
        else:
            state.evaluated |= evaluated
        if mutated and state.is_valid():
            state.replacement = cur
        return state


class OneOfV(_OfV):
    def passes(self, val):
        matched = 0
        for s in self._subs:
            if not s.exact:
                return False
            if s.passes(val):
                matched += 1
                if matched > 1:
                    return False
        return matched == 1

    def __call__(self, val, path, scope, prev):
        state = ValidationState()
        invalid_states = []
        evaluated: set[str] = set()
        valid = 0
        cur = val
        mutated = False
        for url in self.urls:
            schema = scope.resolve(url)
            if schema is None:
                state.missing.append(url)
                continue
            result = schema.validate_in(cur, path, scope)
            state.missing.extend(result.missing)
            if result.is_valid():
                if result.replacement is not NO_REPL:
                    cur, mutated = result.replacement, True
                valid += 1
                evaluated = result.evaluated
            else:
                invalid_states.append(result)
        if valid != 1:
            state.errors.append(schema_violation(
                "one_of", path, states=_serialize_states(invalid_states)))
        else:
            state.evaluated = evaluated
        if mutated and state.is_valid():
            state.replacement = cur
        return state


class NotV(_SubV):
    def passes(self, val):
        s = self._sub
        return s is None or (s.exact and not s.passes(val))

    def __call__(self, val, path, scope, prev):
        schema = scope.resolve(self.url)
        state = ValidationState()
        if schema is None:
            state.missing.append(self.url)
            return state
        if schema.validate_in(val, path, scope).is_valid():
            state.errors.append(schema_violation("not", path))
        return state


class ConditionalV(Keyword):
    def __init__(self, if_url, then_url, else_url):
        self.if_url = if_url
        self.then_url = then_url
        self.else_url = else_url

    def bind(self, scope):
        self._if, self._then, self._else = (
            None if u is None else scope.resolve(u)
            for u in (self.if_url, self.then_url, self.else_url))
        return [s for s in (self._if, self._then, self._else)
                if s is not None]

    def passes(self, val):
        if self._if is None:
            return True
        if not self._if.exact:
            return False
        branch = self._then if self._if.passes(val) else self._else
        return branch is None or branch.passes(val)

    def __call__(self, val, path, scope, prev):
        state = ValidationState()
        schema_if = scope.resolve(self.if_url)
        if schema_if is None:
            state.missing.append(self.if_url)
            return state
        if_state = schema_if.validate_in(val, path, scope)
        if if_state.is_valid():
            state.evaluated |= if_state.evaluated
            if self.then_url is not None:
                schema_then = scope.resolve(self.then_url)
                if schema_then is not None:
                    state.append(schema_then.validate_in(val, path, scope))
                else:
                    state.missing.append(self.then_url)
        elif self.else_url is not None:
            schema_else = scope.resolve(self.else_url)
            if schema_else is not None:
                state.append(schema_else.validate_in(val, path, scope))
            else:
                state.missing.append(self.else_url)
        return state


class RefV(_SubV):
    def gate_src(self, var, env):
        return [] if self._sub is None else [
            f"if not {env.schema(self._sub)}({var}): return False"]

    def __call__(self, val, path, scope, prev):
        schema = scope.resolve(self.url)
        if schema is not None:
            return schema.validate_in(val, path, scope)
        state = ValidationState()
        state.missing.append(self.url)
        return state


class FormatV(Keyword):
    def __init__(self, checker):
        self.checker = checker

    def passes(self, val):
        return not isinstance(val, str) or self.checker(val) is None

    def __call__(self, val, path, scope, prev):
        if not isinstance(val, str):
            return _skip()
        detail = self.checker(val)
        if detail is None:
            return _skip()
        return err_state(schema_violation("format", path, detail))


class ContentMediaV(Keyword):
    exact = False  # content decoding threads a replacement in valico

    def __init__(self, media_type: str | None, encoding: str | None):
        self.media_type = media_type
        self.encoding = encoding

    def __call__(self, val, path, scope, prev):
        target = val
        if self.encoding is not None and isinstance(val, str):
            decoded, err = fmt.decode_base64_utf8(val)
            if err is not None:
                return err_state(schema_violation("format", path, err))
            target = decoded
        if (self.media_type is not None and isinstance(target, str)
                and not fmt.json_parses(target)):
            return err_state(schema_violation("format", path, ""))
        return _skip()


class UnevaluatedV(Keyword):
    """unevaluatedItems / unevaluatedProperties (validators/unevaluated.rs)."""

    exact = False  # reads the evaluated set its siblings thread

    def __init__(self, is_items: bool, kind: str, extra):
        self.is_items = is_items
        self.kind = kind   # 'bool' | 'schema'
        self.extra = extra

    def _check_one(self, item_path, item, scope) -> ValidationState:
        state = ValidationState()
        if self.kind == "bool":
            if not self.extra:
                detail = ("Unevaluated items are not allowed" if self.is_items
                          else "Unevaluated properties are not allowed")
                state.errors.append(
                    schema_violation("unevaluated", item_path, detail))
            else:
                state.evaluated.add(item_path)
        else:
            schema = scope.resolve(self.extra)
            if schema is None:
                state.missing.append(self.extra)
            else:
                result = schema.validate_in(item, item_path, scope)
                if result.is_valid():
                    state.evaluated.add(item_path)
                    state.replacement = result.replacement
                    result.replacement = NO_REPL
                state.append(result)
        return state

    def __call__(self, val, path, scope, prev):
        evaluated_children = {p for p in prev.evaluated if p.startswith(path)}
        state = ValidationState()
        if self.is_items:
            if not isinstance(val, list):
                return _skip()
            array = val
            mutated = False
            for idx in range(len(array)):
                item_path = join_path(path, str(idx))
                if item_path in evaluated_children:
                    continue
                result = self._check_one(item_path, array[idx], scope)
                if result.replacement is not NO_REPL:
                    if not mutated:
                        array, mutated = list(array), True
                    array[idx] = result.replacement
                    result.replacement = NO_REPL
                state.append(result)
            if mutated and state.is_valid():
                state.replacement = array
        else:
            if not isinstance(val, dict):
                return _skip()
            obj = val
            mutated = False
            for k in list(obj.keys()):
                item_path = join_path(path, k)
                if item_path in evaluated_children:
                    continue
                result = self._check_one(item_path, obj[k], scope)
                if result.replacement is not NO_REPL:
                    if not mutated:
                        obj, mutated = dict(obj), True
                    obj[k] = result.replacement
                    result.replacement = NO_REPL
                state.append(result)
            if mutated and state.is_valid():
                state.replacement = obj
        return state


# ---------------------------------------------------------------------------
# Schema compilation

PROPERTY_KEYS = {"properties", "patternProperties"}
NON_SCHEMA_KEYS = {"properties", "patternProperties", "dependencies",
                   "dependentSchemas", "dependentRequired", "definitions",
                   "$defs", "anyOf", "allOf", "oneOf", "const", "enum"}
BOOLEAN_SCHEMA_ARRAY_KEYS = {"allOf", "anyOf", "items", "oneOf"}
FINAL_KEYS = {"default", "enum", "required", "type"}
ALLOW_NON_CONSUMED_KEYS = {"definitions", "$defs", "$schema", "$id",
                           "$anchor", "default", "title", "description",
                           "format", "examples", "$comment"}


class Schema:
    __slots__ = ("id", "original", "tree", "validators", "scopes", "_default",
                 "_default_set", "passes", "exact")

    def __init__(self):
        self.id: str | None = None
        self.original: Any = None
        self.tree: dict[str, "Schema"] = {}
        self.validators: list[Validator] = []
        self.scopes: dict[str, list[str]] = {}
        self._default = None
        self._default_set = False
        # set by Scope.gate: the generated function that is True only when
        # validate_in would report no error (and, on an exact schema,
        # whenever it reports none)
        self.passes: Callable[[Any], bool] | None = None
        self.exact = False

    # -- defaults (schema.rs:227-320) ------------------------------------
    def has_default(self) -> bool:
        return self._default_set

    def get_default(self):
        return self._default

    def add_defaults(self, id_url: str, scope: "Scope") -> None:
        self._add_defaults_recursive(self, id_url, scope)

    def _add_defaults_recursive(self, top: "Schema", id_url: str,
                                scope: "Scope") -> None:
        if self._default_set:
            return
        for sub in self.tree.values():
            sub._add_defaults_recursive(top, id_url, scope)
        if isinstance(self.original, dict) and "default" in self.original:
            self._default = self.original["default"]
            self._default_set = True
            return
        ref = (self.original.get("$ref")
               if isinstance(self.original, dict) else None)
        if isinstance(ref, str):
            url = ju.url_join(id_url, ref)
            target = top._resolve_internal(url) or scope.resolve(url)
            if target is not None:
                if target is not self:
                    target._add_defaults_recursive(top, id_url, scope)
                if target.has_default():
                    self._default = target.get_default()
                    self._default_set = True
            return
        props = self.tree.get("properties")
        if props is not None:
            default = {}
            for key, schema in props.tree.items():
                if schema.has_default():
                    default[key] = schema.get_default()
            if default:
                self._default = default
                self._default_set = True
                return
        if (isinstance(self.original, dict)
                and isinstance(self.original.get("items"), list)):
            items = self.tree.get("items")
            if items is not None:
                default = []
                for idx in range(len(items.tree)):
                    sub = items.tree.get(str(idx))
                    if sub is None or not sub.has_default():
                        break
                    default.append(sub.get_default())
                if len(default) == len(items.tree):
                    self._default = default
                    self._default_set = True

    def _resolve_internal(self, url: str) -> "Schema | None":
        key, fragment = ju.serialize_schema_path(url)
        if self.id is not None:
            my_key, _ = ju.serialize_schema_path(self.id)
            if my_key == key:
                return (self.resolve_fragment(fragment)
                        if fragment else self)
        return None

    # -- resolution (schema.rs:516-552) ----------------------------------
    def resolve(self, id_str: str) -> "Schema | None":
        path = self.scopes.get(id_str)
        if path is None:
            return None
        schema = self
        for item in path:
            schema = schema.tree.get(item)
            if schema is None:
                return None
        return schema

    def resolve_fragment(self, fragment: str) -> "Schema | None":
        assert fragment.startswith("/"), "Can't resolve id fragments"
        schema = self
        for part in fragment[1:].split("/"):
            schema = schema.tree.get(part)
            if schema is None:
                return None
        return schema

    # -- validation (schema.rs:567-586) ----------------------------------
    def validate_in(self, data: Any, path: str, scope: "Scope") -> ValidationState:
        state = ValidationState()
        cur = data
        mutated = False
        for validator in self.validators:
            result = validator(cur, path, scope, state)
            if result.is_valid() and result.replacement is not NO_REPL:
                cur, mutated = result.replacement, True
                result.replacement = NO_REPL
            state.append(result)
        if mutated and state.is_valid():
            state.replacement = cur
        return state


class WalkContext:
    __slots__ = ("url", "fragment", "scopes", "version")

    def __init__(self, url, fragment, scopes, version):
        self.url = url
        self.fragment = fragment
        self.scopes = scopes
        self.version = version

    def escaped_fragment(self) -> str:
        return ju.connect(self.fragment)


def end_anchor_pattern(pattern: str, anchor: str) -> str:
    """Rewrite unescaped, outside-char-class ``$`` to ``anchor``.

    The reference's fancy_regex ``$`` matches ONLY at end of text
    (non-multiline), while Python ``re`` and Java both also match just
    before a final newline — the official suite's "ECMA 262 regex $
    does not match trailing newline" case pins the difference.  Python
    needs ``\\Z``, Java ``\\z``.  Patterns ENABLING multiline anywhere
    keep their line-anchored semantics: the guard matches a flag group
    with ``m`` before any ``-`` (``(?m``, ``(?im``, ``(?smx:``…);
    disabling groups (``(?-m``, ``(?i-sm``) still rewrite — with
    multiline off, Rust ``$`` is end-of-text."""
    if "$" not in pattern or re.search(r"\(\?[a-zA-Z]*m", pattern):
        return pattern
    out = []
    esc = in_cls = False
    for ch in pattern:
        if esc:
            out.append(ch)
            esc = False
        elif ch == "\\":
            out.append(ch)
            esc = True
        elif in_cls:
            out.append(ch)
            if ch == "]":
                in_cls = False
        elif ch == "[":
            out.append(ch)
            in_cls = True
        elif ch == "$":
            out.append(anchor)
        else:
            out.append(ch)
    return "".join(out)


def _compile_regex(pattern: str):
    try:
        return re.compile(end_anchor_pattern(pattern, "\\Z"))
    except re.error:
        return None


# Keyword compilers: (def_dict, ctx, scope_settings) -> Validator | None.
# Raise SchemaError for malformed schemas.

def _uint_key(def_: dict, ctx, key: str, detail: str) -> int:
    v = def_[key]
    if isinstance(v, bool) or not isinstance(v, int) or v < 0:
        if isinstance(v, float) and v.is_integer() and v >= 0:
            return int(v)
        raise malformed(ctx.fragment, detail)
    return v


def kw_type(def_, ctx, settings):
    t = def_["type"]
    if isinstance(t, str):
        if t not in PRIMITIVE_TYPES:
            raise malformed(ctx.fragment, f"Unknown type: {t}")
        return TypeV([t], True)
    if isinstance(t, list):
        if not t:
            raise malformed(ctx.fragment,
                            "This array MUST have at least one element.")
        for x in t:
            if not isinstance(x, str) or x not in PRIMITIVE_TYPES:
                raise malformed(ctx.fragment, f"Unknown type: {x}")
        return TypeV(t, False)
    raise malformed(ctx.fragment,
                    "The value of this keyword MUST be either a string or an array.")


def kw_enum(def_, ctx, settings):
    e = def_["enum"]
    if not isinstance(e, list):
        raise malformed(ctx.fragment,
                        "The value of this keyword MUST be an array.")
    if not e:
        raise malformed(ctx.fragment,
                        "This array MUST have at least one element.")
    return EnumV(e)


def kw_const(def_, ctx, settings):
    return ConstV(def_["const"])


def _num_key(def_, ctx, key):
    v = def_[key]
    if not is_number(v):
        raise malformed(ctx.fragment, f"The value of {key} MUST be a number")
    return float(v)


def kw_maximum(def_, ctx, settings):
    return BoundV(_num_key(def_, ctx, "maximum"), "max")


def kw_minimum(def_, ctx, settings):
    return BoundV(_num_key(def_, ctx, "minimum"), "min")


def kw_emaximum(def_, ctx, settings):
    return BoundV(_num_key(def_, ctx, "exclusiveMaximum"), "emax")


def kw_eminimum(def_, ctx, settings):
    return BoundV(_num_key(def_, ctx, "exclusiveMinimum"), "emin")


def kw_multiple_of(def_, ctx, settings):
    v = _num_key(def_, ctx, "multipleOf")
    if v <= 0:
        raise malformed(ctx.fragment,
                        "The value of multipleOf MUST be strictly greater than 0")
    return MultipleOfV(v)


def kw_max_length(def_, ctx, settings):
    return LengthV(_uint_key(def_, ctx, "maxLength",
                             "The value MUST be a non-negative integer"), True)


def kw_min_length(def_, ctx, settings):
    return LengthV(_uint_key(def_, ctx, "minLength",
                             "The value MUST be a non-negative integer"), False)


def kw_pattern(def_, ctx, settings):
    p = def_["pattern"]
    if not isinstance(p, str):
        raise malformed(ctx.fragment, "The value of pattern MUST be a string")
    regex = _compile_regex(p)
    if regex is None:
        raise malformed(ctx.fragment,
                        "The value of pattern MUST be a valid regular expression")
    return PatternV(regex)


def kw_max_items(def_, ctx, settings):
    return ItemsCountV(_uint_key(def_, ctx, "maxItems",
                                 "The value MUST be a non-negative integer"), True)


def kw_min_items(def_, ctx, settings):
    return ItemsCountV(_uint_key(def_, ctx, "minItems",
                                 "The value MUST be a non-negative integer"), False)


def kw_max_properties(def_, ctx, settings):
    return PropsCountV(_uint_key(def_, ctx, "maxProperties",
                                 "The value MUST be a non-negative integer"), True)


def kw_min_properties(def_, ctx, settings):
    return PropsCountV(_uint_key(def_, ctx, "minProperties",
                                 "The value MUST be a non-negative integer"), False)


def kw_unique_items(def_, ctx, settings):
    u = def_["uniqueItems"]
    if u is True:
        return UniqueItemsV()
    if u is False:
        return None
    raise malformed(ctx.fragment, "The value of uniqueItems MUST be a boolean")


def kw_required(def_, ctx, settings):
    r = def_["required"]
    if not isinstance(r, list) or not all(isinstance(x, str) for x in r):
        raise malformed(ctx.fragment,
                        "The value of required MUST be an array of strings")
    return RequiredV(r)


def kw_properties(def_, ctx, settings):
    maybe_props = def_.get("properties")
    maybe_additional = def_.get("additionalProperties")
    maybe_pattern = def_.get("patternProperties")
    if maybe_props is None and maybe_additional is None and maybe_pattern is None:
        return None

    properties: dict[str, str] = {}
    if maybe_props is not None:
        if not isinstance(maybe_props, dict):
            raise malformed(ctx.fragment,
                            "The value of `properties` MUST be an object.")
        for key, value in maybe_props.items():
            if not (isinstance(value, (dict, bool))):
                raise malformed(
                    ctx.fragment + ["properties", key],
                    "Each value of this object MUST be an object or a boolean")
            properties[key] = ju.alter_fragment_path(
                ctx.url, "/".join([ctx.escaped_fragment(), "properties",
                                   ju.encode(key)]))

    if maybe_additional is None:
        additional = ("unspecified", None)
    elif isinstance(maybe_additional, bool):
        additional = ("bool", maybe_additional)
    elif isinstance(maybe_additional, dict):
        additional = ("schema", ju.alter_fragment_path(
            ctx.url, "/".join([ctx.escaped_fragment(), "additionalProperties"])))
    else:
        raise malformed(ctx.fragment,
                        "The value of `additionalProperties` MUST be a boolean or an object.")

    patterns = []
    if maybe_pattern is not None:
        if not isinstance(maybe_pattern, dict):
            raise malformed(ctx.fragment,
                            "The value of `patternProperties` MUST be an object")
        for key, value in maybe_pattern.items():
            if not isinstance(value, (dict, bool)):
                raise malformed(
                    ctx.fragment,
                    "Each value of this object MUST be an object or a boolean")
            regex = _compile_regex(key)
            if regex is None:
                raise malformed(
                    ctx.fragment,
                    "Each property name of this object SHOULD be a valid regular expression.")
            patterns.append((regex, ju.alter_fragment_path(
                ctx.url, "/".join([ctx.escaped_fragment(), "patternProperties",
                                   ju.encode(key)]))))
    return PropertiesV(properties, patterns, additional)


def kw_property_names(def_, ctx, settings):
    v = def_["propertyNames"]
    if not isinstance(v, (dict, bool)):
        raise malformed(ctx.fragment,
                        "The value of propertyNames MUST be an object or a boolean")
    return PropertyNamesV(ju.alter_fragment_path(
        ctx.url, "/".join([ctx.escaped_fragment(), "propertyNames"])))


def kw_dependencies(def_, ctx, settings):
    def extract(deps, deps_key, mode):
        if not isinstance(deps, dict):
            raise malformed(ctx.fragment,
                            "The value of this keyword MUST be an object.")
        items = []
        for key, item in deps.items():
            if isinstance(item, (dict, bool)) and mode in ("any", "schemas"):
                items.append((key, ("schema", ju.alter_fragment_path(
                    ctx.url, "/".join([ctx.escaped_fragment(), deps_key,
                                       ju.encode(key)])))))
            elif isinstance(item, list) and mode in ("any", "required"):
                keys = []
                for k in item:
                    if not isinstance(k, str):
                        raise malformed(
                            ctx.fragment,
                            "Each element MUST be a string, and elements in the array MUST be unique.")
                    keys.append(k)
                items.append((key, ("props", keys)))
            else:
                raise malformed(ctx.fragment, {
                    "any": "Each value of dependencies MUST be either an object, an array or a boolean.",
                    "schemas": "Each value of 'dependentSchemas' MUST be an object or a boolean.",
                    "required": "Each value of 'dependentRequired' MUST be an array.",
                }[mode])
        return items

    if "dependencies" in def_:
        items = extract(def_["dependencies"], "dependencies", "any")
    else:
        required = def_.get("dependentRequired")
        schemas = def_.get("dependentSchemas")
        if required is None and schemas is None:
            raise malformed(
                ctx.fragment,
                "dependencies has changed to dependentRequired and dependentSchemas in Draft 2019-09.")
        items = []
        if required is not None:
            items.extend(extract(required, "dependentRequired", "required"))
        if schemas is not None:
            items.extend(extract(schemas, "dependentSchemas", "schemas"))
    return DependenciesV(items)


def kw_items(def_, ctx, settings):
    maybe_items = def_.get("items")
    maybe_additional = def_.get("additionalItems")
    if maybe_items is None and maybe_additional is None:
        return None

    kind, urls = None, None
    if maybe_items is not None:
        if isinstance(maybe_items, (dict, bool)):
            kind = "schema"
            urls = ju.alter_fragment_path(
                ctx.url, "/".join([ctx.escaped_fragment(), "items"]))
        elif isinstance(maybe_items, list):
            kind = "array"
            urls = []
            for idx, item in enumerate(maybe_items):
                if not isinstance(item, (dict, bool)):
                    raise malformed(
                        ctx.fragment,
                        "Items of this array MUST be objects or booleans")
                urls.append(ju.alter_fragment_path(
                    ctx.url,
                    "/".join([ctx.escaped_fragment(), "items", str(idx)])))
        else:
            raise malformed(ctx.fragment,
                            "`items` must be an object, an array or a boolean")

    additional = None
    if maybe_additional is not None:
        if isinstance(maybe_additional, bool):
            additional = ("bool", maybe_additional)
        elif isinstance(maybe_additional, dict):
            additional = ("schema", ju.alter_fragment_path(
                ctx.url, "/".join([ctx.escaped_fragment(), "additionalItems"])))
        else:
            raise malformed(ctx.fragment,
                            "`additionalItems` must be a boolean or an object")
    return ItemsV(kind, urls, additional)


def kw_contains(def_, ctx, settings):
    if "contains" not in def_:
        # keyword_key_exists! (keywords/mod.rs:44-53): min/maxContains
        # without contains compile to nothing
        return None
    contains = def_["contains"]
    max_contains = min_contains = None
    if settings.version >= DRAFT2019:
        if "maxContains" in def_:
            max_contains = _uint_key(
                def_, ctx, "maxContains",
                "The value of maxContains MUST be a non-negative integer")
        if "minContains" in def_:
            min_contains = _uint_key(
                def_, ctx, "minContains",
                "The value of minContains MUST be a non-negative integer")
    if not isinstance(contains, (dict, bool)):
        raise malformed(ctx.fragment,
                        "The value of contains MUST be an object or a boolean")
    return ContainsV(
        ju.alter_fragment_path(ctx.url,
                               "/".join([ctx.escaped_fragment(), "contains"])),
        min_contains, max_contains)


def _of_compiler(key: str, cls):
    def kw(def_, ctx, settings):
        v = def_[key]
        if not isinstance(v, list):
            raise malformed(ctx.fragment, "The value of this keyword MUST be an array.")
        if not v:
            raise malformed(ctx.fragment, "This array MUST have at least one element.")
        urls = []
        for idx, item in enumerate(v):
            if not isinstance(item, (dict, bool)):
                raise malformed(ctx.fragment,
                                "Each value of this array MUST be an object or a boolean")
            urls.append(ju.alter_fragment_path(
                ctx.url, "/".join([ctx.escaped_fragment(), key, str(idx)])))
        return cls(urls)
    return kw


def kw_not(def_, ctx, settings):
    v = def_["not"]
    if not isinstance(v, (dict, bool)):
        raise malformed(ctx.fragment,
                        "The value of `not` MUST be an object or a boolean")
    return NotV(ju.alter_fragment_path(
        ctx.url, "/".join([ctx.escaped_fragment(), "not"])))


def kw_conditional(def_, ctx, settings):
    if "if" not in def_:
        return None
    mk = lambda k: ju.alter_fragment_path(
        ctx.url, "/".join([ctx.escaped_fragment(), k]))
    return ConditionalV(
        mk("if"),
        mk("then") if "then" in def_ else None,
        mk("else") if "else" in def_ else None)


def kw_ref(def_, ctx, settings):
    r = def_["$ref"]
    if not isinstance(r, str):
        raise malformed(ctx.fragment,
                        "The value of multipleOf MUST be a string")
    try:
        url = ju.url_join(ctx.url, r)
    except ValueError:
        raise malformed(ctx.fragment,
                        "The value of $ref MUST be an URI-encoded JSON Pointer")
    return RefV(url)


def kw_format(def_, ctx, settings):
    f = def_["format"]
    if not isinstance(f, str):
        raise malformed(ctx.fragment, "The value of format MUST be a string")
    checker = settings.formats.get(f)
    if checker is None:
        return None  # unknown formats silently ignored (format.rs:172-175)
    return FormatV(checker)


def kw_content_media(def_, ctx, settings):
    media_type = None
    if "contentMediaType" in def_:
        v = def_["contentMediaType"]
        if not isinstance(v, str):
            raise malformed(ctx.fragment, "contentMediaType MUST be a string.")
        if v != "application/json":
            raise malformed(ctx.fragment,
                            'contentMediaType MUST be one of ["application/json"]')
        media_type = v
    encoding = None
    if "contentEncoding" in def_:
        v = def_["contentEncoding"]
        if not isinstance(v, str):
            raise malformed(ctx.fragment, "contentEncoding MUST be a string.")
        if v != "base64":
            raise malformed(ctx.fragment,
                            'contentEncoding MUST be one of ["base64"]')
        encoding = v
    return ContentMediaV(media_type, encoding)


def _unevaluated_compiler(is_items: bool, key: str):
    def kw(def_, ctx, settings):
        if settings.version < DRAFT2019:
            return None
        v = def_[key]
        if isinstance(v, bool):
            return UnevaluatedV(is_items, "bool", v)
        if isinstance(v, dict):
            return UnevaluatedV(is_items, "schema", ju.alter_fragment_path(
                ctx.url, "/".join([ctx.escaped_fragment(), key])))
        raise malformed(ctx.fragment, f"{key} MUST be a bool or an object")
    return kw


class _KeywordSpec:
    __slots__ = ("keys", "compile", "exclusive_pre2019", "first", "last")

    def __init__(self, keys, compile_fn, exclusive_pre2019=False,
                 first=False, last=False):
        self.keys = keys
        self.compile = compile_fn
        self.exclusive_pre2019 = exclusive_pre2019
        self.first = first
        self.last = last


# Registration order mirrors keywords/mod.rs:81-207 (but we iterate keys
# deterministically; the reference iterates a HashSet so its intra-state
# error *order* is unspecified — comparisons must be set-wise).
KEYWORDS: list[_KeywordSpec] = [
    _KeywordSpec(["$ref"], kw_ref, exclusive_pre2019=True),
    _KeywordSpec(["allOf"], _of_compiler("allOf", AllOfV)),
    _KeywordSpec(["anyOf"], _of_compiler("anyOf", AnyOfV)),
    _KeywordSpec(["const"], kw_const),
    _KeywordSpec(["contains", "minContains", "maxContains"], kw_contains),
    _KeywordSpec(["dependencies", "dependentRequired", "dependentSchemas"],
                 kw_dependencies),
    _KeywordSpec(["enum"], kw_enum),
    _KeywordSpec(["exclusiveMaximum"], kw_emaximum),
    _KeywordSpec(["exclusiveMinimum"], kw_eminimum),
    _KeywordSpec(["items", "additionalItems"], kw_items, first=True),
    _KeywordSpec(["maxItems"], kw_max_items),
    _KeywordSpec(["maxLength"], kw_max_length),
    _KeywordSpec(["maxProperties"], kw_max_properties),
    _KeywordSpec(["maximum"], kw_maximum),
    _KeywordSpec(["minItems"], kw_min_items),
    _KeywordSpec(["minLength"], kw_min_length),
    _KeywordSpec(["minProperties"], kw_min_properties),
    _KeywordSpec(["minimum"], kw_minimum),
    _KeywordSpec(["multipleOf"], kw_multiple_of),
    _KeywordSpec(["not"], kw_not),
    _KeywordSpec(["oneOf"], _of_compiler("oneOf", OneOfV)),
    _KeywordSpec(["pattern"], kw_pattern),
    _KeywordSpec(["properties", "additionalProperties", "patternProperties"],
                 kw_properties, first=True),
    _KeywordSpec(["propertyNames"], kw_property_names),
    _KeywordSpec(["required"], kw_required),
    _KeywordSpec(["type"], kw_type),
    _KeywordSpec(["unevaluatedItems"],
                 _unevaluated_compiler(True, "unevaluatedItems"), last=True),
    _KeywordSpec(["unevaluatedProperties"],
                 _unevaluated_compiler(False, "unevaluatedProperties"),
                 last=True),
    _KeywordSpec(["uniqueItems"], kw_unique_items),
    _KeywordSpec(["contentMediaType", "contentEncoding"], kw_content_media),
    _KeywordSpec(["if", "then", "else"], kw_conditional),
    _KeywordSpec(["format"], kw_format),
]

_KEYWORD_BY_KEY = {}
for spec in KEYWORDS:
    for k in spec.keys:
        _KEYWORD_BY_KEY[k] = spec


class _Settings:
    __slots__ = ("version", "ban_unknown", "formats")

    def __init__(self, version, ban_unknown, formats):
        self.version = version
        self.ban_unknown = ban_unknown
        self.formats = formats


def keyword_dispatch_order(def_: dict, version: int) -> list[str]:
    """Canonical keyword-group names present in ``def_`` in the exact
    order _compile_keywords linearizes their validators (sorted-key walk;
    place_first groups insert at the front, place_last at the end). The
    column compilers emit violation parts in this order so that nested
    ``states`` payloads are byte-equal to the walker's."""
    firsts: list[str] = []
    normals: list[str] = []
    lasts: list[str] = []
    processed: set[int] = set()
    for key in sorted(def_.keys()):
        spec = _KEYWORD_BY_KEY.get(key)
        if spec is None or id(spec) in processed:
            continue
        processed.add(id(spec))
        canon = spec.keys[0]
        if spec.first:
            firsts.insert(0, canon)
        elif spec.last:
            lasts.append(canon)
        else:
            normals.append(canon)
    return firsts + normals + lasts


def _compile_keywords(def_: dict, ctx: WalkContext,
                      settings: _Settings) -> list[Validator]:
    # schema.rs:322-386 — deterministic linearization of the reference's
    # HashSet walk: exclusive $ref wipes siblings, place_first at front,
    # place_last appended at the end.
    validators: list[Validator] = []
    end_validators: list[Validator] = []
    keys = set(def_.keys())
    not_consumed = set()
    processed: set[int] = set()

    for key in sorted(def_.keys()):
        if key not in keys:
            continue
        spec = _KEYWORD_BY_KEY.get(key)
        if spec is None:
            keys.discard(key)
            if settings.ban_unknown:
                not_consumed.add(key)
            continue
        if id(spec) in processed:
            continue
        processed.add(id(spec))
        for k in spec.keys:
            keys.discard(k)
        is_exclusive = spec.exclusive_pre2019 and settings.version < DRAFT2019
        validator = spec.compile(def_, ctx, settings)
        if validator is not None:
            if is_exclusive:
                validators = [validator]
                end_validators = []
            elif spec.first:
                validators.insert(0, validator)
            elif spec.last:
                end_validators.append(validator)
            else:
                validators.append(validator)
        if is_exclusive:
            break

    if settings.ban_unknown:
        for key in not_consumed:
            if key not in ALLOW_NON_CONSUMED_KEYS:
                raise SchemaError("UnknownKey", detail=key)

    validators.extend(end_validators)
    return validators


def _compile_schema(def_: Any, external_id: str | None,
                    settings: _Settings) -> Schema:
    # schema.rs:128-213
    def_ = convert_boolean_schema(def_)
    if not isinstance(def_, dict):
        raise SchemaError("NotAnObject")

    if external_id is not None:
        sid = external_id
    else:
        sid = def_.get("$id") if isinstance(def_.get("$id"), str) else None
        sid = sid or ju.generate_id()
    if settings.version >= DRAFT2019 and isinstance(def_.get("$anchor"), str):
        base, _ = ju.split_fragment(sid)
        sid = base + "#" + def_["$anchor"]

    schema = Schema()
    schema.id = sid
    schema.original = def_
    scopes: dict[str, list[str]] = {}

    for key, value in def_.items():
        if not isinstance(value, (dict, list, bool)):
            continue
        if key in FINAL_KEYS:
            continue
        ctx = WalkContext(sid, [key], scopes, settings.version)
        sub = _compile_sub(value, ctx, settings,
                           is_schema=key not in NON_SCHEMA_KEYS)
        schema.tree[ju.encode(key)] = sub

    schema.validators = _compile_keywords(
        def_, WalkContext(sid, [], scopes, settings.version), settings)
    schema.scopes = scopes
    return schema


def _compile_sub(def_: Any, ctx: WalkContext, settings: _Settings,
                 is_schema: bool) -> Schema:
    # schema.rs:388-514
    def_ = convert_boolean_schema(def_)

    sid = None
    if is_schema and isinstance(def_, dict):
        raw_id = def_.get("$id")
        if isinstance(raw_id, str):
            sid = ju.url_join(ctx.url, raw_id)
        if settings.version >= DRAFT2019 and "$anchor" in def_:
            anchor = def_["$anchor"]
            if not isinstance(anchor, str):
                raise malformed([], "$anchor must be a string")
            if sid is None:
                sid = ctx.url
            base, _ = ju.split_fragment(sid)
            sid = base + "#" + anchor

    schema = Schema()
    schema.id = sid
    schema.original = def_

    if isinstance(def_, dict):
        parent_key = ctx.fragment[-1]
        for key, value in def_.items():
            if not isinstance(value, (dict, list, bool)):
                continue
            if parent_key not in PROPERTY_KEYS and key in FINAL_KEYS:
                continue
            sub_is_schema = (parent_key in PROPERTY_KEYS
                             or key not in NON_SCHEMA_KEYS)
            sub_ctx = WalkContext(sid if sid is not None else ctx.url,
                                  ctx.fragment + [key], ctx.scopes,
                                  settings.version)
            schema.tree[ju.encode(key)] = _compile_sub(
                value, sub_ctx, settings, sub_is_schema)
    elif isinstance(def_, list):
        parent_key = ctx.fragment[-1]
        for idx, value in enumerate(def_):
            if parent_key in BOOLEAN_SCHEMA_ARRAY_KEYS:
                value = convert_boolean_schema(value)
            if not isinstance(value, (dict, list)):
                continue
            sub_ctx = WalkContext(sid if sid is not None else ctx.url,
                                  ctx.fragment + [str(idx)], ctx.scopes,
                                  settings.version)
            schema.tree[str(idx)] = _compile_sub(value, sub_ctx, settings,
                                                 True)

    if sid is not None:
        ctx.scopes[sid] = list(ctx.fragment)

    if is_schema and isinstance(def_, dict):
        # schema.rs:491-499 — the $id-bearing schema's OWN keywords
        # compile against the ORIGINAL (parent) context url; only child
        # walk contexts switch to the new $id.  This makes the keyword
        # sub-schema URLs root-resolvable (tree#/definitions/node/...)
        # — using the new $id here breaks e.g. the official suite's
        # tree/node recursive-$id group.
        schema.validators = _compile_keywords(def_, ctx, settings)

    return schema


def _fails(data: Any) -> bool:
    return False


class Scope:
    """Schema registry + validation entry point (src/json_schema/scope.rs)."""

    def __init__(self, version: int = DRAFT7, supply_defaults: bool = False,
                 with_formats: bool = True):
        self.schemes: dict[str, Schema] = {}
        self.version = version
        self.supply_defaults = supply_defaults
        self.formats = dict(fmt.FORMAT_CHECKERS) if with_formats else {}
        self._gates: dict[Schema, tuple[Callable[[Any], bool], bool]] = {}

    def add_format(self, name: str, checker) -> None:
        self.formats[name] = checker

    # -- compile ---------------------------------------------------------
    def compile(self, def_: Any, ban_unknown: bool = False,
                external_id: str | None = None) -> str:
        settings = _Settings(self.version, ban_unknown, self.formats)
        schema = _compile_schema(def_, external_id, settings)
        sid = schema.id
        key, frag = ju.serialize_schema_path(sid)
        if frag is not None:
            raise SchemaError("WrongId")
        if key in self.schemes:
            raise SchemaError("IdConflicts")
        self.schemes[key] = schema
        self._gates.clear()  # a new schema may resolve a missing $ref
        if self.supply_defaults:
            schema.add_defaults(sid, self)
        return key

    def compile_and_return(self, def_: Any, ban_unknown: bool = False) -> str:
        return self.compile(def_, ban_unknown)

    # -- resolve (scope.rs:236-257) --------------------------------------
    def resolve(self, url: str) -> Schema | None:
        schema_path, fragment = ju.serialize_schema_path(url)
        schema = self.schemes.get(schema_path)
        if schema is None:
            for s in self.schemes.values():
                inner = s.resolve(schema_path)
                if inner is not None:
                    schema = inner
                    break
        if schema is None:
            return None
        if fragment is not None:
            return schema.resolve_fragment(fragment)
        return schema

    # -- validate --------------------------------------------------------
    def validate(self, schema_id: str, data: Any) -> ValidationState:
        schema = self.resolve(schema_id)
        if schema is None:
            raise KeyError(schema_id)
        return schema.validate_in(data, "", self)

    # -- gate ------------------------------------------------------------
    def gate(self, schema_id: str) -> tuple[Callable[[Any], bool], bool]:
        """The boolean fast path of ``validate(schema_id, ·)``:
        ``(passes, covers)``.

        ``passes(data)`` is True only when ``validate`` would report no
        error, and allocates no state. ``covers`` says the converse holds
        too: every keyword the schema can reach has an exact boolean form,
        so a document that fails the gate always has a violation. Keywords
        without one (``unevaluated*``, content decoding; ``not`` / ``oneOf``
        / ``if`` / ``maxContains`` over inexact sub-schemas) fail the gate
        wherever a document reaches them. With ``supply_defaults`` the
        walker threads replacements between keywords, so nothing passes.

        ``passes`` is generated Python: one fail-fast function per schema
        node the schema reaches, each made of its keywords' ``gate_src``
        statements and calling its sub-schemas' functions by name. Ruleset
        values live in the ``exec`` namespace as constants, never in the
        source text. The gate is built once per schema, and again after a
        ``compile`` (a new schema may resolve a missing ``$ref``).
        """
        schema = self.resolve(schema_id)
        if schema is None:
            raise KeyError(schema_id)
        if self.supply_defaults:
            return _fails, False
        if schema not in self._gates:
            self._bind_gates(schema)
            self._gates[schema] = (schema.passes, schema.exact)
        return self._gates[schema]

    def _bind_gates(self, root: Schema) -> None:
        names = {root: "s0"}  # every node root reaches -> its function
        readers: dict[Schema, list[Schema]] = {}
        inexact: list[Schema] = []
        stack = [root]
        while stack:
            node = stack.pop()
            node.exact = True
            for v in node.validators:
                node.exact = node.exact and v.exact
                for sub in v.bind(self):
                    readers.setdefault(sub, []).append(node)
                    if sub not in names:
                        names[sub] = f"s{len(names)}"
                        stack.append(sub)
            if not node.exact:
                inexact.append(node)
        # exact unless an inexact schema is reachable: the greatest
        # fixpoint, so recursive $refs over exact keywords stay exact
        while inexact:
            for node in readers.get(inexact.pop(), ()):
                if node.exact:
                    node.exact = False
                    inexact.append(node)
        env = GateEnv(names)
        src = []
        for node, name in names.items():
            # every check is pure, so the type check may go first and the
            # others skip the type tests it implies
            env.types = {}
            body = []
            for v in sorted(node.validators,
                            key=lambda v: not isinstance(v, TypeV)):
                body += v.gate_src("v", env)
                if isinstance(v, TypeV):
                    env.types = {"v": v.types}
            src += _function_src(name, body)
        exec(compile("\n".join(src), "<gate>", "exec"), env.ns)
        for node, name in names.items():
            node.passes = env.ns[name]


def _reject_constant(name: str) -> Any:
    raise ValueError(f"non-standard JSON constant {name}")


# one decoder for every document: json.loads with a keyword argument
# builds a new JSONDecoder per call
_DECODER = json.JSONDecoder(parse_constant=_reject_constant)


def load_document(doc: str | None) -> Any:
    """A JSON document string as the value the walker validates.

    The contract of the VARIANT lane's ``parse_documents``: a SQL-NULL
    document, a malformed one, and one using ``NaN`` / ``Infinity`` /
    ``-Infinity`` (which Python's ``json`` accepts and Spark's
    ``try_parse_json`` rejects) all validate as JSON ``null``. Duplicate
    object keys keep the last value, as serde_json does; there
    ``try_parse_json`` gives NULL, so the VARIANT lane validates such a
    document as ``null`` instead.
    """
    if doc is None:
        return None
    try:
        return _DECODER.decode(doc)
    except ValueError:  # json.JSONDecodeError included
        return None


def validate_json(schema: Any, data: Any, version: int = DRAFT7,
                  supply_defaults: bool = False) -> ValidationState:
    """One-shot helper: compile ``schema`` and validate ``data``."""
    scope = Scope(version=version, supply_defaults=supply_defaults)
    sid = scope.compile(schema)
    return scope.validate(sid, data)
