"""Variant (dynamic-JSON) column compiler vs reference-parity walker.

Same core property as test_column_parity, for the VARIANT plan: the
vectorized JVM expression over ``parse_json`` must agree with the Python
walker document-by-document — same verdicts, same (code, path, detail)
multisets — across a seeded fuzz corpus of schemas and documents that
exercises runtime type dispatch (the part typed columns can't reach:
per-row type surprises, JSON null vs missing, mixed arrays)."""

import json
import random
import re

import pytest
from pyspark.sql import functions as F

from valico_spark.compiler.columns import UnsupportedRule
from valico_spark.compiler.pyvalidator import Scope
from valico_spark.operators.validate import validate_json_column


def _oracle(docs, ruleset):
    scope = Scope()
    sid = scope.compile(ruleset)
    out = []
    for doc in docs:
        state = scope.validate(sid, None if doc is None else json.loads(doc))
        out.append((state.is_valid(),
                    sorted((e.code, e.path, e.detail or "", e.states or "")
                           for e in state.errors)))
    return out


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def assert_walker_stage_only(validated) -> None:
    """The frame is planned as one walker stage (one ``MapInArrow``) and
    no VARIANT plan (no ``parseJson``)."""
    plan = _executed_plan(validated)
    assert len(re.findall(r"\bMapInArrow\b", plan)) == 1, plan
    assert "parseJson" not in plan, plan


def _check(spark, docs, ruleset, force=True):
    """Verdicts and violation rows equal the walker's; returns the
    validated frame, so callers can read its plan."""
    df = spark.createDataFrame([(i, d) for i, d in enumerate(docs)],
                               "i long, j string")
    v = validate_json_column(df, "j", ruleset,
                             mode="variant" if force else "auto")
    # row order restored here, not by a sort stage over the plan
    got = sorted(v.collect(), key=lambda r: r["i"])
    exp = _oracle(docs, ruleset)
    for row, (exp_valid, exp_errs) in zip(got, exp):
        got_errs = sorted((e["code"], e["path"], e["detail"] or "",
                           e["states"] or "")
                          for e in row["violations"])
        assert row["valid"] == exp_valid, \
            f"verdict mismatch: {docs[row['i']]!r}\n got {got_errs}\n exp {exp_errs}"
        assert got_errs == exp_errs, \
            f"violations mismatch: {docs[row['i']]!r}\n got {got_errs}\n exp {exp_errs}"
    return v


MIXED_DOCS = [
    None, "null", "5", "5.0", "5.5", '"abc"', "true", "[]", "{}",
    '{"k": 5}', '{"k": 5.0}', '{"k": 5.5}', '{"k": "x"}', '{"k": null}',
    '{"k": true}', '{"k": [1, 2]}', '{"k": {"a": 1}}',
    '{"k": 101, "extra": 1}', '{"k": -3}', '{"k": 0}', '{"k": 100}',
    '{"other": "y"}', '{"k": 1e2}', '{"k": 2.000001}',
]


class TestEventsShape:
    RULESET = {"type": "object", "required": ["k"],
               "properties": {"k": {"type": "integer",
                                    "minimum": 0, "maximum": 100}}}

    def test_parity(self, spark):
        _check(spark, MIXED_DOCS, self.RULESET)


class TestKeywords:
    def test_string_keywords(self, spark):
        rs = {"properties": {"s": {"type": "string", "minLength": 2,
                                   "maxLength": 4, "pattern": "^a"}}}
        docs = ['{"s": "a"}', '{"s": "ab"}', '{"s": "abcde"}',
                '{"s": "xbc"}', '{"s": 5}', '{"s": null}', '{}',
                '{"s": "aé☃"}']
        _check(spark, docs, rs)

    def test_enum_const(self, spark):
        rs = {"properties": {"e": {"enum": ["a", 1, 2.5, True, None]},
                             "c": {"const": 3}}}
        docs = ['{"e": "a"}', '{"e": 1}', '{"e": 1.0}', '{"e": 2.5}',
                '{"e": true}', '{"e": false}', '{"e": null}', '{"e": "b"}',
                '{"c": 3}', '{"c": 3.0}', '{"c": 4}', '{"c": "3"}']
        _check(spark, docs, rs)

    def test_numeric_keywords(self, spark):
        rs = {"properties": {"n": {"exclusiveMinimum": 0,
                                   "exclusiveMaximum": 10,
                                   "multipleOf": 0.5}}}
        docs = ['{"n": 0}', '{"n": 0.5}', '{"n": 5}', '{"n": 9.5}',
                '{"n": 10}', '{"n": 3.3}', '{"n": "x"}', '{"n": 2}']
        _check(spark, docs, rs)

    def test_object_shape(self, spark):
        rs = {"type": "object", "required": ["a"],
              "minProperties": 1, "maxProperties": 3,
              "properties": {"a": {"type": "number"}},
              "patternProperties": {"^x_": {"type": "string"}},
              "additionalProperties": False}
        docs = ['{}', '{"a": 1}', '{"a": "s"}', '{"a": 1, "x_b": "ok"}',
                '{"a": 1, "x_b": 2}', '{"a": 1, "zz": 1}',
                '{"a": 1, "b": 2, "c": 3, "d": 4}', '[1]', '"s"']
        _check(spark, docs, rs)

    def test_additional_properties_schema(self, spark):
        rs = {"properties": {"a": {"type": "integer"}},
              "additionalProperties": {"type": "string"}}
        docs = ['{"a": 1, "b": "ok"}', '{"a": 1, "b": 2}',
                '{"b": "x", "c": []}', '{}']
        _check(spark, docs, rs)

    def test_arrays(self, spark):
        rs = {"properties": {"xs": {
            "type": "array", "minItems": 1, "maxItems": 4,
            "items": {"type": "integer", "minimum": 0},
            "contains": {"type": "integer", "minimum": 5}}}}
        docs = ['{"xs": []}', '{"xs": [1]}', '{"xs": [5]}',
                '{"xs": [1, 2, 3, 4, 5]}', '{"xs": [1, "a"]}',
                '{"xs": [-1, 7]}', '{"xs": 3}', '{"xs": [1.0, 6.0]}']
        _check(spark, docs, rs)

    def test_positional_items(self, spark):
        rs = {"properties": {"t": {
            "items": [{"type": "string"}, {"type": "integer"}],
            "additionalItems": False}}}
        docs = ['{"t": ["a", 1]}', '{"t": ["a"]}', '{"t": [1, "a"]}',
                '{"t": ["a", 1, 2]}', '{"t": []}']
        _check(spark, docs, rs)

    def test_combinators(self, spark):
        rs = {"properties": {"v": {
            "anyOf": [{"type": "integer"}, {"type": "string",
                                            "minLength": 3}],
            "not": {"const": 13}}},
            "if": {"required": ["v"]},
            "then": {"required": ["w"]}}
        docs = ['{"v": 5, "w": 1}', '{"v": 5}', '{"v": "abc", "w": 1}',
                '{"v": "ab", "w": 1}', '{"v": 13, "w": 1}',
                '{"v": 2.5, "w": 1}', '{}']
        _check(spark, docs, rs)

    def test_one_of_and_ref(self, spark):
        rs = {"definitions": {"pos": {"type": "number",
                                      "exclusiveMinimum": 0}},
              "properties": {"p": {"$ref": "#/definitions/pos"},
                             "q": {"oneOf": [{"type": "integer"},
                                             {"minimum": 10}]}}}
        docs = ['{"p": 1}', '{"p": -1}', '{"p": "x"}',
                '{"q": 5}', '{"q": 10.5}', '{"q": 12}', '{"q": 9.5}']
        _check(spark, docs, rs)

    def test_nested_states_byte_parity(self, spark):
        """any_of containing one_of: the nested states payload (a JSON
        string embedded inside the outer states) must be byte-equal
        between walker and column plan at every nesting depth."""
        rs = {"properties": {"v": {
            "anyOf": [{"type": "string"},
                      {"oneOf": [{"type": "integer", "minimum": 10},
                                 {"type": "number", "maximum": 1}]}]}}}
        docs = ['{"v": "ok"}', '{"v": 5}', '{"v": 0.5}', '{"v": 15}',
                '{"v": true}', '{"v": 0}', '{"v": [1]}']
        _check(spark, docs, rs)

    def test_dependencies(self, spark):
        rs = {"dependencies": {"a": ["b"],
                               "c": {"required": ["d"]}}}
        docs = ['{}', '{"a": 1}', '{"a": 1, "b": 1}', '{"c": 1}',
                '{"c": 1, "d": 1}', '{"b": 1}']
        _check(spark, docs, rs)

    @pytest.mark.parametrize("rs", [
        # ``dependencies`` present: the walker applies it alone
        {"dependencies": {"a": ["b"]},
         "dependentRequired": {"a": ["c"]},
         "dependentSchemas": {"a": {"required": ["d"]}}},
        {"dependencies": {"a": ["b"]},
         "dependentRequired": {"c": ["d"]},
         "dependentSchemas": {"e": {"required": ["b"]}}},
        # absent: both of the 2019-09 keywords apply
        {"dependentRequired": {"a": ["b"]},
         "dependentSchemas": {"a": {"required": ["c"]},
                              "e": {"required": ["d"]}}},
        # the evaluated set reads the same entries
        {"properties": {"a": {}},
         "dependencies": {"a": {"properties": {"b": {}}}},
         "dependentSchemas": {"a": {"properties": {"c": {}}}},
         "unevaluatedProperties": False},
    ])
    def test_dependencies_beside_dependent_keywords(self, spark, rs):
        """Both lanes read the dependency keywords as the walker does."""
        from valico_spark.compiler.pyvalidator import DRAFT2019
        from valico_spark.operators.validate import validate_dataframe

        keys = "abcde"
        docs = [{k: 1 for k in keys[:n]} for n in range(len(keys) + 1)]
        docs += [{"a": 1, k: 1} for k in "cde"] + [{"e": 1}, {"c": 1}]
        scope = Scope(version=DRAFT2019)
        sid = scope.compile(rs)
        exp = []
        for d in docs:
            state = scope.validate(sid, d)
            exp.append((state.is_valid(), sorted(
                (e.code, e.path, e.detail or "") for e in state.errors)))
        assert {v for v, _ in exp} == {True, False}
        rows = [(i, json.dumps(d), *(d.get(k) for k in keys))
                for i, d in enumerate(docs)]
        df = spark.createDataFrame(
            rows, "i long, j string, " + ", ".join(f"{k} long" for k in keys))
        lanes = {
            "variant": validate_json_column(df.select("i", "j"), "j", rs,
                                            version=DRAFT2019,
                                            mode="variant"),
            # the typed frame holds the document's keys alone, in order
            "typed": validate_dataframe(df.select(*keys), rs,
                                        version=DRAFT2019, mode="columns"),
        }
        for lane, v in lanes.items():
            got = v.select("valid", "violations").collect()
            assert [(r["valid"], sorted(
                (e["code"], e["path"], e["detail"] or "")
                for e in r["violations"])) for r in got] == exp, lane


class TestUnsupportedFallsBack:
    def test_unique_items_raises_then_auto_falls_back(self, spark):
        rs = {"properties": {"xs": {"uniqueItems": True}}}
        df = spark.createDataFrame([('{"xs": [1, 1]}',)], "j string")
        with pytest.raises(UnsupportedRule):
            validate_json_column(df, "j", rs, mode="variant")
        out = validate_json_column(df, "j", rs, mode="auto").collect()
        assert out[0]["valid"] is False


class TestUnknownMode:
    """A misspelt mode raises ValueError naming the accepted values
    before any Spark job runs, instead of running the ungated walker."""

    @staticmethod
    def _assert_rejected_without_a_job(spark, call, accepted):
        tracker = spark.sparkContext.statusTracker()
        before = len(tracker.getJobIdsForGroup(None))
        with pytest.raises(ValueError, match=re.escape(repr(accepted))):
            call(spark.range(1).select(F.lit("{}").alias("j")))
        assert len(tracker.getJobIdsForGroup(None)) == before

    def test_validate_dataframe(self, spark):
        from valico_spark.operators.validate import validate_dataframe

        self._assert_rejected_without_a_job(
            spark, lambda df: validate_dataframe(df, {}, mode="colums"),
            ("auto", "columns", "arrow"))

    def test_validate_json_column(self, spark):
        self._assert_rejected_without_a_job(
            spark,
            lambda df: validate_json_column(df, "j", {}, mode="Variant"),
            ("auto", "variant", "arrow"))


def _rand_doc(rnd: random.Random):
    def val(depth=0):
        kinds = ["int", "float", "str", "bool", "null"]
        if depth < 2:
            kinds += ["obj", "arr"]
        k = rnd.choice(kinds)
        if k == "int":
            return rnd.randint(-20, 120)
        if k == "float":
            return round(rnd.uniform(-5, 110), rnd.randint(0, 2))
        if k == "str":
            return "".join(rnd.choice("abxyz_ ") for _ in
                           range(rnd.randint(0, 6)))
        if k == "bool":
            return rnd.random() < 0.5
        if k == "null":
            return None
        if k == "arr":
            return [val(depth + 1) for _ in range(rnd.randint(0, 4))]
        return {kk: val(depth + 1)
                for kk in rnd.sample(["k", "s", "n", "x_a", "zz"],
                                     rnd.randint(0, 4))}
    return json.dumps(val())


FUZZ_RULESET = {
    "type": "object",
    "required": ["k"],
    "properties": {
        "k": {"type": ["integer", "string"], "minimum": 0, "maximum": 100,
              "minLength": 1, "maxLength": 5},
        "s": {"anyOf": [{"type": "string", "pattern": "a"},
                        {"type": "number", "multipleOf": 2}]},
        "n": {"type": "number", "exclusiveMaximum": 50},
    },
    "patternProperties": {"^x_": {"type": ["array", "null"],
                                  "items": {"type": "integer"},
                                  "maxItems": 3}},
    "additionalProperties": {"type": ["object", "boolean"],
                             "minProperties": 1},
}


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_fuzz_variant_vs_walker(spark, seed):
    rnd = random.Random(seed)
    docs = [_rand_doc(rnd) for _ in range(300)]
    _check(spark, docs, FUZZ_RULESET)


FUZZ_UNIQUE_RULESET = {
    "type": "object",
    "properties": {
        "k": {"uniqueItems": True, "maxItems": 4},
        "s": {"type": ["array", "integer"], "uniqueItems": True},
    },
    "patternProperties": {"^x_": {"uniqueItems": True,
                                  "minItems": 1}},
}


@pytest.mark.parametrize("seed", [11, 12, 13])
def test_fuzz_unique_items_variant_vs_walker(spark, seed):
    """Random docs (scalar AND composite array elements) through the
    auto path, which is the gated walker stage for this ruleset:
    violation rows byte-equal to the walker. The ungated walker stage
    runs on the same corpus in
    ``test_fuzz_unique_items_ungated_walker_stage``."""
    rnd = random.Random(seed)
    docs = [_rand_doc(rnd) for _ in range(300)]
    _check(spark, docs, FUZZ_UNIQUE_RULESET, force=False)


def test_fuzz_unique_items_ungated_walker_stage(spark):
    """The same corpus outside the walker's gate (contentMediaType has no
    exact boolean form). The VARIANT plan refuses uniqueItems, so
    ``auto`` plans the whole ruleset as the ungated walker stage, with
    rows equal to the walker's. Without uniqueItems the same ungated
    ruleset compiles, and ``auto`` plans the VARIANT plan."""
    rs = dict(FUZZ_UNIQUE_RULESET, contentMediaType="application/json")
    scope = Scope()
    assert not scope.gate(scope.compile(rs))[1]
    assert_walker_stage_only(
        _check(spark, _fuzz_corpus([11, 12, 13]), rs, force=False))

    no_unique = dict(rs, properties={"k": {"maxItems": 4}},
                     patternProperties={"^x_": {"minItems": 1}})
    assert not scope.gate(scope.compile(no_unique))[1]
    df = spark.createDataFrame([("[]",)], "j string")
    plan = _executed_plan(validate_json_column(df, "j", no_unique))
    assert "parseJson" in plan and "MapInArrow" not in plan, plan


class TestCompositeAndNames:
    def test_composite_enum_const(self, spark):
        rs = {"properties": {
            "e": {"enum": [[1, 2], {"a": 1}, "x", 5]},
            "c": {"const": {"a": [1.5, None]}}}}
        docs = ['{"e": [1, 2]}', '{"e": [1.0, 2]}', '{"e": [2, 1]}',
                '{"e": {"a": 1}}', '{"e": {"a": 1.0}}',
                '{"e": {"a": 1, "b": 2}}', '{"e": 5}', '{"e": 5.0}',
                '{"c": {"a": [1.5, null]}}', '{"c": {"a": [1.5]}}',
                '{"c": {"a": [1.5, null], "b": 1}}']
        _check(spark, docs, rs)

    def test_property_names(self, spark):
        rs = {"propertyNames": {"maxLength": 3, "pattern": "^[a-z]"}}
        docs = ['{"ab": 1, "cde": 2}', '{"abcd": 1}', '{"Xab": 1}',
                '{}', '[1]', '{"a": 1, "toolong": 2}']
        _check(spark, docs, rs)

    def test_content_media(self, spark):
        rs = {"properties": {
            "b": {"contentEncoding": "base64"},
            "j": {"contentMediaType": "application/json"},
            "bj": {"contentEncoding": "base64",
                   "contentMediaType": "application/json"}}}
        docs = ['{"b": "aGVsbG8="}', '{"b": "not*b64"}',
                '{"j": "{\\"a\\":1}"}', '{"j": "{"}', '{"j": 5}',
                '{"bj": "eyJhIjogMX0="}', '{"bj": "aGVsbG8="}']
        _check(spark, docs, rs)


class TestUnevaluatedVariant:
    def test_unevaluated_properties(self, spark):
        rs = {"properties": {"a": {"type": "integer"}},
              "patternProperties": {"^x_": {"type": "string"}},
              "anyOf": [{"properties": {"b": {"type": "integer"}},
                         "required": ["b"]},
                        {"properties": {"c": {"type": "string"}},
                         "required": ["c"]}],
              "unevaluatedProperties": False}
        docs = ['{"a": 1, "b": 2}', '{"a": 1, "b": 2, "z": 3}',
                '{"a": 1, "c": "s", "x_k": "v"}', '{"a": 1}',
                '{"b": 2, "c": "s", "d": 4}', '{"a": "bad", "b": 2}',
                '{"b": "bad", "c": "s"}', '[1]', '{}']
        _check(spark, docs, rs, force=True)

    def test_unevaluated_properties_schema_and_ifthen(self, spark):
        rs = {"if": {"required": ["mode"],
                     "properties": {"mode": {"const": "x"}}},
              "then": {"properties": {"xval": {"type": "integer"}}},
              "else": {"properties": {"yval": {"type": "integer"}}},
              "properties": {"mode": {"type": "string"}},
              "unevaluatedProperties": {"type": "boolean"}}
        docs = ['{"mode": "x", "xval": 1}', '{"mode": "x", "yval": 1}',
                '{"mode": "y", "yval": 1}', '{"mode": "y", "xval": true}',
                '{"mode": "x", "extra": true}',
                '{"mode": "x", "extra": 3}', '{}']
        _check(spark, docs, rs, force=True)

    def test_unevaluated_items(self, spark):
        rs = {"properties": {"t": {
            "items": [{"type": "string"}],
            "anyOf": [{"items": [True, {"type": "integer"}]},
                      {"items": [True, True, {"type": "boolean"}]}],
            "unevaluatedItems": False}}}
        docs = ['{"t": ["a"]}', '{"t": ["a", 1]}', '{"t": ["a", 1, 2]}',
                '{"t": ["a", "b", true]}', '{"t": ["a", 1, true]}',
                '{"t": []}', '{"t": ["a", true, true, 4]}']
        _check(spark, docs, rs, force=True)

    def test_unevaluated_with_recursion_falls_back(self, spark):
        rs = {"properties": {"n": {"$ref": "#"}},
              "unevaluatedProperties": False}
        docs = ['{"n": {}}', '{"n": {"z": 1}}', '{"z": 1}']
        # auto mode must still produce walker-correct answers
        _check(spark, docs, rs, force=False)


@pytest.mark.parametrize("seed", [5, 19])
def test_fuzz_unevaluated_variant_vs_walker(spark, seed):
    """The struct-target unevaluated fuzz grammar, replayed over raw JSON
    through the variant plan."""
    from test_unevaluated_static import FIELDS, gen_root

    rnd = random.Random(seed)

    def gen_doc():
        doc = {}
        for k in FIELDS:
            if rnd.random() < 0.6:
                doc[k] = rnd.choice([0, 1, 5, "a", "ab", 1.5, True, None])
        if rnd.random() < 0.2:
            doc["zz"] = rnd.choice([1, "z"])
        return json.dumps(doc)

    checked = 0
    for _ in range(25):
        rs = gen_root(rnd)
        docs = [gen_doc() for _ in range(60)]
        try:
            _check(spark, docs, rs, force=True)
        except UnsupportedRule:
            continue
        checked += 1
    assert checked >= 15, checked


class TestUniqueItemsVariant:
    RS = {"properties": {"xs": {"uniqueItems": True}}}
    # outside the walker's gate, and refused by the VARIANT plan, so
    # auto takes the ungated walker stage
    UNGATED = dict(RS, contentMediaType="application/json")

    def _check_lanes(self, spark, docs):
        _check(spark, docs, self.RS, force=False)
        assert_walker_stage_only(
            _check(spark, docs, self.UNGATED, force=False))

    def test_scalar_arrays_compile_serde_strict(self, spark):
        docs = [
            '{"xs": [1, 2, 3]}',          # unique ints
            '{"xs": [1, 1]}',             # dup ints
            '{"xs": [1, 1.0]}',           # serde-strict: int != float
            '{"xs": [1.0, 1.00]}',        # same f64 twice -> dup
            '{"xs": [1.0, 1.5]}',
            '{"xs": [true, 1]}',          # bool != number
            '{"xs": [true, false, true]}',
            '{"xs": ["1", 1]}',           # string != number
            '{"xs": ["a", "a"]}',
            '{"xs": [null, null]}',
            '{"xs": [0.0, -0.0]}',        # rust f64 ==: -0.0 is a dup
            '{"xs": [-0.0e0, 0.0]}',      # DOUBLE-typed negative zero
            '{"xs": [-0.0e0, 0.0e0]}',    # both exponent-form zeros
            '{"xs": [1e2, 100.0]}',       # same f64 via different forms
            '{"xs": [1e2, 100]}',         # float vs int distinct
            '{"xs": []}', '{"xs": 7}', '{}',
        ]
        # auto mode on both walker stages (gated and ungated): verdicts
        # and violation rows must equal the walker byte-for-byte
        self._check_lanes(spark, docs)

    def test_composites_reroute_and_match_walker(self, spark):
        docs = [
            '{"xs": [[1], [1.0]]}',       # nested strict: NOT dup
            '{"xs": [[1], [1]]}',         # dup arrays
            '{"xs": [{"a": 1}, {"a": 2}]}',
            '{"xs": [{"a": 1}, {"a": 1}]}',
            '{"xs": [{}, [1], true, null, 1]}',
            '{"xs": [18446744073709551615, 18446744073709551615]}',
        ]
        self._check_lanes(spark, docs)


# -- gate soundness and plan shape -------------------------------------------

def _assert_gate_sound(spark, docs, ruleset, version=None) -> bool:
    """The gated violations equal the ungated tree element for element
    (order included), and the gate is exact: it holds on exactly the rows
    whose tree is empty. Returns whether the ruleset has a gate to
    compare (ok not None) and a valid row to send through it."""
    from valico_spark.compiler.pyvalidator import DRAFT7
    from valico_spark.compiler.variantcolumns import (
        compile_variant_ruleset, gated, parse_documents,
    )

    viol, ok = compile_variant_ruleset(ruleset, F.col("doc"),
                                       version=version or DRAFT7)
    if ok is None:
        return False
    df = spark.createDataFrame([(i, d) for i, d in enumerate(docs)],
                               "i long, j string")
    rows = (df.withColumn("doc", parse_documents(F.col("j")))
            .select("i", viol.alias("full"), ok.alias("ok"),
                    gated(viol, ok).alias("gated")).collect())
    for r in rows:
        assert r["gated"] == r["full"], (docs[r["i"]], r["full"])
        if r["ok"]:
            assert r["full"] == [], (docs[r["i"]], r["full"])
        assert r["ok"] == (r["full"] == []), (docs[r["i"]], r["full"])
    if all(r["full"] for r in rows):
        return False  # no valid row: nothing compared
    # the gate is not vacuous: some rows take it
    assert any(r["ok"] for r in rows), ruleset
    return True


def _fuzz_corpus(seeds) -> list:
    docs = []
    for seed in seeds:
        rnd = random.Random(seed)
        docs += [_rand_doc(rnd) for _ in range(300)]
    return docs


def test_gate_sound_fuzz(spark):
    assert _assert_gate_sound(spark, _fuzz_corpus([1, 2, 3]),
                              FUZZ_RULESET)


@pytest.mark.parametrize("seed", [5, 19])
def test_gate_sound_unevaluated_fuzz(spark, seed):
    """A root ``unevaluatedProperties`` has no boolean form, so the
    generated rulesets take the full tree; each is also checked with the
    root keyword removed, which compares the gates built under
    allOf / anyOf / dependentSchemas (and nested unevaluated*)."""
    from test_unevaluated_static import FIELDS, gen_root

    from valico_spark.compiler.pyvalidator import DRAFT2019

    rnd = random.Random(seed)

    def gen_doc():
        doc = {}
        for k in FIELDS:
            if rnd.random() < 0.6:
                doc[k] = rnd.choice([0, 1, 5, "a", "ab", 1.5, True, None])
        if rnd.random() < 0.2:
            doc["zz"] = rnd.choice([1, "z"])
        return json.dumps(doc)

    compared = 0
    for _ in range(25):
        rs = gen_root(rnd)
        stripped = {k: v for k, v in rs.items()
                    if k != "unevaluatedProperties"}
        docs = [gen_doc() for _ in range(60)]
        try:
            for schema in (rs, stripped):
                compared += _assert_gate_sound(spark, docs, schema,
                                               version=DRAFT2019)
        except UnsupportedRule:
            continue
    assert compared >= 12, compared


@pytest.mark.parametrize("ruleset", [
    {"not": {"type": "string"}},
    {"oneOf": [{"type": "integer", "minimum": 10},
               {"type": "string", "maxLength": 3},
               {"type": "object", "required": ["k"]}]},
    {"if": {"type": "object", "required": ["k"]},
     "then": {"properties": {"k": {"type": "integer"}}},
     "else": {"type": ["array", "string"]}},
])
def test_combinator_gates_exact(spark, ruleset):
    """``not`` / ``oneOf`` / ``if`` read their branches' exact gates, so
    the root has a gate, and per row it equals the walker's verdict."""
    from valico_spark.compiler.variantcolumns import (
        compile_variant_ruleset, parse_documents,
    )

    docs = MIXED_DOCS[1:] + _fuzz_corpus([4])[:150]
    _, ok = compile_variant_ruleset(ruleset, F.col("doc"))
    assert ok is not None
    assert _assert_gate_sound(spark, docs, ruleset)
    rows = (spark.createDataFrame([(i, d) for i, d in enumerate(docs)],
                                  "i long, j string")
            .withColumn("doc", parse_documents(F.col("j")))
            .select("i", ok.alias("ok")).collect())
    expected = _oracle(docs, ruleset)
    assert {r["i"]: r["ok"] for r in rows} == \
        {i: valid for i, (valid, _) in enumerate(expected)}


def test_count_view_is_violation_count(spark):
    """The VARIANT count view counts the violations without building
    them: it equals ``size(violations)`` on every row of the fuzz
    corpus."""
    from valico_spark.compiler.variantcolumns import (
        VariantCompiler, VariantTarget, parse_documents,
    )

    docs = _fuzz_corpus([1, 2])
    df = (spark.createDataFrame([(i, d) for i, d in enumerate(docs)],
                                "i long, j string")
          .withColumn("doc", parse_documents(F.col("j"))))
    most = []
    for ruleset in (FUZZ_RULESET, {"oneOf": [FUZZ_RULESET, {"not": {}}]}):
        checked = VariantCompiler(root_schema=ruleset).compile(
            ruleset, VariantTarget(F.col("doc"), F.lit("")))
        rows = df.select(F.size(checked.viol()).alias("size"),
                         checked.count().alias("count")).collect()
        assert all(r["size"] == r["count"] for r in rows)
        most.append(max(r["count"] for r in rows))
    assert most[0] > 1 and most[1] == 1, most


def test_docs_ruleset_plan_counts(spark, tmp_path):
    """The VARIANT lane parses each row once, in the verdict plan and in
    the violation-row plan alike, and reads ``schema_of_variant`` only
    at the scalar nodes (one site per scalar node and tree). ``auto``
    serves the ruleset (the walker's gate covers it) from one Python
    Arrow stage with no VARIANT expression at all."""
    from valico_spark.operators.validate import violation_rows
    from valico_spark.rulesets import DOCS_RULESET

    docs = [{"doc_id": "p01-0000000001",
             "spans": [{"kind": "text", "offset": 0, "text": "hi"}]},
            {"doc_id": "bad", "spans": []},
            {"doc_id": "p02-0000000002",
             "spans": [{"kind": "image", "offset": -1,
                        "media_ref": "m00000001"}]}]
    path = str(tmp_path / "docs")
    spark.createDataFrame([(d["doc_id"], json.dumps(d)) for d in docs],
                          "doc_id string, json string"
                          ).write.parquet(path)
    def plan(df) -> str:
        return df.select("*")._jdf.queryExecution().executedPlan() \
            .toString()

    validated = validate_json_column(spark.read.parquet(path), "json",
                                     DOCS_RULESET, mode="variant")
    rows = violation_rows(validated, ["doc_id"])
    for df in (validated, rows):
        assert len(re.findall(r"\.parseJson\(", plan(df))) == 1, plan(df)
        assert len(re.findall(r"\.schemaOfVariant\(", plan(df))) <= 10, \
            plan(df)
    assert [r["valid"] for r in validated.orderBy("doc_id").collect()] \
        == [False, True, False]
    assert rows.count() == 4

    auto = validate_json_column(spark.read.parquet(path), "json",
                                DOCS_RULESET)
    auto_rows = violation_rows(auto, ["doc_id"])
    for df in (auto, auto_rows):
        assert len(re.findall(r"\bMapInArrow\b", plan(df))) == 1, plan(df)
        assert not re.search(r"\.(parseJson|schemaOfVariant)\(",
                             plan(df)), plan(df)
    assert sorted(auto.collect()) == sorted(validated.collect())
    assert sorted(auto_rows.collect()) == sorted(rows.collect())


# -- the gated walker lane ----------------------------------------------------

def _walker_rows(docs, ruleset):
    """The walker on the null contract (``load_document``): per document,
    (valid, the violation rows in the walker's order)."""
    from valico_spark.compiler.pyvalidator import load_document

    scope = Scope()
    sid = scope.compile(ruleset)
    out = []
    for doc in docs:
        errors = scope.validate(sid, load_document(doc)).errors
        out.append((not errors, [(e.code, e.title, e.path, e.detail,
                                  e.states) for e in errors]))
    return out


def _lane_rows(spark, docs, ruleset, mode):
    df = spark.createDataFrame([(i, d) for i, d in enumerate(docs)],
                               "i long, j string")
    v = validate_json_column(df, "j", ruleset, mode=mode)
    return [(r["valid"], [tuple(e) for e in r["violations"]])
            for r in v.orderBy("i").collect()], v


PARSE_CONTRACT_DOCS = [
    None, "", "   ", '{"doc_id": "x"', '{"doc_id": NaN}', "NaN",
    "Infinity", "-Infinity", '[1, -Infinity]', '{"a": 1} {"b": 2}',
    '{"doc_id": "p01-0000000001", "spans": [{"kind": "text", '
    '"offset": 0}]}',
    # duplicate keys keep the last value (serde_json's rule)
    '{"doc_id": "p01-0000000001", "doc_id": "bad", '
    '"spans": [{"kind": "text", "offset": 0}]}',
    '{"doc_id": "bad", "doc_id": "p01-0000000001", '
    '"spans": [{"kind": "text", "offset": 0}]}',
]


def test_arrow_lane_parse_contract(spark):
    """A malformed document, or one using NaN / Infinity, validates as
    JSON null on the walker lanes instead of failing the job; ``auto``
    (the gated stage for this ruleset) equals ``arrow``."""
    from valico_spark.rulesets import DOCS_RULESET

    exp = _walker_rows(PARSE_CONTRACT_DOCS, DOCS_RULESET)
    arrow, _ = _lane_rows(spark, PARSE_CONTRACT_DOCS, DOCS_RULESET,
                          "arrow")
    auto, _ = _lane_rows(spark, PARSE_CONTRACT_DOCS, DOCS_RULESET, "auto")
    assert arrow == exp
    assert auto == arrow
    null = exp[0]
    assert not null[0] and [r[0] for r in null[1]] == ["wrong_type"]
    assert exp[1:10] == [null] * 9
    assert [v for v, _ in exp[10:]] == [True, False, True]


def _linked_list_docs():
    from test_metaschema_recursion import _chain

    return [_chain(3), _chain(3, bad_at=2), _chain(12), _chain(30),
            _chain(30, bad_at=25), _chain(60), _chain(1), '{"v": "x"}',
            '{}', '{"v": 1, "next": []}', None]


def _gate_corpora():
    from test_metaschema_recursion import LINKED_LIST

    return {
        "mixed": (MIXED_DOCS, TestEventsShape.RULESET),
        "fuzz": (_fuzz_corpus([1, 2, 3]), FUZZ_RULESET),
        "fuzz_unique": (_fuzz_corpus([11, 12, 13]), FUZZ_UNIQUE_RULESET),
        # recursion runs exactly on the walker: no unroll, no residual
        "linked_list": (_linked_list_docs(), LINKED_LIST),
    }


@pytest.mark.parametrize("corpus", ["mixed", "fuzz", "fuzz_unique",
                                    "linked_list"])
def test_gated_walker_lane(spark, corpus):
    """The walker's gate covers each ruleset and is exact on each corpus
    (a document passes iff the walker finds it valid), some documents
    take it, and ``auto`` serves the ruleset from the gated stage with
    output equal to the walker's, element for element."""
    from valico_spark.compiler.pyvalidator import load_document

    docs, ruleset = _gate_corpora()[corpus]
    scope = Scope()
    sid = scope.compile(ruleset)
    passes, covers = scope.gate(sid)
    assert covers
    taken = 0
    for doc in docs:
        value = load_document(doc)
        ok = passes(value)
        assert ok == scope.validate(sid, value).is_valid(), doc
        taken += ok
    assert 0 < taken < len(docs), (taken, len(docs))

    got, validated = _lane_rows(spark, docs, ruleset, "auto")
    plan = validated._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan and "parseJson" not in plan, plan
    assert got == _walker_rows(docs, ruleset)
    _check(spark, docs, ruleset, force=False)
