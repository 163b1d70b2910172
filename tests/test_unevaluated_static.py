"""Static unevaluatedProperties compilation vs the walker (hard part #1).

The evaluated set is success-conditioned and branch-dependent; for typed
structs the column compiler derives one boolean per key. Fuzz: random
rulesets mixing properties / patternProperties / additionalProperties /
allOf / anyOf / oneOf / if-then-else / dependentSchemas under
``unevaluatedProperties`` false-or-schema must reproduce the walker's
verdicts and (code, path) multisets exactly.
"""

import json
import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from valico_spark.compiler.columns import UnsupportedRule, compile_ruleset
from valico_spark.compiler.pyvalidator import DRAFT2019, Scope

ROW_TYPE = T.StructType([
    T.StructField("id", T.LongType(), False),
    T.StructField("a", T.LongType(), True),
    T.StructField("b", T.StringType(), True),
    T.StructField("c", T.DoubleType(), True),
    T.StructField("s_x", T.StringType(), True),
])

FIELDS = ["a", "b", "c", "s_x"]


def prop_schema(rnd):
    return rnd.choice([
        {"type": "integer"}, {"type": "string"}, {"type": "number"},
        {"minimum": 0}, {"minLength": 2}, {}, {"maximum": 3},
    ])


def gen_branch(rnd):
    kind = rnd.random()
    if kind < 0.55:
        ks = rnd.sample(FIELDS, rnd.randint(1, 3))
        out = {"properties": {k: prop_schema(rnd) for k in ks}}
        if rnd.random() < 0.4:
            out["required"] = rnd.sample(ks, 1)
        # round 3: nested-in-combinator unevaluatedProperties compiles
        # (annotation-propagation rule) — fuzz it
        if rnd.random() < 0.25:
            out["unevaluatedProperties"] = rnd.choice(
                [True, False, {"type": "integer"}])
        return out
    if kind < 0.7:
        return {"patternProperties": {"^s_": prop_schema(rnd)}}
    if kind < 0.85:
        return {"properties": {rnd.choice(FIELDS): prop_schema(rnd)},
                "additionalProperties": rnd.choice(
                    [True, prop_schema(rnd)])}
    if kind < 0.93:
        return {"unevaluatedProperties": rnd.choice(
            [True, {"type": "integer"}, {"maximum": 1}])}
    return {"required": rnd.sample(FIELDS, 1)}


def gen_root(rnd):
    out = {"type": "object"}
    if rnd.random() < 0.7:
        ks = rnd.sample(FIELDS, rnd.randint(0, 2))
        if ks:
            out["properties"] = {k: prop_schema(rnd) for k in ks}
    r = rnd.random()
    if r < 0.3:
        out["allOf"] = [gen_branch(rnd) for _ in range(rnd.randint(1, 2))]
    elif r < 0.55:
        out["anyOf"] = [gen_branch(rnd) for _ in range(rnd.randint(1, 3))]
    elif r < 0.75:
        out["oneOf"] = [gen_branch(rnd) for _ in range(rnd.randint(1, 3))]
    elif r < 0.9:
        out["if"] = gen_branch(rnd)
        if rnd.random() < 0.8:
            out["then"] = gen_branch(rnd)
        if rnd.random() < 0.5:
            out["else"] = gen_branch(rnd)
    if rnd.random() < 0.25:
        out["dependentSchemas"] = {rnd.choice(FIELDS): gen_branch(rnd)}
    out["unevaluatedProperties"] = rnd.choice(
        [False, False, False, {"type": "integer"}, {"maximum": 1}])
    return out


def gen_row(rnd, rid):
    def maybe(v):
        return None if rnd.random() < 0.35 else v
    return (rid, maybe(rnd.choice([0, 1, 2, 5])),
            maybe(rnd.choice(["a", "ab", "abc"])),
            maybe(rnd.choice([0.0, 1.5, 3.0, 4.0])),
            maybe(rnd.choice(["x", "yy"])))


@pytest.mark.parametrize("seed", [3, 77])
def test_unevaluated_static_vs_walker(spark, seed):
    rnd = random.Random(seed)
    rows = [gen_row(rnd, i) for i in range(100)]
    # materialized once, so each ruleset's job below runs no Python stage
    df = spark.createDataFrame(rows, ROW_TYPE).localCheckpoint()
    data_schema = T.StructType([f for f in ROW_TYPE.fields
                                if f.name != "id"])
    json_rows = {r["id"]: r["doc"] for r in df.select(
        "id", F.to_json(F.struct(*FIELDS)).alias("doc")).collect()}

    checked = 0
    for k in range(30):
        ruleset = gen_root(rnd)
        try:
            viol = compile_ruleset(ruleset, data_schema, version=DRAFT2019)
        except UnsupportedRule:
            continue
        out = df.select("id", viol.alias("violations")).collect()
        scope = Scope(version=DRAFT2019)
        sid = scope.compile(ruleset)
        for r in out:
            doc = json.loads(json_rows[r["id"]])
            state = scope.validate(sid, doc)
            exp = sorted((e.code, e.path) for e in state.errors)
            got = sorted((v["code"], v["path"]) for v in r["violations"])
            assert got == exp, (
                f"seed={seed} ruleset#{k} id={r['id']}\n"
                f"ruleset={json.dumps(ruleset)}\ndoc={doc}\n"
                f"got={got}\nexp={exp}")
        checked += 1
    assert checked >= 20, checked


def test_unevaluated_simple_cases(spark):
    df = spark.createDataFrame(
        [(1, 5, "x"), (2, None, "x"), (3, 5, None)],
        T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("a", T.LongType(), True),
            T.StructField("b", T.StringType(), True)]))
    schema = T.StructType([T.StructField("a", T.LongType(), True),
                           T.StructField("b", T.StringType(), True)])
    ruleset = {"properties": {"a": {"type": "integer"}},
               "unevaluatedProperties": False}
    viol = compile_ruleset(ruleset, schema, version=DRAFT2019)
    out = {r["id"]: sorted((v["code"], v["path"]) for v in r["violations"])
           for r in df.select("id", viol.alias("violations")).collect()}
    assert out[1] == [("unevaluated", "/b")]   # b present, unevaluated
    assert out[2] == [("unevaluated", "/b")]   # a absent, b unevaluated
    assert out[3] == []                        # only a present, evaluated

    # a property whose subschema FAILS is NOT evaluated → both errors
    ruleset2 = {"properties": {"a": {"maximum": 1}},
                "unevaluatedProperties": False}
    viol2 = compile_ruleset(ruleset2, schema, version=DRAFT2019)
    out2 = {r["id"]: sorted((v["code"], v["path"])
                            for v in r["violations"])
            for r in df.select("id", viol2.alias("violations")).collect()}
    assert out2[3] == [("maximum", "/a"), ("unevaluated", "/a")]


ARR_TYPE = T.StructType([
    T.StructField("id", T.LongType(), False),
    T.StructField("arr", T.ArrayType(T.LongType()), True),
])


def gen_items_branch(rnd):
    r = rnd.random()
    if r < 0.4:
        return {"items": rnd.choice([
            {"minimum": 2}, {"maximum": 3}, {"type": "integer"}])}
    if r < 0.7:
        n = rnd.randint(1, 3)
        out = {"items": [rnd.choice([{"minimum": 1}, {"maximum": 4}, {}])
                         for _ in range(n)]}
        if rnd.random() < 0.6:
            out["additionalItems"] = rnd.choice(
                [True, {"minimum": 0}, {"maximum": 2}])
        return out
    return {"minItems": rnd.randint(0, 2)}


def gen_items_root(rnd):
    out = {}
    r = rnd.random()
    if r < 0.35:
        out.update(gen_items_branch(rnd))
    elif r < 0.6:
        out["anyOf"] = [gen_items_branch(rnd)
                        for _ in range(rnd.randint(1, 3))]
    elif r < 0.8:
        out["allOf"] = [gen_items_branch(rnd)
                        for _ in range(rnd.randint(1, 2))]
    else:
        out["if"] = gen_items_branch(rnd)
        out["then"] = gen_items_branch(rnd)
        if rnd.random() < 0.5:
            out["else"] = gen_items_branch(rnd)
    out["unevaluatedItems"] = rnd.choice(
        [False, False, {"minimum": 3}])
    return {"properties": {"arr": out}}


@pytest.mark.parametrize("seed", [11, 42])
def test_unevaluated_items_static_vs_walker(spark, seed):
    rnd = random.Random(seed)
    rows = [(i, rnd.choice(
        [None, [], [1], [1, 2], [0, 5, 2], [4, 4, 4, 4], [2, 3, 1, 0, 5]]))
        for i in range(60)]
    # materialized once, so each ruleset's job below runs no Python stage
    df = spark.createDataFrame(rows, ARR_TYPE).localCheckpoint()
    data_schema = T.StructType([ARR_TYPE.fields[1]])
    json_rows = {r["id"]: r["doc"] for r in df.select(
        "id", F.to_json(F.struct("arr")).alias("doc")).collect()}

    checked = 0
    for k in range(30):
        ruleset = gen_items_root(rnd)
        try:
            viol = compile_ruleset(ruleset, data_schema, version=DRAFT2019)
        except UnsupportedRule:
            continue
        out = df.select("id", viol.alias("violations")).collect()
        scope = Scope(version=DRAFT2019)
        sid = scope.compile(ruleset)
        for r in out:
            doc = json.loads(json_rows[r["id"]])
            state = scope.validate(sid, doc)
            exp = sorted((e.code, e.path) for e in state.errors)
            got = sorted((v["code"], v["path"]) for v in r["violations"])
            assert got == exp, (
                f"seed={seed} ruleset#{k} id={r['id']}\n"
                f"ruleset={json.dumps(ruleset)}\ndoc={doc}\n"
                f"got={got}\nexp={exp}")
        checked += 1
    assert checked >= 20, checked


MAP_TYPE = T.StructType([
    T.StructField("id", T.LongType(), False),
    T.StructField("m", T.MapType(T.StringType(), T.DoubleType()), True),
])


def gen_map_row(rnd, rid):
    keys = rnd.sample(FIELDS + ["zz", "s_y"], rnd.randint(0, 4))
    return (rid, {k: rnd.choice([0.0, 1.0, 2.5, 5.0]) for k in keys})


@pytest.mark.parametrize("seed", [11, 42])
def test_unevaluated_open_map_vs_walker(spark, seed):
    """unevaluatedProperties over MapType (open keys): the per-entry
    runtime evaluated predicate must reproduce the walker's verdicts and
    (code, path) multisets — same fuzz grammar as the struct test."""
    from valico_spark.operators.validate import validate_column

    rnd = random.Random(seed)
    rows = [gen_map_row(rnd, i) for i in range(80)]
    # materialized once, so each ruleset's job below runs no Python stage
    df = spark.createDataFrame(rows, MAP_TYPE).localCheckpoint()
    json_rows = {r["id"]: r["doc"] for r in df.select(
        "id", F.to_json(F.col("m")).alias("doc")).collect()}

    checked = 0
    for k in range(30):
        ruleset = gen_root(rnd)
        try:
            v = validate_column(df, "m", ruleset, version=DRAFT2019)
        except UnsupportedRule:
            continue
        out = v.select("id", "violations").collect()
        scope = Scope(version=DRAFT2019)
        sid = scope.compile(ruleset)
        for r in out:
            doc = json.loads(json_rows[r["id"]] or "null")
            state = scope.validate(sid, doc)
            exp = sorted((e.code, e.path) for e in state.errors)
            got = sorted((x["code"], x["path"]) for x in r["violations"])
            assert got == exp, (
                f"seed={seed} ruleset#{k} id={r['id']}\n"
                f"ruleset={json.dumps(ruleset)}\ndoc={doc}\n"
                f"got={got}\nexp={exp}")
        checked += 1
    assert checked >= 20, checked


NESTED_UEV_CASES = [
    # (ruleset, [(doc, expected_valid)]) — the annotation-propagation
    # rule: a combinator member carrying unevaluated* marks entries it
    # validates as evaluated for the parent (UnevaluatedV._check_one
    # adds to `evaluated`; allOf merges unconditionally of.rs:44,
    # anyOf/oneOf validity-gated of.rs:109,165)
    ({"allOf": [{"unevaluatedProperties": {"type": "string"}}],
      "unevaluatedProperties": False},
     [({"a": "x"}, True), ({"a": 1}, False)]),
    ({"allOf": [{"properties": {"a": True}, "unevaluatedProperties": False}],
      "unevaluatedProperties": {"type": "string"}},
     [({"a": 1}, True), ({"a": 1, "b": "x"}, False)]),
    ({"anyOf": [{"unevaluatedProperties": {"type": "integer"}},
                {"properties": {"a": {"type": "string"}}}],
      "unevaluatedProperties": False},
     [({"a": "x"}, True), ({"a": []}, False)]),
    ({"allOf": [{"unevaluatedItems": {"type": "string"}}],
      "unevaluatedItems": False},
     [(["x", "y"], True), (["x", 1], False)]),
    ({"allOf": [{"items": [True], "unevaluatedItems": False}],
      "unevaluatedItems": {"type": "integer"}},
     [([1], True), ([1, 2], False)]),
]


def test_nested_unevaluated_compiles_on_variant(spark):
    """Nested-in-combinator unevaluated* must COMPILE on the VARIANT
    plan (a cut point would raise UnsupportedRule) and reproduce the
    walker's verdicts."""
    from valico_spark.compiler.variantcolumns import compile_json_ruleset

    for ruleset, tests in NESTED_UEV_CASES:
        viol = compile_json_ruleset(ruleset, F.col("j"), version=DRAFT2019)
        df = spark.createDataFrame([(json.dumps(d),) for d, _ in tests],
                                   "j string")
        rows = df.select("j", (F.size(viol) == 0).alias("ok")).collect()
        scope = Scope(version=DRAFT2019)
        sid = scope.compile(ruleset)
        for r, (doc, expected) in zip(rows, tests):
            assert r["ok"] == expected, (ruleset, doc, r["ok"])
            assert scope.validate(sid, doc).is_valid() == expected, (
                ruleset, doc, "walker disagrees with pinned expectation")
