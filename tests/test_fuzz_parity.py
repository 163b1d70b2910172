"""Randomized parity fuzzing: for seeded random rulesets over a mixed-type
row schema, the vectorized column plan must produce exactly the oracle's
verdicts and (code, path) multisets on seeded random rows.

This is the engine's conformance harness in miniature: instead of the
(unvendored) JSON-Schema-Test-Suite, we drive both implementations with
generated cases and require bit-identical behavior wherever the static
compiler claims support (UnsupportedRule cases fall back and are skipped
here — the fallback path IS the oracle)."""

import json
import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from valico_spark.compiler.columns import (
    UnsupportedRule, compile_checked, compile_ruleset, gated, row_target,
)
from valico_spark.compiler.pyvalidator import Scope

ROW_TYPE = T.StructType([
    T.StructField("id", T.LongType(), False),
    T.StructField("s", T.StringType(), True),
    T.StructField("n", T.DoubleType(), True),
    T.StructField("i", T.LongType(), True),
    T.StructField("b", T.BooleanType(), True),
    T.StructField("arr", T.ArrayType(T.LongType()), True),
    T.StructField("st", T.StructType([
        T.StructField("a", T.StringType(), True),
        T.StructField("b", T.LongType(), True),
    ]), True),
])

FIELDS = ["s", "n", "i", "b", "arr", "st"]


def gen_scalar_schema(rnd: random.Random, depth: int) -> dict:
    opts = ["type", "enum", "const", "bounds", "mult", "len", "pattern",
            "combinator", "not", "cond"]
    kind = rnd.choice(opts if depth < 2 else opts[:7])
    if kind == "type":
        return {"type": rnd.choice(
            ["string", "number", "integer", "boolean", "array", "object",
             [ "string", "integer"], ["number", "boolean"]])}
    if kind == "enum":
        return {"enum": rnd.sample(
            ["x", "y", "z", 1, 2, 3.5, True, 0], rnd.randint(1, 4))}
    if kind == "const":
        return {"const": rnd.choice(["x", 1, 2.5, True])}
    if kind == "bounds":
        out = {}
        if rnd.random() < 0.7:
            out[rnd.choice(["minimum", "exclusiveMinimum"])] = \
                rnd.choice([0, 1.5, -3, 10])
        if rnd.random() < 0.7:
            out[rnd.choice(["maximum", "exclusiveMaximum"])] = \
                rnd.choice([5, 7.5, 100])
        return out or {"minimum": 0}
    if kind == "mult":
        return {"multipleOf": rnd.choice([1, 2, 3, 0.5, 2.5])}
    if kind == "len":
        return {rnd.choice(["minLength", "maxLength"]): rnd.randint(0, 5)}
    if kind == "pattern":
        return {"pattern": rnd.choice(["^a", "b$", "[0-9]+", "^$", "xy"])}
    if kind == "combinator":
        key = rnd.choice(["allOf", "anyOf", "oneOf"])
        return {key: [gen_scalar_schema(rnd, depth + 1)
                      for _ in range(rnd.randint(1, 3))]}
    if kind == "not":
        return {"not": gen_scalar_schema(rnd, depth + 1)}
    return {"if": gen_scalar_schema(rnd, depth + 1),
            "then": gen_scalar_schema(rnd, depth + 1),
            "else": gen_scalar_schema(rnd, depth + 1)}


def gen_array_schema(rnd: random.Random) -> dict:
    out = {}
    if rnd.random() < 0.15:
        # composite constants (strict nested number identity)
        vals = [[rnd.choice([0, 1, 2, 5]) for _ in range(rnd.randint(0, 3))]
                for _ in range(rnd.randint(1, 3))]
        if rnd.random() < 0.5:
            out["const"] = vals[0]
        else:
            out["enum"] = vals
        return out
    if rnd.random() < 0.6:
        out["items"] = gen_scalar_schema(rnd, 1)
    if rnd.random() < 0.4:
        out["minItems"] = rnd.randint(0, 3)
    if rnd.random() < 0.4:
        out["maxItems"] = rnd.randint(2, 6)
    if rnd.random() < 0.3:
        out["uniqueItems"] = True
    if rnd.random() < 0.3:
        out["contains"] = gen_scalar_schema(rnd, 1)
    return out


def gen_ruleset(rnd: random.Random) -> dict:
    props = {}
    for f in rnd.sample(FIELDS, rnd.randint(1, 4)):
        if f == "arr":
            props[f] = gen_array_schema(rnd)
        elif f == "st":
            if rnd.random() < 0.15:
                props[f] = {"const": {
                    k: v for k, v in
                    [("a", rnd.choice(["a", "zz"])),
                     ("b", rnd.choice([1, 9]))][:rnd.randint(1, 2)]}}
            else:
                props[f] = {
                    "type": "object",
                    "required": rnd.sample(["a", "b"], rnd.randint(0, 2)),
                    "properties": {"a": gen_scalar_schema(rnd, 1),
                                   "b": gen_scalar_schema(rnd, 1)},
                }
        else:
            props[f] = gen_scalar_schema(rnd, 0)
    out = {"type": "object", "properties": props}
    if rnd.random() < 0.6:
        out["required"] = rnd.sample(list(props), 1)
    if rnd.random() < 0.3:
        out["dependencies"] = {rnd.choice(FIELDS): [rnd.choice(FIELDS)]}
    return out


def gen_row(rnd: random.Random, rid: int):
    def maybe(v):
        return None if rnd.random() < 0.25 else v
    return (
        rid,
        maybe(rnd.choice(["a", "ab", "abc", "xy9", "", "bbb"])),
        maybe(rnd.choice([0.0, 1.0, 2.5, -3.0, 7.5, 100.0, 4.0])),
        maybe(rnd.choice([0, 1, 2, 5, -3, 100])),
        maybe(rnd.choice([True, False])),
        maybe([rnd.choice([0, 1, 2, 5]) for _ in range(rnd.randint(0, 5))]),
        maybe((maybe(rnd.choice(["a", "zz"])), maybe(rnd.choice([1, 9])))),
    )


N_RULESETS = 40
N_ROWS = 120


@pytest.mark.parametrize("seed", [7, 1234])
def test_fuzz_column_vs_oracle(spark, seed):
    rnd = random.Random(seed)
    rows = [gen_row(rnd, i) for i in range(N_ROWS)]
    # materialized once, so each ruleset's job below runs no Python stage
    df = spark.createDataFrame(rows, ROW_TYPE).localCheckpoint()
    json_rows = {r["id"]: r["doc"] for r in df.select(
        "id", F.to_json(F.struct(*[c for c in df.columns if c != "id"]))
        .alias("doc")).collect()}

    checked = skipped = 0
    for k in range(N_RULESETS):
        ruleset = gen_ruleset(rnd)
        try:
            viol = compile_ruleset(
                ruleset,
                T.StructType([f for f in ROW_TYPE.fields
                              if f.name != "id"]))
        except UnsupportedRule:
            skipped += 1
            continue
        # compile target excludes the id column; rebuild with it for join
        out = df.select(
            "id",
            viol.alias("violations")).collect()
        scope = Scope()
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
    # the generator must mostly produce compilable rulesets
    assert checked >= N_RULESETS * 0.7, (checked, skipped)


@pytest.mark.parametrize("seed", [7, 1234])
def test_fuzz_gate_sound_and_exact(spark, seed):
    """Wherever the typed compile has a root gate, the gated array equals
    the ungated one element for element (order included), the gate holds
    exactly on the rows without violations, and the count view equals
    the array's size."""
    rnd = random.Random(seed)
    rows = [gen_row(rnd, i) for i in range(N_ROWS)]
    df = spark.createDataFrame(rows, ROW_TYPE)
    target = row_target(T.StructType([f for f in ROW_TYPE.fields
                                      if f.name != "id"]))
    cols, gated_rulesets = [], []
    for k in range(N_RULESETS):
        ruleset = gen_ruleset(rnd)
        try:
            checked = compile_checked(ruleset, target)
            viol, ok, count = checked.viol(), checked.ok(), checked.count()
        except UnsupportedRule:
            continue
        if ok is None:
            continue
        cols += [viol.alias(f"v{k}"), ok.alias(f"ok{k}"),
                 count.alias(f"n{k}"), gated(viol, ok).alias(f"g{k}")]
        gated_rulesets.append((k, ruleset))
    assert len(gated_rulesets) >= N_RULESETS * 0.5, len(gated_rulesets)

    passed = failed = 0
    for r in df.select("id", *cols).collect():
        for k, ruleset in gated_rulesets:
            full = r[f"v{k}"]
            where = f"seed={seed} ruleset={json.dumps(ruleset)} id={r['id']}"
            assert r[f"g{k}"] == full, where
            assert r[f"ok{k}"] is (len(full) == 0), where
            assert r[f"n{k}"] == len(full), where
            passed += r[f"ok{k}"]
            failed += not r[f"ok{k}"]
    # the gate is neither vacuous nor always taken
    assert passed > 0 and failed > 0, (passed, failed)
