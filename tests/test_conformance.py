"""Conformance fixture-table run (SURVEY.md §5 mirror).

Evaluates the whole corpus through the pure-Python core (fast, every
case) AND as ONE Spark job per draft via the Arrow fallback path — the
fixture-table execution style the reference's suite runner uses, lifted
to a DataFrame.
"""

import json

import pytest

from valico_spark.compiler.pyvalidator import DRAFT2019, DRAFT7, Scope
from valico_spark.sources.conformance import CASES, corpus

VERSIONS = {"draft7": DRAFT7, "draft2019-09": DRAFT2019}


def test_corpus_python_core():
    failures = []
    for group, version, schema, tests in CASES:
        scope = Scope(version=VERSIONS[version])
        sid = scope.compile(schema)
        for data, expected in tests:
            got = scope.validate(sid, data).is_valid()
            if got != expected:
                failures.append((group, version, data, expected, got))
    assert not failures, failures


@pytest.mark.parametrize("version", ["draft7", "draft2019-09"])
def test_corpus_spark_fixture_table(spark, version):
    """One mapInPandas job over the whole per-draft fixture table; each
    row re-compiles nothing (schema cache keyed per case on executors)."""
    rows = [r for r in corpus() if r[1] == version]
    df = spark.createDataFrame(
        rows, "grp string, ver string, schema_json string, "
              "data_json string, expected boolean")

    ver_num = VERSIONS[version]

    def run(batches):
        import pandas as pd
        scopes = {}
        for pdf in batches:
            got = []
            for sj, dj in zip(pdf["schema_json"], pdf["data_json"]):
                if sj not in scopes:
                    sc = Scope(version=ver_num)
                    scopes[sj] = (sc, sc.compile(json.loads(sj)))
                sc, sid = scopes[sj]
                got.append(sc.validate(sid, json.loads(dj)).is_valid())
            pdf = pdf.copy()
            pdf["got"] = got
            yield pdf

    out = df.repartition(4).mapInPandas(
        run, df.schema.simpleString()[7:-1] + ", got boolean").collect()
    bad = [(r["grp"], r["data_json"], r["expected"], r["got"])
           for r in out if r["expected"] != r["got"]]
    assert not bad, bad


GOLDEN_VIOLATIONS = [
    # (schema, data, [(code, title, path, detail-or-None)])
    ({"type": "integer"}, "x",
     [("wrong_type", "Type of the value is wrong", "",
       "The value must be integer")]),
    ({"properties": {"a": {"type": "integer"}}}, {"a": "x"},
     [("wrong_type", "Type of the value is wrong", "/a",
       "The value must be integer")]),
    ({"required": ["a", "b"]}, {},
     [("required", "This property is required", "/a", None),
      ("required", "This property is required", "/b", None)]),
    ({"properties": {"a": {}}, "additionalProperties": False},
     {"a": 1, "x": 2},
     [("properties", "Property conditions are not met", "",
       "Additional property 'x' is not allowed")]),
    ({"items": [{}], "additionalItems": False}, [1, 2],
     [("items", "Items condition is not met", "",
       "Additional items are not allowed")]),
    ({"exclusiveMaximum": 5}, 5,
     [("maximum", "Maximum condition is not met", "", None)]),
    ({"enum": ["a"]}, "b",
     [("enum", "Enum conditions are not met", "", None)]),
    ({"contains": {"minimum": 5}, "minContains": 2}, [5, 1],
     [("min_contains/max_contains", "Contains minimum/maximum is not met",
       "", None)]),
    ({"format": "date"}, "nope",
     [("format", "Format is wrong", "", "Malformed date")]),
    ({"propertyNames": {"maxLength": 1}}, {"ab": 1},
     [("max_length", "MaxLength condition is not met", "/[ab]", None)]),
]


@pytest.mark.parametrize("version", [DRAFT2019])
def test_golden_violation_rows(version):
    for schema, data, expected in GOLDEN_VIOLATIONS:
        scope = Scope(version=version)
        sid = scope.compile(schema)
        state = scope.validate(sid, data)
        got = sorted((e.code, e.title, e.path, e.detail)
                     for e in state.errors)
        assert got == sorted(expected), (schema, data, got)


@pytest.mark.parametrize("version", ["draft7", "draft2019-09"])
def test_corpus_variant_column_path(spark, version):
    """The same corpus through the VARIANT column compiler: every group
    whose ruleset the variant plan can compile must reproduce the
    expected verdicts with zero Python in the row loop (groups it
    rejects are the walker's domain — they are counted, not skipped
    silently)."""
    from pyspark.sql import functions as F

    from valico_spark.compiler.columns import UnsupportedRule
    from valico_spark.compiler.variantcolumns import compile_json_ruleset

    ver_num = VERSIONS[version]
    fallback = []
    bad = []
    by_schema = {}
    for grp, ver, schema_json, data_json, expected in corpus():
        if ver != version:
            continue
        by_schema.setdefault((grp, schema_json), []).append(
            (data_json, expected))
    plans, rows = [], []
    for (grp, schema_json), tests in by_schema.items():
        try:
            viol = compile_json_ruleset(json.loads(schema_json), F.col("j"),
                                        version=ver_num)
        except UnsupportedRule:
            fallback.append(grp)
            continue
        rows += [(len(plans), d, e) for d, e in tests]
        plans.append((grp, viol))
    compiled = len(plans)
    # every group's documents in one frame, materialized once: each
    # group's plan then runs over its slice with no Python stage (a frame
    # built from a Python list re-runs one on every action)
    docs = spark.createDataFrame(
        rows, "g int, j string, expected boolean").localCheckpoint()
    for g, (grp, viol) in enumerate(plans):
        got = docs.where(F.col("g") == g).select(
            "j", "expected", (F.size(viol) == 0).alias("got")).collect()
        bad += [(grp, r["j"], r["expected"], r["got"])
                for r in got if r["expected"] != r["got"]]
    assert not bad, bad
    # the variant plan must cover the definite majority of the corpus —
    # the walker is a fallback, not the serving path. (draft2019's corpus
    # is dominated by unevaluated*, which is the walker's domain by
    # design, so the bar is lower there.)
    ratio = 2 if version == "draft7" else 1
    assert compiled >= ratio * len(fallback), (
        compiled, sorted(set(fallback)))


def test_golden_parquet_fixture(spark):
    """The committed golden parquet (tools/make_golden.py) pins the full
    violation-row corpus — (code, title, path, detail, states) per case.
    One distributed mapInPandas job recomputes every case from source
    and diffs against the fixture: any semantic drift in the walker
    trips this gate even if the in-code expectations were updated in
    the same commit."""
    import os

    path = os.path.join(os.path.dirname(__file__), "golden",
                        "violation_rows.parquet")
    df = spark.read.parquet(path)
    assert df.count() >= 500

    def run(batches):
        scopes = {}
        for pdf in batches:
            oks = []
            for ver, sj, dj, valid, viols in zip(
                    pdf["version"], pdf["schema_json"], pdf["data_json"],
                    pdf["valid"], pdf["violations"]):
                key = (ver, sj)
                if key not in scopes:
                    sc = Scope(version=VERSIONS[ver])
                    scopes[key] = (sc, sc.compile(json.loads(sj)))
                sc, sid = scopes[key]
                state = sc.validate(sid, json.loads(dj))
                got = sorted(
                    ((e.code, e.title, e.path, e.detail, e.states)
                     for e in state.errors),
                    key=lambda v: (v[0], v[2], v[3] or "", v[4] or ""))
                exp = [(v["code"], v["title"], v["path"], v["detail"],
                        v["states"]) for v in viols]
                oks.append(state.is_valid() == bool(valid)
                           and got == exp)
            out = pdf[["grp", "data_json"]].copy()
            out["ok"] = oks
            yield out

    res = df.repartition(4).mapInPandas(
        run, "grp string, data_json string, ok boolean").collect()
    bad = [(r["grp"], r["data_json"]) for r in res if not r["ok"]]
    assert not bad, bad[:10]
