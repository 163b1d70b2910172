"""Mechanical run of the reconstructed official JSON-Schema-Test-Suite.

Mirrors the reference's runner (``/root/reference/tests/schema/mod.rs:
37-304`` draft-7, ``:306-588`` 2019-09): walk every suite file, compile
the draft-07 meta-schema into the scope first, skip the curated
exception lists (``suite_exceptions`` — encoded verbatim from mod.rs),
then assert ``is_valid`` equals the suite expectation for every
remaining case.

Three layers, per SURVEY.md §5's fixture-table strategy:
* the pure-Python walker over every case (fast, exact),
* ONE Spark ``mapInPandas`` job per draft over the whole fixture table,
* the VARIANT column plan for every group it can compile, with
  marker-rerouted rows adjudicated by the walker (the serving path).
"""

import json

import pytest

from valico_spark.compiler.pyvalidator import DRAFT2019, DRAFT7, Scope
from valico_spark.sources import official_suite
from valico_spark.sources.metaschema import DRAFT7_META

VERSIONS = {"draft7": DRAFT7, "draft2019-09": DRAFT2019}

# floor counts: a reconstruction regression (file dropped, loader bug,
# over-broad skip) must not silently shrink the corpus
MIN_CASES = {"draft7": 850, "draft2019-09": 1000}


def _rows(version):
    return list(official_suite.load(version))


@pytest.mark.parametrize("version", ["draft7", "draft2019-09"])
def test_suite_python_core(version):
    rows = _rows(version)
    assert len(rows) >= MIN_CASES[version], len(rows)
    failures = []
    for fname, gdesc, schema, cdesc, data, valid in rows:
        scope = Scope(version=VERSIONS[version])
        scope.compile(DRAFT7_META, ban_unknown=True)
        sid = scope.compile(schema)
        got = scope.validate(sid, data).is_valid()
        if got != valid:
            failures.append((fname, gdesc, cdesc, valid, got))
    assert not failures, failures[:20]


@pytest.mark.parametrize("version", ["draft7", "draft2019-09"])
def test_suite_gate_sound(version):
    """``Scope.gate`` over every case: a passing gate means the walker
    finds the document valid, and where the gate covers the schema it
    equals the walker's verdict. Most schemas are covered and many cases
    pass the gate, so neither half is vacuous."""
    rows = _rows(version)
    covered = taken = 0
    failures = []
    for fname, gdesc, schema, cdesc, data, _ in rows:
        scope = Scope(version=VERSIONS[version])
        scope.compile(DRAFT7_META, ban_unknown=True)
        sid = scope.compile(schema)
        got = scope.validate(sid, data).is_valid()
        passes, covers = scope.gate(sid)
        ok = passes(data)
        covered += covers
        taken += ok
        if (ok and not got) or (covers and ok != got):
            failures.append((fname, gdesc, cdesc, got, ok, covers))
    assert not failures, failures[:20]
    assert covered > 0.8 * len(rows) and taken > 0.4 * len(rows), \
        (covered, taken, len(rows))


@pytest.mark.parametrize("version", ["draft7", "draft2019-09"])
def test_suite_spark_fixture_table(spark, version):
    """The whole per-draft suite as ONE Spark job (mod.rs runs the suite
    as a single test; we run it as a single distributed fixture table)."""
    rows = [(f, g, json.dumps(s), c, json.dumps(d), v)
            for f, g, s, c, d, v in _rows(version)]
    df = spark.createDataFrame(
        rows, "file string, grp string, schema_json string, "
              "case string, data_json string, expected boolean")

    ver_num = VERSIONS[version]

    def run(batches):
        scopes = {}
        for pdf in batches:
            got = []
            for sj, dj in zip(pdf["schema_json"], pdf["data_json"]):
                if sj not in scopes:
                    sc = Scope(version=ver_num)
                    sc.compile(DRAFT7_META, ban_unknown=True)
                    scopes[sj] = (sc, sc.compile(json.loads(sj)))
                sc, sid = scopes[sj]
                got.append(sc.validate(sid, json.loads(dj)).is_valid())
            pdf = pdf.copy()
            pdf["got"] = got
            yield pdf

    out = df.repartition(8).mapInPandas(
        run, df.schema.simpleString()[7:-1] + ", got boolean").collect()
    bad = [(r["file"], r["grp"], r["case"], r["expected"], r["got"])
           for r in out if r["expected"] != r["got"]]
    assert not bad, bad[:20]


@pytest.mark.parametrize("version", ["draft7", "draft2019-09"])
def test_suite_variant_column_path(spark, version):
    """Every suite group the VARIANT compiler accepts must reproduce the
    official verdicts on the column plan (the groups it refuses run on
    the walker, which ``test_suite_python_core`` checks on every case)."""
    from pyspark.sql import functions as F

    from valico_spark.compiler.columns import UnsupportedRule
    from valico_spark.compiler.variantcolumns import compile_json_ruleset

    ver_num = VERSIONS[version]
    by_schema = {}
    for fname, gdesc, schema, cdesc, data, valid in _rows(version):
        sj = json.dumps(schema)
        by_schema.setdefault((fname, gdesc, sj), []).append(
            (json.dumps(data), valid))

    fallback, bad = 0, []
    plans, rows = [], []
    for (fname, gdesc, sj), tests in by_schema.items():
        schema = json.loads(sj)
        # groups whose schema refs the meta-schema need the scope
        # pre-compile the runner provides — the column engines compile a
        # standalone ruleset, so those go to the walker by design
        try:
            viol = compile_json_ruleset(schema, F.col("j"), version=ver_num)
        except UnsupportedRule:
            fallback += 1
            continue
        rows += [(len(plans), d, e) for d, e in tests]
        plans.append((fname, gdesc, viol))
    compiled = len(plans)
    # every group's documents in one frame, materialized once: each
    # group's plan then runs over its slice with no Python stage (a frame
    # built from a Python list re-runs one on every action)
    docs = spark.createDataFrame(
        rows, "g int, j string, expected boolean").localCheckpoint()
    for g, (fname, gdesc, viol) in enumerate(plans):
        got = docs.where(F.col("g") == g).select(
            "j", "expected", (F.size(viol) == 0).alias("got")).collect()
        bad += [(fname, gdesc, r["j"], r["expected"], r["got"])
                for r in got if r["expected"] != r["got"]]
    assert not bad, bad[:20]
    # column plans must carry the clear majority of official groups
    # (measured 8.5x on draft7, 9.1x on draft2019-09; the refused groups
    # are external/remote $refs, Arrow formats, uniqueItems, inline $id
    # with $ref and recursion past the unroll)
    assert compiled >= 8 * fallback, (compiled, fallback)
