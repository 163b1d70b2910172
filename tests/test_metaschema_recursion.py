"""Meta-schema self-validation + recursive-$ref on dynamic JSON.

Mirrors the reference's pre-suite ritual (tests/schema/mod.rs:39-50):
compile the draft core meta-schema with ban_unknown, then
schema-validates-schema. Also exercises both recursion stories of
``validate_json_column``: a recursive ruleset the walker's gate covers
runs exactly on the gated walker stage, and one outside the gate whose
recursion the VARIANT plan cannot unroll runs on the ungated walker
stage — verdict parity must hold either way on a mixed-depth table."""

import json

import pytest

from test_variant_parity import assert_walker_stage_only
from valico_spark.compiler.pyvalidator import DRAFT7, Scope
from valico_spark.compiler.variantcolumns import VariantCompiler
from valico_spark.operators.validate import validate_json_column
from valico_spark.sources.metaschema import DRAFT7_META


class TestMetaSchemaWalker:
    def test_compiles_with_ban_unknown(self):
        scope = Scope(version=DRAFT7)
        scope.compile(DRAFT7_META, ban_unknown=True)  # must not raise

    def test_validates_itself(self):
        scope = Scope(version=DRAFT7)
        sid = scope.compile(DRAFT7_META)
        state = scope.validate(sid, DRAFT7_META)
        assert state.is_valid(), [e.as_dict() for e in state.errors]

    @pytest.mark.parametrize("schema,valid", [
        ({"type": "integer"}, True),
        ({"type": 1}, False),                      # type must be string/arr
        ({"type": ["integer", "integer"]}, False),  # uniqueItems
        ({"minLength": -1}, False),                 # nonNegativeInteger
        ({"multipleOf": 0}, False),                 # exclusiveMinimum 0
        ({"required": ["a", "a"]}, False),          # stringArray unique
        ({"items": [{"type": "string"}, True]}, True),
        ({"items": []}, False),                     # schemaArray minItems 1
        ({"properties": {"a": {"not": {"enum": [1]}}}}, True),
        ({"properties": {"a": 3}}, False),
        (True, True), (False, True),                # boolean schemas
    ])
    def test_judges_schemas(self, schema, valid):
        scope = Scope(version=DRAFT7)
        sid = scope.compile(DRAFT7_META)
        assert scope.validate(sid, schema).is_valid() == valid

    def test_spark_auto_path_agrees(self, spark):
        """validate_json_column on schemas-as-documents: the walker's gate
        covers the meta-schema, so ``auto`` serves it from the gated
        walker stage — verdicts must equal the walker's."""
        docs = [json.dumps(s) for s, _ in [
            ({"type": "integer"}, 1), ({"type": 1}, 0),
            ({"minLength": -1}, 0), ({"items": [{"type": "string"}]}, 1),
            ({"properties": {"a": {"type": "object"}}}, 1),
            ({"properties": {"a": 3}}, 0),
        ]]
        df = spark.createDataFrame([(i, d) for i, d in enumerate(docs)],
                                   "i long, j string")
        out = {r["i"]: r["valid"] for r in
               validate_json_column(df, "j", DRAFT7_META).collect()}
        scope = Scope(version=DRAFT7)
        sid = scope.compile(DRAFT7_META)
        for i, d in enumerate(docs):
            assert out[i] == scope.validate(sid, json.loads(d)).is_valid(), d


LINKED_LIST = {
    "type": "object",
    "required": ["v"],
    "properties": {"v": {"type": "integer", "minimum": 0},
                   "next": {"$ref": "#"}},
}


def _depth(doc) -> int:
    """Object nesting depth of a parsed document."""
    if isinstance(doc, dict):
        return 1 + max((_depth(v) for v in doc.values()), default=0)
    return 0


def _chain(depth: int, bad_at: int | None = None) -> str:
    doc: dict = {"v": -1 if bad_at == 0 else 0}
    node = doc
    for i in range(1, depth):
        node["next"] = {"v": -1 if bad_at == i else i}
        node = node["next"]
    return json.dumps(doc)


class TestLinearRecursionUnroll:
    def test_mixed_depth_parity(self, spark):
        docs = [_chain(3), _chain(3, bad_at=2), _chain(12),
                _chain(30), _chain(30, bad_at=25), _chain(1),
                '{"v": "x"}', '{}']
        df = spark.createDataFrame([(i, d) for i, d in enumerate(docs)],
                                   "i long, j string")
        got = {r["i"]: (r["valid"], sorted((v["code"], v["path"])
                                           for v in r["violations"]))
               for r in validate_json_column(df, "j",
                                             LINKED_LIST).collect()}
        scope = Scope(version=DRAFT7)
        sid = scope.compile(LINKED_LIST)
        for i, d in enumerate(docs):
            st = scope.validate(sid, json.loads(d))
            exp = (st.is_valid(), sorted((e.code, e.path)
                                         for e in st.errors))
            assert got[i] == exp, (i, d[:80], got[i], exp)

    def test_no_marker_leaks_to_output(self, spark):
        """Every violation code on the output is one the walker emits
        for the same document."""
        docs = [_chain(30, bad_at=25), _chain(2)]
        df = spark.createDataFrame([(d,) for d in docs], "j string")
        out = validate_json_column(df, "j", LINKED_LIST).collect()
        scope = Scope(version=DRAFT7)
        sid = scope.compile(LINKED_LIST)
        for r in out:
            exp = scope.validate(sid, json.loads(r["j"])).errors
            assert [v["code"] for v in r["violations"]] \
                == [e.code for e in exp]


#: LINKED_LIST outside the walker's gate: contentMediaType has no exact
#: boolean form (and only constrains strings, so no object node changes),
#: and the VARIANT plan cannot unroll unbounded recursion, so ``auto``
#: takes the ungated walker stage
UNGATED_LINKED_LIST = dict(LINKED_LIST, contentMediaType="application/json")


class TestVariantRecursionResidual:
    """``auto`` on a recursive ruleset outside the gate: the VARIANT plan
    refuses recursion it cannot unroll, so the whole ruleset runs on the
    ungated walker stage and no row takes a second plan."""

    @staticmethod
    def _walker(docs):
        scope = Scope(version=DRAFT7)
        sid = scope.compile(UNGATED_LINKED_LIST)
        assert not scope.gate(sid)[1]
        out = {}
        for i, d in enumerate(docs):
            st = scope.validate(sid, json.loads(d))
            out[i] = (st.is_valid(), sorted((e.code, e.path)
                                            for e in st.errors))
        return out

    @pytest.mark.parametrize("unroll_depth", [16, "auto"])
    def test_mixed_depth_parity(self, spark, monkeypatch, unroll_depth):
        """The lane does not depend on the VARIANT unroll budget: at the
        class default (16) and at a budget sized from the corpus's
        deepest document ("auto"), unbounded recursion still cannot be
        unrolled, so every row runs on the one ungated walker stage."""
        docs = [_chain(3), _chain(3, bad_at=2), _chain(12), _chain(19),
                _chain(22, bad_at=21), _chain(30), _chain(30, bad_at=25),
                _chain(1), '{"v": "x"}', '{}']
        if unroll_depth == "auto":
            unroll_depth = max(_depth(json.loads(d)) for d in docs)
        monkeypatch.setattr(VariantCompiler, "_UNROLL_DEPTH", unroll_depth)
        df = spark.createDataFrame([(i, d) for i, d in enumerate(docs)],
                                   "i long, j string")
        v = validate_json_column(df, "j", UNGATED_LINKED_LIST)
        assert_walker_stage_only(v)
        got = {r["i"]: (r["valid"], sorted((e["code"], e["path"])
                                           for e in r["violations"]))
               for r in v.collect()}
        assert got == self._walker(docs)


class TestAutoUnrollBudget:
    """Corpora deeper than any fixed unroll: the gated walker stage runs
    recursion exactly, whatever the depth."""

    def test_auto_matches_walker_on_deep_corpus(self, spark):
        docs = [_chain(2), _chain(19), _chain(19, bad_at=18), _chain(22)]
        df = spark.createDataFrame([(i, d) for i, d in enumerate(docs)],
                                   "i long, j string")
        got = {r["i"]: r["valid"] for r in
               validate_json_column(df, "j", LINKED_LIST).collect()}
        scope = Scope(version=DRAFT7)
        sid = scope.compile(LINKED_LIST)
        for i, d in enumerate(docs):
            assert got[i] == scope.validate(
                sid, json.loads(d)).is_valid(), (i, got[i])
