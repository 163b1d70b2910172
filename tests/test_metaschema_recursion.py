"""Meta-schema self-validation + recursive-$ref unroll-with-residual.

Mirrors the reference's pre-suite ritual (tests/schema/mod.rs:39-50):
compile the draft core meta-schema with ban_unknown, then
schema-validates-schema. Also exercises both recursion stories of
``validate_json_column``: a recursive ruleset the walker's gate covers
runs exactly on the gated walker stage (no unroll), and one outside the
gate unrolls on the VARIANT plan, where documents deeper than the unroll
carry a NEEDS_WALKER marker and are rerouted to the walker stage —
verdict parity must hold either way on a mixed-depth table."""

import json

import pytest
from pyspark.sql import functions as F

from valico_spark.compiler.pyvalidator import DRAFT7, Scope
from valico_spark.compiler.variantcolumns import (
    NEEDS_WALKER, VariantCompiler, VTarget,
)
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
        docs = [_chain(30), _chain(2)]
        df = spark.createDataFrame([(d,) for d in docs], "j string")
        out = validate_json_column(df, "j", LINKED_LIST).collect()
        for r in out:
            assert all(v["code"] != NEEDS_WALKER for v in r["violations"])

    def test_shallow_docs_stay_on_column_plan(self, spark):
        """The fast branch exists: compiling with residual_marker reports
        used_marker, and a shallow doc evaluates clean of markers."""
        df = spark.createDataFrame([(_chain(2),)], "j string")
        comp = VariantCompiler(version=DRAFT7, root_schema=LINKED_LIST,
                               residual_marker=True)
        viol = comp.compile(LINKED_LIST,
                            VTarget(F.parse_json(F.col("j")), F.lit("")))
        assert comp.used_marker
        rows = df.select(viol.alias("v")).collect()
        assert rows[0]["v"] == []


#: LINKED_LIST outside the walker's gate: contentMediaType has no exact
#: boolean form (and only constrains strings, so no object node changes),
#: so ``auto`` takes the VARIANT plan with its unroll and walker residual
UNGATED_LINKED_LIST = dict(LINKED_LIST, contentMediaType="application/json")


class TestVariantRecursionResidual:
    """``auto`` on a recursive ruleset outside the gate: the VARIANT plan
    unrolls the recursion, and documents deeper than the cut reroute to
    the walker stage."""

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
    def test_mixed_depth_parity(self, spark, unroll_depth):
        docs = [_chain(3), _chain(3, bad_at=2), _chain(12), _chain(19),
                _chain(22, bad_at=21), _chain(30), _chain(30, bad_at=25),
                _chain(1), '{"v": "x"}', '{}']
        df = spark.createDataFrame([(i, d) for i, d in enumerate(docs)],
                                   "i long, j string")
        v = validate_json_column(df, "j", UNGATED_LINKED_LIST,
                                 unroll_depth=unroll_depth)
        assert "parseJson" in \
            v._jdf.queryExecution().executedPlan().toString()
        got = {r["i"]: (r["valid"], sorted((e["code"], e["path"])
                                           for e in r["violations"]))
               for r in v.collect()}
        assert got == self._walker(docs)


class TestAutoUnrollBudget:
    """``unroll_depth="auto"``: size the recursion budget from the
    corpus's measured nesting-depth histogram (operators.infer)."""

    def test_auto_matches_walker_on_deep_corpus(self, spark):
        # depths beyond the fixed default (16): auto must profile and
        # recompile so the verdicts still match the walker exactly
        docs = [_chain(2), _chain(19), _chain(19, bad_at=18), _chain(22)]
        df = spark.createDataFrame([(i, d) for i, d in enumerate(docs)],
                                   "i long, j string")
        got = {r["i"]: r["valid"] for r in
               validate_json_column(df, "j", LINKED_LIST,
                                    unroll_depth="auto").collect()}
        scope = Scope(version=DRAFT7)
        sid = scope.compile(LINKED_LIST)
        for i, d in enumerate(docs):
            assert got[i] == scope.validate(
                sid, json.loads(d)).is_valid(), (i, got[i])

    def test_auto_skips_profile_when_not_recursive(self, spark):
        """A non-recursive ruleset must not pay the profiling scan: no
        extra Spark job beyond the (lazy) plan build."""
        df = spark.createDataFrame([('{"v": 1}',)], "j string")
        tracker = spark.sparkContext.statusTracker()
        before = len(tracker.getJobIdsForGroup(None))
        validate_json_column(
            df, "j", {"properties": {"v": {"type": "integer"}}},
            unroll_depth="auto")  # plan only, no action
        assert len(tracker.getJobIdsForGroup(None)) == before

    def test_recursion_cut_flag_is_depth_specific(self, spark):
        """recursion_cut reports only the depth cut, not other residual
        markers (e.g. dynamic constructs), so auto never profiles when a
        bigger budget couldn't help."""
        comp = VariantCompiler(version=DRAFT7, root_schema=LINKED_LIST,
                               residual_marker=True)
        comp.compile(LINKED_LIST,
                     VTarget(F.parse_json(F.col("j")), F.lit("")))
        assert comp.recursion_cut
        flat = {"type": "object",
                "properties": {"v": {"type": "integer"}}}
        comp2 = VariantCompiler(version=DRAFT7, root_schema=flat,
                                residual_marker=True)
        comp2.compile(flat,
                      VTarget(F.parse_json(F.col("j")), F.lit("")))
        assert not comp2.recursion_cut
