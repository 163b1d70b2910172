"""Column compiler vs reference-parity walker: identical verdicts and
violation rows on the synthetic interleaved-docs table.

This is the engine's core correctness property: the vectorized JVM plan
(compiler.columns) must agree with the reference-semantics oracle
(compiler.pyvalidator) document-by-document — same valid flags, same
(code, path, detail) multisets.
"""

import json

from pyspark.sql import functions as F

from valico_spark.compiler.pyvalidator import Scope
from valico_spark.operators.validate import (
    validate_dataframe, validate_json_column, violation_rows,
)
from valico_spark.rulesets import DOCS_RULESET, MEDIA_RULESET


def _oracle_results(rows_json, ruleset):
    scope = Scope()
    sid = scope.compile(ruleset)
    out = []
    for doc in rows_json:
        state = scope.validate(sid, json.loads(doc))
        out.append((state.is_valid(),
                    sorted((e.code, e.path, e.detail or "", e.states or "")
                           for e in state.errors)))
    return out


def _check_parity(df, ruleset, id_col):
    validated = validate_dataframe(df, ruleset, mode="columns")
    got = (validated
           .select(id_col, "valid", "violations",
                   F.to_json(F.struct(*df.columns)).alias("doc_json"))
           .collect())
    docs_json = [r["doc_json"] for r in got]
    expected = _oracle_results(docs_json, ruleset)
    n_invalid = 0
    for row, (exp_valid, exp_errs) in zip(got, expected):
        assert row["valid"] == exp_valid, (
            f"verdict mismatch for {row[id_col]}: {row['doc_json'][:200]}")
        got_errs = sorted((v["code"], v["path"], v["detail"] or "",
                           v["states"] or "")
                          for v in row["violations"])
        assert got_errs == exp_errs, (
            f"violations mismatch for {row[id_col]}:\n got {got_errs}\n "
            f"exp {exp_errs}\n doc {row['doc_json'][:300]}")
        n_invalid += 0 if exp_valid else 1
    # the seeded generator must actually produce both outcomes
    assert n_invalid > 0
    assert n_invalid < len(got)


def test_docs_ruleset_parity(docs_df):
    _check_parity(docs_df, DOCS_RULESET, "doc_id")


def test_media_ruleset_parity(media_df):
    _check_parity(media_df, MEDIA_RULESET, "media_ref")


def test_arrow_path_agrees_with_column_path(docs_df):
    cols = validate_dataframe(docs_df, DOCS_RULESET, mode="columns")
    arrow = validate_dataframe(docs_df, DOCS_RULESET, mode="arrow")
    a = {r["doc_id"]: r["valid"] for r in
         cols.select("doc_id", "valid").collect()}
    b = {r["doc_id"]: r["valid"] for r in
         arrow.select("doc_id", "valid").collect()}
    assert a == b


def test_violation_rows_shape(docs_df):
    validated = validate_dataframe(docs_df, DOCS_RULESET, mode="columns")
    rows = violation_rows(validated, ["doc_id"])
    assert rows.columns == ["doc_id", "code", "title", "path", "detail"]
    sample = rows.limit(5).collect()
    assert all(r["code"] for r in sample)


def test_json_column_validation(spark):
    df = spark.createDataFrame(
        [("a", '{"x": 1}'), ("b", '{"x": "nope"}'), ("c", '{}')],
        ["id", "doc"])
    ruleset = {"type": "object", "required": ["x"],
               "properties": {"x": {"type": "integer"}}}
    out = {r["id"]: (r["valid"], [v["code"] for v in r["violations"]])
           for r in validate_json_column(df, "doc", ruleset).collect()}
    assert out["a"] == (True, [])
    assert out["b"] == (False, ["wrong_type"])
    assert out["c"] == (False, ["required"])


def test_column_plan_is_wholestage(docs_df):
    """The static plan must be pure project (no shuffle, no python UDF)."""
    validated = validate_dataframe(docs_df, DOCS_RULESET, mode="columns")
    plan = validated._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def _count_mismatches(df, ruleset) -> int:
    """Rows whose ``validation_counts`` count differs from the size of
    the ``compile_ruleset`` violations array."""
    from valico_spark.compiler.columns import compile_ruleset
    from valico_spark.operators.validate import validation_counts

    arr = compile_ruleset(ruleset, df.schema)
    return (validation_counts(df, ruleset)
            .where(F.size(arr).cast("long") != F.col("n_violations"))
            .count())


def test_count_compiler_matches_array_compiler(docs_df, media_df):
    for df, rs in ((docs_df, DOCS_RULESET), (media_df, MEDIA_RULESET)):
        assert _count_mismatches(df, rs) == 0


def test_count_compiler_fuzz(spark):
    import random

    from test_fuzz_parity import ROW_TYPE, gen_row, gen_ruleset
    from valico_spark.compiler.columns import UnsupportedRule

    rnd = random.Random(99)
    rows = [gen_row(rnd, i) for i in range(80)]
    # materialized once, so each ruleset's job below runs no Python stage
    df = spark.createDataFrame(rows, ROW_TYPE).drop("id").localCheckpoint()
    checked = 0
    for _ in range(25):
        ruleset = gen_ruleset(rnd)
        try:
            assert _count_mismatches(df, ruleset) == 0, ruleset
        except UnsupportedRule:
            continue
        checked += 1
    assert checked >= 15


def _orders_lineitem(spark):
    orders = spark.createDataFrame(
        [], "o_orderkey long, o_custkey long, o_orderstatus string, "
            "o_totalprice double, o_orderdate timestamp, "
            "o_orderpriority string")
    lineitem = spark.createDataFrame(
        [], "l_orderkey long, l_partkey long, l_suppkey long, "
            "l_linenumber int, l_quantity double, l_extendedprice double, "
            "l_discount double, l_tax double, l_returnflag string, "
            "l_linestatus string, l_shipdate timestamp")
    return orders, lineitem


def test_gate_coverage_pinned(spark, docs_df, media_df):
    """The canonical rulesets keep an exact root gate, and the columns
    plan evaluates it in front of the violations tree."""
    from valico_spark.compiler.columns import compile_checked, row_target
    from valico_spark.rulesets import LINEITEM_RULESET, ORDERS_RULESET

    orders, lineitem = _orders_lineitem(spark)
    for df, rs in ((docs_df, DOCS_RULESET), (media_df, MEDIA_RULESET),
                   (orders, ORDERS_RULESET), (lineitem, LINEITEM_RULESET)):
        assert compile_checked(rs, row_target(df.schema)).ok() is not None

    validated = validate_dataframe(docs_df, DOCS_RULESET, mode="columns")
    plan = validated._jdf.queryExecution().optimizedPlan().toString()
    # the gated tree: CASE WHEN <ok> THEN [] ELSE <violations> END
    assert "CASE WHEN" in plan and "THEN [] ELSE" in plan, plan[:2000]


def test_tuple_items_gate(spark):
    """Tuple ``items`` over arrays shorter than, as long as and longer
    than the tuple: the gate reads each position outside the tree's size
    guard, so it must not fail on a short array, and both typed entry
    points must agree with the walker."""
    from pyspark.sql import types as T

    from valico_spark.compiler.columns import (
        compile_checked, compile_ruleset, row_target,
    )
    from valico_spark.operators.validate import validate_column

    arrays = [[], [1], [0], [1, 2], [0, 2], [1, 2, 3], [0, 9, 2, 7], None]
    df = spark.createDataFrame(
        [(i, a) for i, a in enumerate(arrays)],
        T.StructType([T.StructField("id", T.IntegerType()),
                      T.StructField("a", T.ArrayType(T.LongType()))])
    ).localCheckpoint()
    tuple_ = [{"minimum": 1}, {"minimum": 1}]
    for items in ({"items": tuple_},
                  {"items": tuple_, "additionalItems": False},
                  {"items": tuple_, "additionalItems": {"maximum": 5}}):
        ruleset = {"properties": {"a": items}}
        assert compile_checked(ruleset, row_target(df.schema)).ok() \
            is not None
        got_row = df.select(
            "id", compile_ruleset(ruleset, df.schema).alias("v")).collect()
        got_col = validate_column(df, "a", items).select(
            "id", "violations", "valid").collect()
        scope = Scope()
        row_sid, col_sid = scope.compile(ruleset), scope.compile(items)
        for r, c in zip(sorted(got_row), sorted(got_col)):
            arr = arrays[r["id"]]
            doc = {} if arr is None else {"a": arr}
            exp_row = sorted((e.code, e.path) for e in
                             scope.validate(row_sid, doc).errors)
            exp_col = sorted((e.code, e.path) for e in
                             scope.validate(col_sid, arr).errors)
            where = f"{json.dumps(items)} a={arr}"
            assert sorted((v["code"], v["path"]) for v in r["v"]) \
                == exp_row, where
            assert sorted((v["code"], v["path"])
                          for v in c["violations"]) == exp_col, where
            assert c["valid"] is (not exp_col), where
