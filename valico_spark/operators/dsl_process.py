"""DSL processing over DataFrames.

Two surfaces mirroring `operators.validate`:

* ``process_json_column`` — full reference semantics (coerce → validate →
  default-inject, mutated document out) over a JSON-string column via
  Arrow-batched ``mapInPandas``; the builder spec is reconstructed once
  per executor.
* ``coerce_columns`` — the typed fast path: DSL coercers compiled to
  JVM cast/parse expressions producing (coerced value, violation) pairs;
  exact same accept/reject sets as the walker for string→number/boolean/
  null coercions (pinned by tests).
"""

from __future__ import annotations

import json
from typing import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from valico_spark.compiler.columns import VIOLATION_DDL
from valico_spark.compiler.errors import DSL_TITLES
from valico_spark.operators.util import drop_zip_importers


def process_json_column(df: DataFrame, json_col: str, build_fn,
                        out_col: str = "processed") -> DataFrame:
    """Run a DSL Builder over a JSON-document column.

    ``build_fn`` is a picklable function ``Builder -> None`` declaring the
    params (it ships to executors; the Builder compiles there once).
    Appends ``<out_col>`` (the coerced+defaulted JSON) , ``valid`` and
    ``violations``.
    """
    out_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    ) + f", {out_col} string, valid boolean, violations {VIOLATION_DDL}"

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        from valico_spark.compiler.dsl import Builder

        drop_zip_importers()
        builder = Builder.build(build_fn)
        for pdf in batches:
            outs, valids, viols = [], [], []
            for doc in pdf[json_col]:
                if doc is None:
                    outs.append(None)
                    valids.append(True)
                    viols.append([])
                    continue
                state, processed = builder.process(json.loads(doc))
                outs.append(json.dumps(processed, separators=(",", ":")))
                valids.append(state.is_valid())
                viols.append([
                    {"code": e.code, "title": e.title, "path": e.path,
                     "detail": e.detail, "states": e.states}
                    for e in state.errors])
            pdf = pdf.copy()
            pdf[out_col] = outs
            pdf["valid"] = valids
            pdf["violations"] = viols
            yield pdf

    return df.mapInPandas(run, schema=out_schema)


def _dsl_violation_col(code: str, path: str, detail: str) -> Column:
    return F.struct(
        F.lit(code).alias("code"), F.lit(DSL_TITLES[code]).alias("title"),
        F.lit(path).alias("path"), F.lit(detail).alias("detail"),
        F.lit(None).cast("string").alias("states"))


# typed coercion stage: spec name -> (cast builder, error detail)

def _i64_cast(c: Column) -> Column:
    # Rust str::parse::<i64>: optional sign + digits only
    ok = c.rlike(r"^[+-]?[0-9]+\z")  # \z: Rust parse rejects trailing \n
    return F.when(ok, c.try_cast("long"))


def _f64_cast(c: Column) -> Column:
    ok = c.rlike(
        r"(?i)^[+-]?(inf(inity)?|nan"
        r"|([0-9]+\.?[0-9]*|\.[0-9]+)(e[+-]?[0-9]+)?)\z")
    return F.when(ok, c.try_cast("double"))


def _bool_cast(c: Column) -> Column:
    return F.when(c == "true", F.lit(True)).when(c == "false", F.lit(False))


COERCE_SPECS = {
    "i64": (_i64_cast, "Can't coerce string value to i64"),
    "u64": (lambda c: F.when(c.rlike(r"^\+?[0-9]+\z"), c.try_cast("long")),
            "Can't coerce string value to u64"),
    "f64": (_f64_cast, "Can't coerce string value to f64"),
    "boolean": (_bool_cast,
                "Can't coerce this string value to boolean. Correct values"
                " are 'true' and 'false'"),
    "null": (lambda c: F.when(c == "", F.lit(None).cast("string")),
             "Can't coerce this string value to null. Correct value is"
             " only empty string"),
    "string": (lambda c: c, "Can't coerce value to string"),
}


def _dsl_violation_dyn(code: str, path: Column, detail: str) -> Column:
    """Violation struct with a runtime path (per-element array errors)."""
    return F.struct(
        F.lit(code).alias("code"), F.lit(DSL_TITLES[code]).alias("title"),
        path.alias("path"), F.lit(detail).alias("detail"),
        F.lit(None).cast("string").alias("states"))


def coerce_columns(df: DataFrame, specs: dict,
                   violations_col: str = "coerce_violations") -> DataFrame:
    """Typed DSL cast stage: ``specs`` maps column name -> coercer name,
    or ``("encoded_array", separator, inner_name)`` for the reference's
    ``encoded_array_of`` (coercers.rs:230-245,292-302): split on the
    LITERAL separator, per-element sub-coercion with ``/{col}/{idx}``
    error paths.

    Each string column is replaced by its coerced value (NULL on
    failure — for arrays, per-element NULL) and violation rows are
    appended for failures — the table-scale equivalent of the DSL's
    mutate-on-read contract.
    """
    import re as _re

    viol_parts = []
    replacements = {}
    for col, spec in specs.items():
        src = F.col(col)
        if isinstance(spec, tuple) and spec[0] == "encoded_array":
            _, sep, inner = spec
            cast_fn, detail = COERCE_SPECS[inner]
            arr = F.split(src, _re.escape(sep), -1)
            coerced = F.transform(arr, lambda x: cast_fn(x))
            replacements[col] = F.when(src.isNotNull(), coerced)
            # element index via its position in the raw split array
            def elem_viols(a=arr, cast_fn=cast_fn, detail=detail, col=col,
                           inner=inner):
                return F.filter(
                    F.transform(a, lambda x, i: F.when(
                        x.isNotNull() & cast_fn(x).isNull()
                        & F.lit(inner not in ("null", "string")),
                        _dsl_violation_dyn(
                            "wrong_type",
                            F.concat(F.lit(f"/{col}/"), i.cast("string")),
                            detail)
                    )),
                    lambda v: v.isNotNull())
            viol_parts.append(F.when(src.isNotNull(), elem_viols())
                               .otherwise(F.array().cast(VIOLATION_DDL))
                               .cast(VIOLATION_DDL))
            continue
        cast_fn, detail = COERCE_SPECS[spec]
        coerced = cast_fn(src)
        if spec == "null":
            failed = src.isNotNull() & (src != "")
        elif spec == "string":
            failed = F.lit(False)
        else:
            failed = src.isNotNull() & coerced.isNull()
        replacements[col] = coerced
        viol_parts.append(F.when(
            failed,
            F.array(_dsl_violation_col("wrong_type", f"/{col}", detail))
        ).otherwise(F.array().cast(VIOLATION_DDL)))
    # violations computed against the ORIGINAL columns, in the same
    # projection that replaces them (withColumn after the fact would make
    # the predicates see the already-coerced values)
    viol_col = (viol_parts[0] if len(viol_parts) == 1
                else F.concat(*viol_parts)) if viol_parts \
        else F.array().cast(VIOLATION_DDL)
    return df.select(
        *[replacements.get(c, F.col(c)).alias(c) for c in df.columns],
        viol_col.alias(violations_col))
