"""Profile-driven schema inference: propose a draft-07 ruleset from a
DataFrame — the bootstrap step when a table arrives without one.

The inferred ruleset is a real compiler input (``compile_ruleset`` /
``validate_dataframe`` accept it unchanged), so the loop is: infer on a
trusted sample → review → enforce on the firehose. Inference is TWO
bounded aggregation passes, never a collect of data rows:

1. one combined ``agg`` over all columns — null counts, numeric
   min/max, approx distinct (HLL) for strings;
2. one ``collect_set`` pass ONLY for the string columns whose HLL
   estimate cleared the enum-candidate gate (bounded by
   ``enum_max * n_candidates`` values on the driver).

Types map from the Spark schema itself (LongType → "integer",
DoubleType → "number", nested structs/arrays recurse structurally);
``required`` lists columns observed fully non-null. Bounds widen by
``bound_slack`` so the suggestion does not instantly page on the next
day's data (a min observed on Monday is rarely a law).
"""

from __future__ import annotations

from typing import Any

import pandas as pd  # noqa: F401 — resolves the pandas-UDF type hints

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from valico_spark.operators.util import drop_zip_importers

_NUMERIC = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
            T.FloatType, T.DoubleType, T.DecimalType)
_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def _type_schema(dt: T.DataType) -> dict:
    if isinstance(dt, _INTEGRAL):
        return {"type": "integer"}
    if isinstance(dt, _NUMERIC):
        return {"type": "number"}
    if isinstance(dt, T.StringType):
        return {"type": "string"}
    if isinstance(dt, T.BooleanType):
        return {"type": "boolean"}
    if isinstance(dt, T.ArrayType):
        return {"type": "array", "items": _type_schema(dt.elementType)}
    if isinstance(dt, T.StructType):
        props = {f.name: _type_schema(f.dataType) for f in dt.fields}
        return {"type": "object", "properties": props}
    if isinstance(dt, T.MapType):
        return {"type": "object",
                "additionalProperties": _type_schema(dt.valueType)}
    return {}  # timestamps/binary/...: presence-typed only


def _q(name: str) -> str:
    """Backtick-quote a column name so dotted names ("user.id") resolve
    as top-level columns, not struct-field paths."""
    return "`" + name.replace("`", "``") + "`"


def infer_ruleset(df: DataFrame, enum_max: int = 16,
                  bound_slack: float = 0.0) -> dict[str, Any]:
    """Suggest a draft-07 object ruleset for ``df``'s rows."""
    fields = df.schema.fields
    aggs = [F.count(F.lit(1)).alias("__n")]
    for f in fields:
        aggs.append(F.sum(F.when(F.col(_q(f.name)).isNull(), 1)
                           .otherwise(0)).alias(f"{f.name}__nulls"))
        if isinstance(f.dataType, _NUMERIC):
            aggs.append(F.min(_q(f.name)).alias(f"{f.name}__min"))
            aggs.append(F.max(_q(f.name)).alias(f"{f.name}__max"))
        elif isinstance(f.dataType, T.StringType):
            aggs.append(F.approx_count_distinct(_q(f.name))
                         .alias(f"{f.name}__dv"))
    row = df.agg(*aggs).collect()[0].asDict()

    # enum pass only for gated candidates (HLL overcounts are fine:
    # the exact set is re-checked against enum_max after collection)
    candidates = [f.name for f in fields
                  if isinstance(f.dataType, T.StringType)
                  and row[f"{f.name}__dv"] <= enum_max * 2]
    enums: dict[str, list] = {}
    if candidates:
        sets = df.agg(*[F.collect_set(F.col(_q(c))).alias(c)
                        for c in candidates]).collect()[0].asDict()
        enums = {c: sorted(v) for c, v in sets.items()
                 if len(v) <= enum_max}

    props: dict[str, Any] = {}
    required: list[str] = []
    for f in fields:
        sub = _type_schema(f.dataType)
        if isinstance(f.dataType, _NUMERIC):
            lo, hi = row[f"{f.name}__min"], row[f"{f.name}__max"]
            if lo is not None and hi is not None:
                if isinstance(f.dataType, _INTEGRAL):
                    # pure int arithmetic: float() would round int64
                    # beyond 2^53 and could tighten past observed values
                    import math
                    span_i = math.ceil((hi - lo) * bound_slack)
                    sub["minimum"] = int(lo) - span_i
                    sub["maximum"] = int(hi) + span_i
                else:
                    span = (float(hi) - float(lo)) * bound_slack
                    sub["minimum"] = float(lo) - span
                    sub["maximum"] = float(hi) + span
        if f.name in enums and enums[f.name]:
            sub = {"enum": enums[f.name]
                   + ([None] if row[f"{f.name}__nulls"] else [])}
        if row[f"{f.name}__nulls"] == 0:
            required.append(f.name)
        props[f.name] = sub
    return {"type": "object", "properties": props, "required": required}


# -- JSON nesting-depth profile ---------------------------------------------
#
# How deep a corpus's documents nest: the number of object/array levels
# a validator descends. The profile is a single map stage + one tiny
# aggregation — pure built-in expressions (regex string-literal strip,
# bracket scan via ``aggregate``), whole-stage codegen, no Python, no
# shuffle beyond |distinct depths| rows.

#: JSON string literal (handles escaped quotes/backslashes). Identical
#: semantics in Java regex and RE2, so oracles can mirror the strip.
_JSON_STR_RE = r'"(?:[^"\\]|\\.)*"'


def json_max_depth(col) -> "F.Column":
    """Max container-nesting depth of a JSON document string.

    ``5``/``"x"`` → 0, ``{}``/``[]`` → 1, ``{"a": [1]}`` → 2 — the
    number of object/array levels a validator must descend to cover the
    document entirely. Strips string literals first so braces inside values
    (``{"a": "}["}``) don't skew the scan; malformed JSON yields a
    best-effort bracket balance (the validator rejects it anyway).
    """
    col = F.col(col) if isinstance(col, str) else col
    # ONE regex pass: the string-literal alternative wins at any '"'
    # (so braces inside values vanish with their literal), the
    # non-bracket alternative sweeps everything else — identical result
    # to the earlier strip-literals-then-strip-nonbrackets two-pass
    # (an unterminated quote fails the literal branch and is consumed
    # by the char branch, exactly as pass 2 removed it), at half the
    # regex scan cost over the document column.
    brackets = F.regexp_replace(
        col, _JSON_STR_RE + r"|[^{}\[\]]", "")
    # fold over ±1 ints (openers are '{' 0x7B / '[' 0x5B): the step is
    # evaluated once per char instead of twice (cur and mx branches)
    steps = F.transform(
        F.filter(F.split(brackets, ""), lambda c: c != ""),
        lambda c: F.when(c.isin("{", "["), 1).otherwise(-1))
    return F.aggregate(
        steps,
        F.struct(F.lit(0).alias("cur"), F.lit(0).alias("mx")),
        lambda a, s: F.struct(
            (a.cur + s).alias("cur"),
            F.greatest(a.mx, a.cur + s).alias("mx")),
        lambda a: a.mx)


def _bracket_depths(brackets: "pd.Series") -> "pd.Series":
    """Vectorized max-prefix-balance over bracket-only strings (the
    pandas-UDF body of :func:`json_depth_histogram`). One numpy pass
    over the Arrow string buffers: ±1 steps, global cumsum, per-row
    segment max minus the row's starting balance — exactly the value
    :func:`json_max_depth`'s per-char fold computes (max(0, max prefix
    balance)), in integer arithmetic, so results are identical."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa

    drop_zip_importers()
    arr = pa.Array.from_pandas(brackets)
    if arr.null_count:
        # callers pre-filter nulls; keep a correct fallback anyway
        vals = brackets.fillna("")
        arr = pa.Array.from_pandas(vals)
    off_buf, data_buf = arr.buffers()[1], arr.buffers()[2]
    offs = np.frombuffer(off_buf, dtype=np.int32)[
        arr.offset:arr.offset + len(arr) + 1]
    data = np.frombuffer(data_buf, dtype=np.uint8) if data_buf else \
        np.zeros(0, dtype=np.uint8)
    res = np.zeros(len(arr), dtype=np.int32)
    starts, ends = offs[:-1], offs[1:]
    nonempty = ends > starts
    if nonempty.any():
        # data holds ONLY bracket chars by construction: '{' 0x7B,
        # '[' 0x5B open (+1); '}' / ']' close (-1)
        steps = np.where((data == 0x7B) | (data == 0x5B), 1, -1)
        cum = np.cumsum(steps, dtype=np.int64)
        ne_starts = starts[nonempty].astype(np.int64)
        segmax = np.maximum.reduceat(cum, ne_starts)
        base = np.where(ne_starts == 0, 0, cum[ne_starts - 1])
        res[nonempty] = np.maximum(segmax - base, 0).astype(np.int32)
    return pd.Series(res)


def json_depth_histogram(df: DataFrame, col: str) -> DataFrame:
    """``(depth, n_docs)`` distribution of :func:`json_max_depth` over
    ``df[col]`` — how deep a corpus's documents nest.

    Execution shape (not semantics) differs from mapping
    :func:`json_max_depth` over the column: ``depth`` is null exactly
    when ``df[col]`` is null (regexp/fold propagate null), so the null
    filter runs on the CHEAP source column — filtering on the derived
    column let predicate pushdown duplicate the whole depth expression
    into a scan-level Filter (measured 2x the map stage) — and the
    per-char interpreted fold is replaced by :func:`_bracket_depths`, a
    numpy cumsum over the bracket-only strings (only bracket chars
    cross the Python boundary; values are bit-identical integers)."""
    source = F.col(col) if isinstance(col, str) else col
    brackets = F.regexp_replace(source, _JSON_STR_RE + r"|[^{}\[\]]", "")
    depth_udf = F.pandas_udf(_bracket_depths, "int")
    return (df.where(source.isNotNull())
              .select(brackets.alias("__br"))
              .select(depth_udf(F.col("__br")).alias("depth"))
              .groupBy("depth").agg(F.count(F.lit(1)).alias("n_docs"))
              .orderBy("depth"))

