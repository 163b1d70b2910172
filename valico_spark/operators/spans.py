"""Span-sequence operators over the interleaved-docs table.

The per-row invariant from BASELINE.json input_hint: span-sequence
equality on (kind, text, media_ref, order) per document, evaluated
Arrow-native / JVM-native — **no per-row Python**. Spark compares
array<struct> values structurally, so sequence equality is a single
column expression; the ordering check compares the offset array with
its sorted, de-duplicated self. Neither check uses a higher-order
function: Spark runs ``transform`` / ``aggregate`` interpreted
(``CodegenFallback``), while field projection, ``sort_array``,
``array_distinct`` and ``arrays_zip`` are code-generated.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def spans_strictly_increasing(spans: Column) -> Column:
    """True iff ``offset`` is strictly increasing across the span array.

    NULL offsets (and NULL spans) fail the check (they violate ordering
    by absence); empty and single-non-null-offset arrays are vacuously
    ordered; a NULL array gives NULL. Strictly increasing ⇔ the offsets
    equal their ascending sort (non-decreasing) and hold no duplicate;
    ``sort_array`` puts NULLs first, so a NULL offset shows as a NULL
    first element.
    """
    offs = spans["offset"]
    srt = F.sort_array(offs)
    ordered = (F.size(offs) == 0) | (
        F.try_element_at(srt, F.lit(1)).isNotNull() & (srt == offs)
        & (F.size(F.array_distinct(offs)) == F.size(offs)))
    return F.when(offs.isNotNull(), ordered)


def _canon(spans: Column) -> Column:
    """The (kind, text, media_ref) sequence of a span array, in order."""
    return F.arrays_zip(spans["kind"], spans["text"], spans["media_ref"])


def span_signature(spans: Column) -> Column:
    """Order-sensitive signature of (kind, text, media_ref) — the
    sequence-equality key. Uses xxhash64 over a canonical projection so
    two tables can be compared with an equi-join instead of shipping the
    full arrays."""
    # xxhash64 hashes array<struct> natively (order-sensitive) — no JSON
    # string materialization, far less allocation on wide scans
    return F.xxhash64(_canon(spans))


def add_span_checks(df: DataFrame, spans_col: str = "spans") -> DataFrame:
    return (df
            .withColumn("spans_ordered",
                        spans_strictly_increasing(F.col(spans_col)))
            .withColumn("span_sig", span_signature(F.col(spans_col))))


def sequence_equality(left: DataFrame, right: DataFrame,
                      key: str = "doc_id",
                      spans_col: str = "spans") -> DataFrame:
    """Per-document span-sequence equality between two tables.

    Join on the doc key (sort-merge over bucketed layout at scale) and
    compare canonical projections natively — array<struct> equality is a
    JVM-side structural comparison. Returns (key, equal) rows for docs in
    both tables.
    """
    l = left.select(F.col(key), _canon(F.col(spans_col)).alias("__l"))
    r = right.select(F.col(key), _canon(F.col(spans_col)).alias("__r"))
    return (l.join(r, key)
             .select(key, (F.col("__l").eqNullSafe(F.col("__r")))
                     .alias("equal")))


def assemble_text(spans: Column, open_tok: str = "<|media:",
                  close_tok: str = "|>") -> Column:
    """Render an interleaved span sequence to a single training-ready
    text stream: spans sorted by offset, text spans contribute their
    text, media spans a typed placeholder token (``<|media:image|>``).

    Pure codegen (array_sort comparator + transform + concat) — the
    per-document work is a map stage, no shuffle, no Python. NULL text
    in a text span (a seeded corpus defect) renders as empty rather
    than nulling the whole document.
    """
    ordered = F.array_sort(spans, lambda a, b: F.when(
        a["offset"] < b["offset"], F.lit(-1)).when(
        a["offset"] > b["offset"], F.lit(1)).otherwise(F.lit(0)))
    parts = F.transform(ordered, lambda s: F.when(
        s["kind"] == "text", F.coalesce(s["text"], F.lit("")))
        .otherwise(F.concat(F.lit(open_tok),
                            F.coalesce(s["kind"], F.lit("?")),
                            F.lit(close_tok))))
    return F.array_join(parts, "", "")


def span_kind_stats(df: DataFrame, spans_col: str = "spans") -> DataFrame:
    """Per-document interleaving profile: span counts by modality and
    text mass — one shuffle-free projection (aggregate/filter HOFs)."""
    s = F.col(spans_col)
    n_text = F.size(F.filter(s, lambda x: x["kind"] == "text"))
    return df.withColumns({
        "n_spans": F.size(s),
        "n_text_spans": n_text,
        "n_media_spans": F.size(s) - n_text,
        "text_chars": F.aggregate(
            s, F.lit(0),
            lambda acc, x: acc + F.when(
                x["kind"] == "text",
                F.coalesce(F.length(x["text"]), F.lit(0))
            ).otherwise(F.lit(0))),
    })
