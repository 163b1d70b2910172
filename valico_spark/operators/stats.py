"""Single-pass combined column statistics (engine-level check, north_rule).

One ``df.agg(...)`` computes, for every audited column, in ONE scan and
ONE (partial-aggregated) reduction — no per-column jobs, no shuffle of raw
rows, map-side combine does the heavy lifting:

* row count and null rate,
* distinct-count sketch (HyperLogLog++, ``approx_count_distinct``),
* quantile sketch (GK via ``percentile_approx``) for numerics —
  ``operators/sketches.py`` provides the t-digest alternative when
  tail quantiles (p99.9 of heavy-tailed length/latency columns) must
  stay sharp,
* min / max / mean.

The reference walks one document at a time with no table-level notion
(SURVEY.md §2.7); this operator is the lift of its per-value checks to
table scale. ``exact=True`` switches HLL/GK to exact ``count_distinct``
/ sort-based percentiles — only for small-scale oracle verification.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from valico_spark.operators.util import local_frame

_NUMERIC = (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.FloatType,
            T.DoubleType, T.DecimalType)

DEFAULT_QUANTILES = [0.25, 0.5, 0.75, 0.95]


def profile(df: DataFrame, columns: list[str] | None = None,
            quantiles: list[float] | None = DEFAULT_QUANTILES,
            exact: bool = False, rsd: float = 0.02) -> DataFrame:
    """Return one row per column: (column, n_rows, null_count, null_rate,
    distinct_count, min_s, max_s, mean, quantiles array)."""
    cols = columns or [f.name for f in df.schema.fields
                       if not isinstance(f.dataType,
                                         (T.ArrayType, T.MapType,
                                          T.StructType))]
    dtypes = {f.name: f.dataType for f in df.schema.fields}

    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs.append(F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
                     .alias(f"{c}__nulls"))
        if exact:
            aggs.append(F.count_distinct(F.col(c)).alias(f"{c}__dist"))
        else:
            aggs.append(F.approx_count_distinct(c, rsd).alias(f"{c}__dist"))
        aggs.append(F.min(F.col(c).cast("string")).alias(f"{c}__min"))
        aggs.append(F.max(F.col(c).cast("string")).alias(f"{c}__max"))
        if isinstance(dtypes[c], _NUMERIC):
            aggs.append(F.avg(F.col(c)).alias(f"{c}__mean"))
            if quantiles:
                aggs.append(F.percentile_approx(
                    F.col(c).cast("double"), quantiles,
                    1_000_000 if exact else 10_000).alias(f"{c}__q"))
            else:
                aggs.append(F.lit(None).cast("array<double>")
                             .alias(f"{c}__q"))
        else:
            aggs.append(F.lit(None).cast("double").alias(f"{c}__mean"))
            aggs.append(F.lit(None).cast("array<double>").alias(f"{c}__q"))

    # single wide aggregation row (ONE row regardless of table size) →
    # unpivot driver-side; the collect is a single-row action, not a loop
    row = df.agg(*aggs).collect()[0].asDict()
    n = row["__n"]
    out = []
    for c in cols:
        out.append(dict(
            column=c, n_rows=n, null_count=row[f"{c}__nulls"],
            null_rate=(row[f"{c}__nulls"] / n) if n else 0.0,
            distinct_count=row[f"{c}__dist"],
            min_s=row[f"{c}__min"], max_s=row[f"{c}__max"],
            mean=row[f"{c}__mean"],
            quantiles=row[f"{c}__q"]))
    schema = T.StructType([
        T.StructField("column", T.StringType()),
        T.StructField("n_rows", T.LongType()),
        T.StructField("null_count", T.LongType()),
        T.StructField("null_rate", T.DoubleType()),
        T.StructField("distinct_count", T.LongType()),
        T.StructField("min_s", T.StringType()),
        T.StructField("max_s", T.StringType()),
        T.StructField("mean", T.DoubleType()),
        T.StructField("quantiles", T.ArrayType(T.DoubleType())),
    ])
    return local_frame(df.sparkSession, out, schema)


def profile_exact_numeric(df: DataFrame, columns: list[str],
                          value_scale: int = 2) -> DataFrame:
    """Exact single-scan profile of numeric columns, scale-safe.

    Plan shape: scan once → ``inline`` (column, value) pairs → two-level
    aggregation ``groupBy(column, value)`` then ``groupBy(column)``. This
    gives EXACT distinct counts without the Catalyst Expand that N
    ``count_distinct`` aggs in one ``agg`` would cost (an Expand
    multiplies the scanned rows ×N), and every stage is a distributed
    hash aggregation with map-side combine — no driver collect.

    Determinism: the mean is order-independent — values are scaled to
    integers at ``value_scale`` fractional digits (exact when the data
    has at most that many decimals, e.g. money columns) and summed as
    longs; ``mean_milli`` rounds to 3 decimals (ties toward +inf, all
    signs) in pure integer arithmetic, so any engine computing the same
    formula gets the same bits. Plain ``F.avg`` over doubles is partition-order-dependent at
    the 3rd decimal for large sums.

    Output per column: (column, n_rows, null_count, null_rate,
    distinct_count, min_v, max_v, n_nonnull, sum_scaled, mean,
    mean_milli).
    """
    if not 0 <= value_scale <= 3:
        raise ValueError("value_scale must be in [0, 3] (mean_milli is "
                         "defined at 3 fractional digits)")
    mult = 10 ** value_scale
    pairs = df.select(F.inline(F.array(*[
        F.struct(F.lit(c).alias("column"),
                 F.col(c).cast("double").alias("v"))
        for c in columns])))
    lvl1 = pairs.groupBy("column", "v").agg(F.count(F.lit(1)).alias("cnt"))
    nn = F.sum(F.when(F.col("v").isNotNull(), F.col("cnt")).otherwise(0))
    sum_scaled = F.sum(
        F.round(F.col("v") * mult, 0).cast("long") * F.col("cnt"))
    prof = lvl1.groupBy("column").agg(
        F.sum("cnt").alias("n_rows"),
        F.sum(F.when(F.col("v").isNull(), F.col("cnt")).otherwise(0))
         .alias("null_count"),
        F.sum(F.when(F.col("v").isNotNull(), 1).otherwise(0))
         .alias("distinct_count"),
        F.min("v").alias("min_v"), F.max("v").alias("max_v"),
        nn.alias("n_nonnull"), sum_scaled.alias("sum_scaled"))
    # round to 3 decimals, integer-exact: floor((20s+n)/(2n)) for
    # centi-sums == floor(milli_mean + 1/2), i.e. ties round toward +inf
    # for ALL signs (-2.5 -> -2, not away-from-zero -3) — a deliberate,
    # engine-portable definition; any oracle must use the same formula.
    # The double division is exact-enough: |numerator/denominator -
    # integer| >= 1/denominator >> ulp, so floor never flips.
    mean_milli = F.floor(
        (2 * F.col("sum_scaled") * (1000 // mult) + F.col("n_nonnull"))
        / (2.0 * F.col("n_nonnull"))).cast("long")
    return prof.select(
        "column", "n_rows", "null_count",
        (F.col("null_count") / F.col("n_rows")).alias("null_rate"),
        "distinct_count", "min_v", "max_v", "n_nonnull", "sum_scaled",
        (F.col("sum_scaled") / (F.lit(float(mult)) * F.col("n_nonnull")))
        .alias("mean"),
        mean_milli.alias("mean_milli"))


def heavy_hitters(df: DataFrame, column: str, k: int = 10,
                  exact: bool = True, id_col: str | None = None,
                  sample_rate: float = 0.05) -> DataFrame:
    """Top-k most frequent values of ``column``.

    ``exact=True``: groupBy count + window top-k — one shuffle keyed on
    the value (map-side combined, shuffle size = cardinality) plus a
    tiny ranked reduction; ties broken by value. The CI / oracle mode.
    The global (unpartitioned) rank is NOT a scale hazard: Spark's
    InferWindowGroupLimit rewrites the ``rank <= k`` filter into a
    distributed TakeOrderedAndProject(limit=k) BELOW the window, so the
    single-partition WindowExec only ever sees <= k rows (verified in
    the executed plan; the "No Partition Defined" WARN it logs is
    therefore harmless).

    ``exact=False``: the high-cardinality mode — candidates come from a
    DETERMINISTIC hash-keyed ROW sample (keyed on ``id_col``, required:
    a value occurring c times misses a rate-r sample with probability
    (1-r)^c — vanishing for every true heavy hitter; sampling keyed on
    the VALUE would instead drop whole heavy values w.p. 1-r), and
    only the candidate set is counted exactly via a broadcast semi-join
    — so the full-cardinality value-keyed shuffle never happens; the
    shuffle is bounded by |candidates|. Counts for survivors are exact;
    the approximation risk is only a sub-threshold value missing the
    sample, which tests bound.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(F.lit(0)).orderBy(F.desc("n"), F.asc("value"))
    if exact:
        counts = (df.groupBy(F.col(column).alias("value"))
                    .agg(F.count(F.lit(1)).alias("n")))
    else:
        from valico_spark.operators.sampling import _M31, sample_hash

        if id_col is None:
            raise ValueError("approximate mode needs id_col for the "
                             "deterministic row sample")
        cand = (df.select(F.col(column).alias("value"))
                  .where(sample_hash(F.xxhash64(F.col(id_col)))
                         < F.lit(int(sample_rate * _M31)))
                  .distinct())
        # null-safe join: NULL can be a legitimate heavy hitter (exact
        # mode counts it), so the candidate probe must not drop it
        counts = (df.join(F.broadcast(cand),
                          df[column].eqNullSafe(cand["value"]))
                    .groupBy(cand["value"])
                    .agg(F.count(F.lit(1)).alias("n")))
    return (counts.withColumn("rank", F.row_number().over(w))
                  .where(F.col("rank") <= k)
                  .select("value", "n",
                          F.col("rank").cast("long").alias("rank")))
