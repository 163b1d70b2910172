"""Distribution-drift checks: two-sample KS and chi-square (north_rule).

Scale design:
* **chi-square** (categorical): two ``groupBy(value).count()`` aggregations
  (map-side combined, shuffle size = cardinality) joined on the category —
  exact at any scale.
* **KS** (continuous): the exact statistic needs a global sort, which is a
  single-stage bottleneck at 10^12 rows. We compute a *binned* ECDF —
  fixed grid of B bins between the pooled min/max (one lightweight agg to
  get the range, one groupBy on the bin id) — giving sup-norm error ≤ 1/B
  of the true KS plus binning error; B=1024 is far below any actionable
  drift threshold. Shuffle size = B rows.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def chi_square(observed: DataFrame, expected: DataFrame,
               value_col: str) -> DataFrame:
    """Pearson chi-square of ``observed[value_col]`` against the category
    distribution of ``expected[value_col]``.

    Returns one row: (statistic, df, n_obs). Categories absent from
    ``expected`` contribute with a pseudo-expected of 0.5 (Haldane
    correction) to keep the statistic finite.

    Fully plan-expressed: the totals that scale the expected counts come
    from a broadcast 1-row aggregate (the same pattern as ``psi_table``)
    — building the result runs NO driver-side job, so the helper
    composes into larger audit plans.
    """
    obs = observed.groupBy(F.col(value_col).alias("cat")) \
                  .agg(F.count(F.lit(1)).alias("o"))
    exp = expected.groupBy(F.col(value_col).alias("cat")) \
                  .agg(F.count(F.lit(1)).alias("e_raw"))
    joined = obs.join(exp, "cat", "full_outer").fillna(0, ["o", "e_raw"])
    totals = joined.agg(F.sum("o").alias("__to"),
                        F.sum("e_raw").alias("__te"))
    joined = joined.crossJoin(F.broadcast(totals))
    scale = F.col("__to") / F.greatest(F.col("__te"), F.lit(1))
    joined = joined.withColumn(
        "e", F.when(F.col("e_raw") > 0,
                    F.col("e_raw") * scale).otherwise(F.lit(0.5)))
    return joined.agg(
        F.sum((F.col("o") - F.col("e")) ** 2 / F.col("e"))
         .alias("statistic"),
        (F.count(F.lit(1)) - 1).cast("long").alias("df"),
        F.sum("o").cast("long").alias("n_obs"))


def ks_binned(sample_a: DataFrame, sample_b: DataFrame, value_col: str,
              bins: int = 1024) -> float:
    """Binned two-sample Kolmogorov–Smirnov statistic (see module doc).

    Thin scalar wrapper over ``ks_binned_table``: ONE job total — the
    range and totals live inside the plan as broadcast 1-row aggregates;
    the only driver transfer is the final one-double statistic."""
    t = ks_binned_table(sample_a, sample_b, value_col, bins=bins,
                        _round=None)
    row = t.agg(F.max("cdf_diff")).collect()[0]
    d = row[0]
    return float(d) if d is not None and math.isfinite(d) else 0.0


def ks_binned_table(sample_a: DataFrame, sample_b: DataFrame,
                    value_col: str, bins: int = 64,
                    _round: int | None = 6) -> DataFrame:
    """DataFrame form of the binned two-sample KS: one row per occupied
    bin with counts and the running |ECDF_a - ECDF_b| — fully
    plan-expressed (range via a broadcast 1-row aggregate, no driver
    collect), so it composes into larger audits.

    ``_round=None`` keeps cdf_diff at full double precision (the scalar
    ``ks_binned`` wrapper); the default rounds for engine-portable
    oracle comparison. A degenerate range (hi == lo, one distinct
    value) falls back to width 1 so every row lands in bin 0 and the
    statistic is 0, matching the scalar semantics."""
    a = sample_a.select(F.col(value_col).cast("double").alias("v")) \
                .where(F.col("v").isNotNull())
    b = sample_b.select(F.col(value_col).cast("double").alias("v")) \
                .where(F.col("v").isNotNull())
    pooled = a.unionByName(b)
    bounds = pooled.agg(F.min("v").alias("lo"), F.max("v").alias("hi"))

    def counts(df, tag):
        with_b = df.crossJoin(F.broadcast(bounds))
        width = F.col("hi") - F.col("lo")
        # non-finite range (±inf in the data): (v-lo)/width is NaN and
        # floor(NaN) casts to garbage — route every row to bin 0
        # explicitly (statistic degenerates to 0.0, the historical
        # scalar-helper behavior for non-finite input)
        width = F.when((width > 0) & ~F.isnan(width)
                       & (width != float("inf")), width).otherwise(
            F.lit(float("nan")))
        bin_id = F.when(
            F.isnan(width) | F.isnan(F.col("v"))
            | (F.abs(F.col("v")) == float("inf")), F.lit(0)
        ).otherwise(F.least(
            F.lit(bins - 1),
            F.floor((F.col("v") - F.col("lo")) / width * bins))).cast("int")
        return with_b.groupBy(bin_id.alias("bin")) \
                     .agg(F.count(F.lit(1)).alias(tag))

    merged = counts(a, "na").join(counts(b, "nb"), "bin", "full_outer") \
        .fillna(0, ["na", "nb"])
    # windows run over the <=B-row binned table, so single-partition
    # execution is intended and bounded (B rows, not corpus rows).
    # Catalyst constant-folds the lit(0) partition key away, so the
    # WindowExec "No Partition Defined" WARN still fires — it is
    # harmless here by construction.
    w = (Window.partitionBy(F.lit(0)).orderBy("bin")
         .rowsBetween(Window.unboundedPreceding, 0))
    # greatest(total, 1): an empty side contributes a flat-zero ECDF
    # (drift vs an empty reference reads as maximal, not NULL)
    ta = F.greatest(F.sum("na").over(Window.partitionBy(F.lit(0))),
                    F.lit(1))
    tb = F.greatest(F.sum("nb").over(Window.partitionBy(F.lit(0))),
                    F.lit(1))
    diff = F.abs(F.sum("na").over(w) / ta - F.sum("nb").over(w) / tb)
    if _round is not None:
        diff = F.round(diff, _round)
    return merged.select("bin", "na", "nb", diff.alias("cdf_diff"))


def psi_table(a: DataFrame, b: DataFrame, value_col: str,
              smoothing: float = 0.5) -> DataFrame:
    """Population Stability Index per category:
    PSI_cat = (p_a - p_b) * ln(p_a / p_b), summed over categories.

    The production drift metric for categorical features. Same scale
    shape as chi_square: two map-side-combined groupBy aggregations
    joined on the category — shuffle size = cardinality, never rows.
    ``smoothing`` is a Haldane-style pseudo-count so categories absent
    from one side stay finite. Returns one row per category
    (cat, n_a, n_b, p_a, p_b, psi_contrib); sum(psi_contrib) is the PSI.
    """
    ca = a.groupBy(F.col(value_col).alias("cat")) \
          .agg(F.count(F.lit(1)).alias("n_a"))
    cb = b.groupBy(F.col(value_col).alias("cat")) \
          .agg(F.count(F.lit(1)).alias("n_b"))
    j = ca.join(cb, "cat", "full_outer").fillna(0, ["n_a", "n_b"])
    # single-row totals broadcast back via a cross join (tiny), keeping
    # the whole computation one job with no driver collect
    totals = j.agg(F.sum("n_a").alias("ta"), F.sum("n_b").alias("tb"))
    j = j.crossJoin(F.broadcast(totals))
    pa = (F.col("n_a") + F.lit(smoothing)) \
        / (F.col("ta") + F.lit(smoothing))
    pb = (F.col("n_b") + F.lit(smoothing)) \
        / (F.col("tb") + F.lit(smoothing))
    return j.select(
        "cat", "n_a", "n_b",
        pa.alias("p_a"), pb.alias("p_b"),
        ((pa - pb) * F.log(pa / pb)).alias("psi_contrib"))
