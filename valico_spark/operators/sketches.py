"""t-digest quantile sketch (Dunning & Ertl) — the alternative to GK.

``stats.profile`` uses Spark's built-in GK sketch (``percentile_approx``)
because it folds into the single combined aggregation pass. The t-digest
(SURVEY.md §7 "GK/t-digest quantiles") trades that for relative accuracy
at the TAILS — its k1 scale function caps centroid width by
q(1-q), so p99.9 of a heavy-tailed latency/length column is sharp where
GK's uniform rank error blurs it. That is the sketch you want for the
"oversized span arrays" skew checks at corpus scale.

Distribution shape (no driver-side data pass, no per-row Python):

1. ``mapInPandas`` builds one digest per input PARTITION (Arrow batches
   accumulate into a buffer that compresses at 10x delta) — map-side
   compression, emits ~delta centroids per partition, i.e. the shuffle
   volume is |partitions| x delta regardless of row count.
2. A two-level executor-side merge: partition digests group by
   ``digest_id % fanout`` and merge (``applyInPandas``), then the
   ≤ fanout level-1 digests merge to one. At 10^5+ partitions the
   level-1 fan-in stays bounded, so no single task sees more than
   max(|partitions|/fanout, fanout) x delta centroids.
3. Only the FINAL digest (two arrays of ~delta doubles) reaches the
   driver — same contract as every other bounded collect in the engine.

Merging digests are deterministic given the input multiset per digest,
but the PARTITION split is not semantically meaningful, so two cluster
layouts may differ in the last ulps of a quantile estimate: this sketch
is for monitoring/drift tiers, not the exact-oracle driver slate (GK's
``exact=True`` mode covers that, stats.py).
"""

from __future__ import annotations

import math
from typing import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from valico_spark.operators.util import drop_zip_importers


class TDigest:
    """Merging t-digest with the k1 (arcsine) scale function.

    Centroids are kept as parallel numpy arrays (mean, weight), sorted
    by mean. ``compress`` re-clusters greedily left-to-right, allowing a
    merge while the candidate cluster's k-span stays ≤ 1 — the invariant
    that bounds centroid weight by ~4 n q(1-q) / delta.
    """

    __slots__ = ("delta", "means", "weights", "_min", "_max")

    def __init__(self, delta: int = 200):
        if delta < 20:
            raise ValueError("delta < 20 gives a uselessly coarse digest")
        self.delta = delta
        self.means = np.empty(0)
        self.weights = np.empty(0)
        self._min = math.inf
        self._max = -math.inf

    # -- construction ---------------------------------------------------
    @classmethod
    def of(cls, values: np.ndarray, delta: int = 200,
           weights: np.ndarray | None = None) -> "TDigest":
        d = cls(delta)
        v = np.asarray(values, dtype=np.float64)
        v = v[~np.isnan(v)]
        if len(v):
            d._absorb(v, np.ones(len(v)) if weights is None
                      else np.asarray(weights, dtype=np.float64))
        return d

    def _k(self, q: float) -> float:
        return (self.delta / (2 * math.pi)) * math.asin(2 * q - 1)

    def _k_inv(self, k: float) -> float:
        k = min(max(k, -self.delta / 4.0), self.delta / 4.0)
        return (math.sin(k * 2 * math.pi / self.delta) + 1) / 2

    def _absorb(self, means: np.ndarray, weights: np.ndarray) -> None:
        """Merge (means, weights) into the digest and recompress.

        Standard merging-digest scan: one loop iteration per OUTPUT
        centroid (~delta of them), each taking the longest sorted run
        whose q-span keeps k(q_right) - k(q_left) ≤ 1 — the invariant
        that bounds centroid weight by ~4 n q(1-q) / delta. A single
        point heavier than the limit becomes its own centroid.
        """
        m = np.concatenate([self.means, means])
        w = np.concatenate([self.weights, weights])
        order = np.argsort(m, kind="mergesort")
        m, w = m[order], w[order]
        self._min = min(self._min, float(m[0]))
        self._max = max(self._max, float(m[-1]))
        csum = np.cumsum(w)
        total = float(csum[-1])
        out_m: list[float] = []
        out_w: list[float] = []
        i = 0
        q_left = 0.0
        npts = len(m)
        while i < npts:
            w_lim = self._k_inv(self._k(min(q_left, 1.0)) + 1.0) * total
            j = int(np.searchsorted(csum, w_lim, side="right")) - 1
            if j < i:
                j = i
            left = csum[i - 1] if i else 0.0
            cw = float(csum[j] - left)
            # per-run dot, not a cumulative difference: immune to the
            # catastrophic cancellation a global cumsum(m*w) would risk
            out_m.append(float(np.dot(m[i:j + 1], w[i:j + 1]) / cw))
            out_w.append(cw)
            q_left = float(csum[j]) / total
            i = j + 1
        self.means = np.asarray(out_m)
        self.weights = np.asarray(out_w)

    def merge(self, other: "TDigest") -> "TDigest":
        if other.n == 0:
            return self
        if self.n == 0:
            self.means, self.weights = other.means, other.weights
            self._min, self._max = other._min, other._max
            return self
        self._min = min(self._min, other._min)
        self._max = max(self._max, other._max)
        self._absorb(other.means, other.weights)
        return self

    # -- queries ---------------------------------------------------------
    @property
    def n(self) -> float:
        return float(self.weights.sum()) if len(self.weights) else 0.0

    def quantile(self, q: float) -> float:
        """Interpolated quantile estimate; exact at the extremes."""
        if not 0.0 <= q <= 1.0:
            raise ValueError("q must be in [0, 1]")
        if self.n == 0:
            return math.nan
        if len(self.means) == 1:
            return float(self.means[0])
        total = self.n
        target = q * total
        # centroid i is centered at cum_i = sum(w[:i]) + w[i]/2
        cum = np.cumsum(self.weights) - self.weights / 2.0
        if target <= cum[0]:
            # interpolate from the true min to the first centroid center
            frac = target / cum[0] if cum[0] > 0 else 0.0
            return self._min + frac * (float(self.means[0]) - self._min)
        if target >= cum[-1]:
            span = total - cum[-1]
            frac = (target - cum[-1]) / span if span > 0 else 1.0
            return float(self.means[-1]) + frac * (
                self._max - float(self.means[-1]))
        i = int(np.searchsorted(cum, target, side="right"))
        lo, hi = cum[i - 1], cum[i]
        frac = (target - lo) / (hi - lo) if hi > lo else 0.0
        return float(self.means[i - 1]
                     + frac * (self.means[i] - self.means[i - 1]))

    def rank(self, x: float) -> float:
        """Approximate q of value x (inverse of quantile), for tests."""
        if self.n == 0:
            return math.nan
        cum = np.cumsum(self.weights) - self.weights / 2.0
        qs = np.interp(x, np.concatenate([[self._min], self.means,
                                          [self._max]]),
                       np.concatenate([[0.0], cum, [self.n]]))
        return float(qs) / self.n


_DIGEST_SCHEMA = T.StructType([
    T.StructField("gid", T.IntegerType()),
    T.StructField("means", T.ArrayType(T.DoubleType())),
    T.StructField("weights", T.ArrayType(T.DoubleType())),
    T.StructField("vmin", T.DoubleType()),
    T.StructField("vmax", T.DoubleType()),
])


def _digest_rows(pdfs: Iterable[pd.DataFrame], col: str, delta: int,
                 fanout: int) -> Iterator[pd.DataFrame]:
    drop_zip_importers()
    d = TDigest(delta)
    buf: list[np.ndarray] = []
    buffered = 0
    for pdf in pdfs:
        v = pdf[col].to_numpy(dtype=np.float64, na_value=np.nan)
        v = v[~np.isnan(v)]
        if len(v):
            buf.append(v)
            buffered += len(v)
        if buffered >= 10 * delta:  # amortize the O(m log m) compress
            d._absorb(np.concatenate(buf), np.ones(buffered))
            buf, buffered = [], 0
    if buffered:
        d._absorb(np.concatenate(buf), np.ones(buffered))
    if d.n:
        gid = hash((float(d.means[0]), d.n)) % fanout
        yield pd.DataFrame({"gid": [gid], "means": [list(d.means)],
                            "weights": [list(d.weights)],
                            "vmin": [d._min], "vmax": [d._max]})


def _merge_rows(pdf: pd.DataFrame, delta: int) -> pd.DataFrame:
    drop_zip_importers()
    d = TDigest(delta)
    for _, row in pdf.iterrows():
        o = TDigest(delta)
        o.means = np.asarray(row["means"])
        o.weights = np.asarray(row["weights"])
        o._min, o._max = row["vmin"], row["vmax"]
        d.merge(o)
    return pd.DataFrame({"gid": [0], "means": [list(d.means)],
                         "weights": [list(d.weights)],
                         "vmin": [d._min], "vmax": [d._max]})


def tdigest_of(df: DataFrame, column: str, delta: int = 200,
               fanout: int = 32) -> TDigest:
    """Distributed t-digest of a numeric column.

    One scan; per-partition digests via ``mapInPandas`` (shuffle volume
    |partitions| x delta, independent of row count); two executor-side
    merge levels bounded by ``fanout``; ONE final digest row collected.
    NaN/NULL values are ignored (quantiles of nothing are NaN).
    """
    src = df.select(F.col(column).cast("double").alias(column))
    parts = src.mapInPandas(
        lambda it: _digest_rows(it, column, delta, fanout),
        schema=_DIGEST_SCHEMA)
    level1 = parts.groupBy("gid").applyInPandas(
        lambda pdf: _merge_rows(pdf, delta), schema=_DIGEST_SCHEMA)
    final = (level1.withColumn("gid", F.lit(0)).groupBy("gid")
                   .applyInPandas(lambda pdf: _merge_rows(pdf, delta),
                                  schema=_DIGEST_SCHEMA)).collect()
    d = TDigest(delta)
    if final:
        row = final[0]
        d.means = np.asarray(row["means"])
        d.weights = np.asarray(row["weights"])
        d._min, d._max = row["vmin"], row["vmax"]
    return d


def tdigest_quantiles(df: DataFrame, column: str,
                      quantiles: list[float],
                      delta: int = 200, fanout: int = 32) -> list[float]:
    """Convenience wrapper: estimated quantile values for ``column``."""
    d = tdigest_of(df, column, delta, fanout)
    return [d.quantile(q) for q in quantiles]
