"""Uniqueness + referential-integrity checks at table scale (north_rule).

The reference's closest analogues are intra-document: ``uniqueItems``
(validators/unique_items.rs) and ``dependencies`` (validators/
dependencies.rs). These operators are their cross-document lifts:

* **uniqueness** — duplicate key detection is a hash aggregation on the
  key; partial aggregation means each mapper emits at most one row per
  distinct key, so the shuffle carries ~|distinct| not |rows|. For hot
  keys (skewed prefixes) AQE handles the residual skew; no salting is
  needed because count aggregation is associative.
* **referential** — orphan detection is LEFT ANTI join child→parent. The
  parent side is broadcast when under the threshold (dimension tables);
  otherwise it is a shuffle join on the key where AQE's skew-join splits
  oversized partitions. At 100 TB, bucketing both tables by the key makes
  this a zero-shuffle sort-merge join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def duplicate_keys(df: DataFrame, keys: list[str]) -> DataFrame:
    """Keys appearing more than once: (key..., dup_count)."""
    return (df.groupBy(*keys)
              .agg(F.count(F.lit(1)).alias("dup_count"))
              .where(F.col("dup_count") > 1))


def uniqueness_violations(df: DataFrame, keys: list[str],
                          id_cols: list[str] | None = None) -> DataFrame:
    """All rows participating in a duplicated key (for the audit sink).

    Implemented as a window-free self-semi-join against the duplicate key
    set — avoids a global sort. No broadcast hint: duplicate-key
    cardinality is unbounded (adversarial input: everything duplicated),
    so the join strategy is left to AQE, which broadcasts only when the
    measured build side is actually small.
    """
    dups = duplicate_keys(df, keys)
    return df.join(dups.select(*keys), on=keys, how="semi") \
        .select(*(id_cols or df.columns))


def orphans(child: DataFrame, child_key, parent: DataFrame, parent_key,
            broadcast_parent: bool | None = None) -> DataFrame:
    """Child rows whose key has no match in the parent (dangling refs).

    NULL child keys are not orphans (absent ≡ no reference), matching the
    reference's dependencies semantics (only present keys trigger).
    """
    child_key = [child_key] if isinstance(child_key, str) else list(child_key)
    parent_key = ([parent_key] if isinstance(parent_key, str)
                  else list(parent_key))
    # no distinct: a left-anti join ignores duplicate parent keys, and
    # a distinct would only add an aggregation stage before the join
    p = parent.select(*[F.col(pk).alias(ck)
                        for pk, ck in zip(parent_key, child_key)])
    if broadcast_parent:
        p = F.broadcast(p)
    present = None
    for ck in child_key:
        pr = child[ck].isNotNull()
        present = pr if present is None else (present & pr)
    return (child.where(present)
                 .join(p, on=child_key, how="left_anti"))


def asof_join(left: DataFrame, right: DataFrame, key: str,
              left_ts: str, right_ts: str,
              payload_cols: list[str],
              tolerance=None) -> DataFrame:
    """Backward as-of join: every left row gains the payload of the
    LATEST right row with the same key and ``right_ts <= left_ts``
    (NULLs when no prior right row exists) — the event-to-latest-
    snapshot enrichment Spark has no native operator for. With
    ``tolerance`` (a Column-comparable duration: numeric for numeric
    timestamps, e.g. ``F.expr("INTERVAL 1 DAY")`` for timestamps),
    snapshots older than ``left_ts - tolerance`` are treated as absent
    — the pandas ``merge_asof(tolerance=...)`` contract.

    Distributed shape — the union + running-last trick, ONE shuffle:
    both sides are union-tagged and sorted per key by (ts, side) with
    the right side ordered FIRST on ties (<= semantics), then a
    ``last(payload, ignorenulls=True)`` running window propagates the
    newest snapshot forward; left rows are then filtered back out. No
    per-key loop, no range explosion, no Python — at 100 TB this is a
    single key-shuffle exactly like any groupBy, and skewed keys are
    AQE's problem, same as every other agg.

    Ties WITHIN the right side (same key, same ts) must be resolved by
    the caller (pre-aggregate to one row per (key, ts)) — running-last
    would otherwise pick the physical order. The same requirement makes
    an independent engine's ASOF JOIN (e.g. DuckDB's) a well-defined
    oracle.
    """
    from pyspark.sql import Window

    lcols = [c for c in left.columns]
    # the payload travels as ONE struct so the running-last adopts the
    # newest snapshot atomically — per-column ignorenulls fills would
    # stitch fields from DIFFERENT snapshots when some are NULL
    # the snapshot ts rides inside the fill struct so a tolerance
    # check can compare against the ADOPTED snapshot, not the newest
    r_payload = F.struct(F.col(right_ts).alias("__rt"),
                         *[F.col(c) for c in payload_cols])
    r = right.select(
        F.col(key).alias("__k"), F.col(right_ts).alias("__t"),
        F.lit(0).alias("__side"),
        F.lit(None).cast(
            left.select(F.struct(*[F.col(c) for c in lcols])
                        .alias("s")).schema["s"].dataType).alias("__row"),
        r_payload.alias("__p"))
    l = left.select(
        F.col(key).alias("__k"), F.col(left_ts).alias("__t"),
        F.lit(1).alias("__side"),
        F.struct(*[F.col(c) for c in lcols]).alias("__row"),
        F.lit(None).cast(
            right.select(r_payload.alias("s")).schema["s"].dataType)
         .alias("__p"))
    u = l.unionByName(r)
    w = (Window.partitionBy("__k").orderBy("__t", "__side")
               .rowsBetween(Window.unboundedPreceding, 0))
    filled = u.select(
        "__side", "__row", "__t",
        F.last("__p", ignorenulls=True).over(w).alias("__f"))
    if tolerance is not None:
        fresh = F.col("__f.__rt") >= F.col("__t") - tolerance
        filled = filled.withColumn(
            "__f", F.when(fresh, F.col("__f")))
    return (filled.where(F.col("__side") == 1)
                  .select(*[F.col(f"__row.{c}").alias(c) for c in lcols],
                          *[F.col(f"__f.{c}").alias(c)
                            for c in payload_cols]))


def range_join(left: DataFrame, right: DataFrame,
               left_point: str, right_lo: str, right_hi: str,
               bucket_width: float, key: str | None = None,
               how: str = "inner") -> DataFrame:
    """Point-in-interval join (``lo <= point < hi``) for LARGE x LARGE
    sides — the other relational operator Spark lacks natively (its
    planner turns a bare inequality join into a broadcast nested loop,
    which is only viable when one side is tiny).

    Bucketization: every point lands in bucket ``floor(point/W)``; every
    interval replicates to buckets ``floor(lo/W) .. floor(hi/W)``. An
    equi-join on (key?, bucket) then finds every qualifying pair —
    floor is monotone, so ``lo <= p < hi`` forces the point's bucket
    into the interval's bucket range regardless of float rounding — and
    the residual inequality filter removes false bucket-mates. A point
    belongs to exactly ONE bucket, so no post-join dedup is needed.

    Scale shape: one hash shuffle on (key, bucket); replication factor
    = interval span / W, so ``bucket_width`` trades shuffle volume
    against bucket selectivity. Nothing quadratic, no nested loop.

    Only ``how='inner'`` is supported: the residual ``lo <= p < hi``
    predicate is applied as a post-join filter, which would silently
    drop the null-extended rows of any outer join and degenerate it to
    inner — refused loudly rather than mis-answered (ADVICE r4).
    """
    if how != "inner":
        raise ValueError(
            "range_join supports how='inner' only: the residual "
            "point-in-interval filter runs after the bucket equi-join "
            "and would drop an outer join's null-extended rows "
            f"(got how={how!r})")
    point_b = F.floor(F.col(left_point) / F.lit(bucket_width))
    l = left.withColumn("__b", point_b.cast("long"))
    lo_b = F.floor(F.col(right_lo) / F.lit(bucket_width)).cast("long")
    hi_b = F.floor(F.col(right_hi) / F.lit(bucket_width)).cast("long")
    r = (right.withColumn("__b", F.explode(F.sequence(lo_b, hi_b))))
    on = ["__b", key] if key else ["__b"]
    return (l.join(r, on=on, how=how)
             .where((F.col(left_point) >= F.col(right_lo))
                    & (F.col(left_point) < F.col(right_hi)))
             .drop("__b"))


def interval_overlap_join(left: DataFrame, right: DataFrame,
                          left_lo: str, left_hi: str,
                          right_lo: str, right_hi: str,
                          bucket_width: float,
                          key: str | None = None,
                          suffix: str = "_r") -> DataFrame:
    """Interval x interval overlap join (half-open: ``a.lo < b.hi AND
    b.lo < a.hi``) without a nested loop: both sides replicate their
    intervals across ``floor(lo/W) .. floor(hi/W)`` buckets and
    equi-join on (key?, bucket).

    Exactly-once without a dedup shuffle: an overlapping pair co-occurs
    in every bucket both intervals span, so each joined row also checks
    ``bucket == floor(greatest(a.lo, b.lo) / W)`` — the CANONICAL
    bucket, computable from the pair itself — and survives exactly
    once. (The canonical bucket is always shared: greatest(a.lo, b.lo)
    lies inside both intervals when they overlap.)

    Scale shape: one hash shuffle on (key, bucket); replication factor
    = span / W per side. Right-side columns are suffixed on collision.
    """
    def bucketed(df, lo, hi, tag):
        lo_b = F.floor(F.col(lo) / F.lit(bucket_width)).cast("long")
        hi_b = F.floor(F.col(hi) / F.lit(bucket_width)).cast("long")
        return df.withColumn("__b", F.explode(F.sequence(lo_b, hi_b)))

    l = bucketed(left, left_lo, left_hi, "l").withColumnRenamed(
        "__b", "__bl")
    rcols = {c: (c if c not in left.columns else c + suffix)
             for c in right.columns}
    r = bucketed(right, right_lo, right_hi, "r").select(
        F.col("__b").alias("__br"),
        *[F.col(c).alias(n) for c, n in rcols.items()])
    # key stays INSIDE the equi-join condition (hash keys = key+bucket):
    # filtering it after a bucket-only join would pair every interval in
    # a bucket across all keys first — bucket-wide quadratic
    cond = F.col("__bl") == F.col("__br")
    if key:
        cond = cond & (F.col(key) == F.col(rcols[key]))
    j = l.join(r, cond).withColumnRenamed("__bl", "__b").drop("__br")
    a_lo, a_hi = F.col(left_lo), F.col(left_hi)
    b_lo = F.col(rcols[right_lo])
    b_hi = F.col(rcols[right_hi])
    canonical = F.floor(F.greatest(a_lo, b_lo) / F.lit(bucket_width)) \
                 .cast("long")
    return (j.where((a_lo < b_hi) & (b_lo < a_hi)
                    & (F.col("__b") == canonical))
             .drop("__b"))
