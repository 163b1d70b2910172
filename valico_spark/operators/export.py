"""Training-export tier: mixture sampling, deterministic corpus
shuffle, and size-balanced shard writing — the last mile between a
curated corpus and a dataloader.

Reference scope: none (the reference is a per-document validator);
these are the engine-level operations a pretraining run needs after
curation (plans/pipeline.py) and packing (operators/packing.py).

Scale/determinism design:

* Every decision keys on a ROW hash (sampling.sample_hash — Lehmer,
  SQL-portable — or xxhash64), never on RNG state or partition layout:
  the same corpus produces the same mixture, the same global order,
  and the same shard assignment on any cluster size, any engine, any
  rerun. That is what makes a 100 TB export auditable.
* ``mixture_sample`` is downsampling-only, with the max-feasible-corpus
  rule: given target source proportions w_s and available token masses
  t_s, the largest total T with w_s*T <= t_s for all s is
  T = min_s(t_s / w_s); the binding source keeps rate 1.0 and every
  other source downsamples to w_s*T/t_s. Upsampling (multi-epoch
  repetition) is a dataloader concern, not a corpus transform — a
  sampler that silently duplicates rows would corrupt every downstream
  dedup/count invariant.
* ``deterministic_shuffle`` is ONE range-partitioned sort on a hash
  key — the Spark-native global shuffle. ``write_shards`` is ONE hash
  repartition + per-partition local sort, no global sort at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from valico_spark.operators.sampling import stratified_sample
from valico_spark.operators.util import local_frame


def mixture_rates(token_counts: dict[str, int],
                  weights: dict[str, float]) -> dict[str, dict]:
    """Driver-side mixture math (|sources| entries — bounded): per
    source, the deterministic keep-rate and the token target under the
    max-feasible-corpus rule. Sources with zero weight get rate 0.
    Raises if a weighted source has no tokens (its feasible total is
    0 — almost always a misconfigured source name)."""
    pos = {s: w for s, w in weights.items() if w > 0}
    if not pos:
        raise ValueError("at least one source needs a positive weight")
    wsum = sum(pos.values())
    pos = {s: w / wsum for s, w in pos.items()}
    # a source whose every row has NULL tokens sums to None — treat as 0
    token_counts = {s: (t or 0) for s, t in token_counts.items()}
    missing = [s for s in pos if token_counts.get(s, 0) <= 0]
    if missing:
        raise ValueError(
            f"weighted sources with no tokens in the corpus: {missing}")
    total = min(token_counts[s] / w for s, w in pos.items())
    out = {}
    for s, w in pos.items():
        target = w * total
        out[s] = {"weight": w,
                  "available_tokens": int(token_counts[s]),
                  "target_tokens": int(target),
                  "rate": min(target / token_counts[s], 1.0)}
    return out


def mixture_sample(df: DataFrame, weights: dict[str, float],
                   source_col: str = "source", id_col: str = "doc_id",
                   token_col: str = "n_tokens") \
        -> tuple[DataFrame, DataFrame]:
    """Downsample per source so token masses follow ``weights`` —
    returns ``(sampled, report)``.

    One aggregation computes the per-source token masses (shuffle is
    |sources| rows); the rates come from :func:`mixture_rates`; the
    sample itself is a row-local deterministic-hash filter (zero
    shuffle, same row always in or out). ``report`` has one row per
    weighted source: weight, available/target tokens, rate, and the
    ACHIEVED token count of the sample (hash sampling hits the target
    in expectation; the report shows the realized mass so an audit
    never has to trust the expectation). Sources not in ``weights``
    (or weighted 0) are dropped.
    """
    counts = {r["s"]: r["t"] for r in
              (df.groupBy(F.col(source_col).alias("s"))
                 .agg(F.sum(token_col).alias("t"))).collect()}
    rates = mixture_rates(counts, weights)

    # one keep/drop decision rule in the package: the per-stratum
    # threshold chain lives in sampling.stratified_sample (unweighted
    # sources get the default fraction 0.0 -> dropped)
    sampled = stratified_sample(
        df, id_col, source_col,
        {s: info["rate"] for s, info in rates.items()})

    achieved = {r["s"]: r["t"] for r in
                (sampled.groupBy(F.col(source_col).alias("s"))
                        .agg(F.sum(token_col).alias("t"))).collect()}
    report = local_frame(
        df.sparkSession,
        [(s, float(i["weight"]), i["available_tokens"],
          i["target_tokens"], float(i["rate"]),
          int(achieved.get(s, 0)))
         for s, i in sorted(rates.items())],
        "source string, weight double, available_tokens long, "
        "target_tokens long, rate double, achieved_tokens long")
    return sampled, report


def deterministic_shuffle(df: DataFrame, id_col: str = "doc_id",
                          seed: int = 0) -> DataFrame:
    """Global training-order shuffle: total order by
    ``xxhash64(id, seed)`` with the id as tie-break — a permutation
    that is identical on any cluster size and reproducible per seed.
    Cost shape: Spark's sampled range partitioning + per-partition
    sort; the ONLY global-sort operator in the package, and the one
    place a global sort is the actual requirement."""
    return df.orderBy(F.xxhash64(F.col(id_col), F.lit(seed)),
                      F.col(id_col))


def shard_column(id_col: str, n_shards: int, seed: int = 0):
    """Deterministic shard assignment in [0, n_shards)."""
    return F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)),
                  F.lit(n_shards)).cast("int")


def write_shards(df: DataFrame, path: str, n_shards: int,
                 id_col: str = "doc_id", seed: int = 0,
                 max_records_per_file: int | None = None) -> DataFrame:
    """Write the corpus as ``n_shards`` hash-balanced parquet shards
    (``shard=K`` directories) with a deterministic within-shard order —
    the dataloader-facing layout. ONE hash repartition, local sorts
    only (no global sort: shard interleave order is the loader's seed
    choice, not a corpus property). Returns the manifest
    ``(shard, n_rows)`` read back from the WRITTEN files, so the
    manifest can never disagree with the data."""
    out = (df.withColumn("shard", shard_column(id_col, n_shards, seed))
             .repartition(n_shards, F.col("shard"))
             .sortWithinPartitions(F.xxhash64(F.col(id_col),
                                              F.lit(seed)),
                                   F.col(id_col)))
    w = out.write.mode("overwrite").partitionBy("shard")
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    w.parquet(path)
    # explicit schema on the read-back: an all-dropped corpus writes
    # only _SUCCESS, and schema inference over zero files would throw
    # at the very end of an otherwise successful export
    return (df.sparkSession.read.schema(out.schema).parquet(path)
              .groupBy("shard").agg(F.count(F.lit(1)).alias("n_rows"))
              .orderBy("shard"))
