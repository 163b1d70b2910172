"""Similarity search over embedding columns (array<float>).

* ``cosine`` / ``dot`` — pure column expressions (zip_with + aggregate in
  double precision, left-to-right fold — deterministic and portable).
* ``brute_force_topk`` — exact k-NN: broadcast the (small) query set,
  per-partition score + window top-k. Shuffle carries only
  |queries|·k·partitions candidate rows after partial ranking.
* ``lsh_topk`` — SRP bucketing with L OR-amplified tables + multi-probe;
  planes are generated driver-side from a seed and inlined as literals —
  no UDF, no shuffle beyond the bucket join.
* ``ivf_topk`` — the inverted-file scale path: spherical k-means
  centroids from a bounded sample, corpus partitioned by nearest
  centroid, queries probe nprobe cells; candidate fraction ~
  nprobe/n_centroids.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from valico_spark.operators.util import (cap_group_size, drop_zip_importers,
                                         ensure_min_partitions)


def dot(a: Column, b: Column) -> Column:
    prods = F.zip_with(a, b,
                       lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def quantize_embeddings(df: DataFrame, vec_col: str = "embedding",
                        id_col: str = "vec_id") -> DataFrame:
    """Per-vector symmetric int8 quantization: 4x smaller embedding
    storage (the difference between 100 TB and 25 TB of vectors) at
    <1% cosine error for unit-ish vectors.

    scale = max|x| / 127 (1.0 for all-zero vectors); q_i =
    round(x_i / scale). Pure codegen arithmetic — float->double
    promotion, IEEE division, round-half-away-from-zero — identical in
    any engine, so the quantized codes are portable and oracle-able.
    Dequantize with ``transform(qvec, q -> q * scale)``.
    """
    amax = F.array_max(F.transform(F.col(vec_col), lambda x: F.abs(x)))
    scale = F.when(amax == 0, F.lit(1.0)).otherwise(amax / F.lit(127.0))
    return (df.withColumn("scale", scale)
              .select(F.col(id_col),
                      F.round(F.col("scale"), 9).alias("scale_r"),
                      F.transform(
                          F.col(vec_col),
                          lambda x: F.round(x / F.col("scale"))
                                     .cast("int")).alias("qvec")))


def dequantize(qvec: Column, scale: Column) -> Column:
    """Inverse of ``quantize_embeddings`` (array<int>, scale) ->
    array<float>."""
    return F.transform(qvec, lambda q: (q * scale).cast("float"))


def _blocked_pairs_arrow(df: DataFrame, threshold: float, id_col: str,
                         vec_col: str, block_col: str,
                         max_block_size: int | None) -> DataFrame:
    """Blocked all-pairs cosine as ONE Arrow stage: groupBy(block) →
    ``applyInPandas`` → per-block numpy. Replaces the SQL self-join whose
    per-pair cost was an interpreted zip_with+aggregate fold (~183 ns/
    element vs BLAS): the block's vectors cross the Python boundary once
    (|block| rows, not |block|² pair rows), candidate pairs come from a
    chunked float64 GEMM, and every emitted ``sim`` is RECOMPUTED in the
    exact IEEE order of the SQL expression — ``acc = 0.0; acc += (double)
    a_j * (double) b_j`` left to right, then ``dot / (nrm_a * nrm_b)``
    with ``nrm = sqrt(fold(x_j*x_j))`` — so the output is bit-identical
    to the zip_with/aggregate plan (GEMM blocking only selects
    candidates, with a 1e-9 margin >> the ~1e-13 f64 reassociation
    error; the exact pass makes the final >= threshold decision).

    The mega-block rail moves into the worker (same message contract as
    :func:`valico_spark.operators.util.cap_group_size`): a group larger
    than ``max_block_size`` raises before any pair is formed.

    Scale shape: one shuffle keyed on the block (the same exchange the
    SQL self-join needed twice), no pair-row materialization outside
    the worker, memory bounded by |block|·dim + a ~160 MB GEMM chunk.
    NaN components are excluded-by-construction upstream (zero-norm
    filter); vectors must share one dimensionality per block.
    """
    import pandas as pd

    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = f"a_id {id_type}, b_id {id_type}, sim double"
    thr = float(threshold)
    cap = max_block_size

    def block_pairs(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        drop_zip_importers()
        n = len(pdf)
        if cap is not None and n > cap:
            blk = pdf[block_col].iloc[0]
            raise ValueError(
                f"all_pairs_above: group ({blk},) exceeds "
                f"max_group_size={cap} with {n} rows — split the block "
                "key finer (more centroids / more block bits), "
                "pre-collapse duplicate vectors, or raise "
                "max_block_size")
        ids = pdf[id_col].to_numpy()
        A = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        d = A.shape[1]
        acc = np.zeros(n)
        for j in range(d):           # fold-order norm: exact SQL parity
            acc = acc + A[:, j] * A[:, j]
        nrm = np.sqrt(acc)
        empty = pd.DataFrame({"a_id": ids[:0], "b_id": ids[:0],
                              "sim": np.zeros(0)})
        outs = []
        chunk = max(1, int(2e7) // max(n, 1))
        for s0 in range(0, n, chunk):
            s1 = min(s0 + chunk, n)
            approx = (A[s0:s1] @ A.T) / (nrm[s0:s1, None] * nrm[None, :])
            rows, cols = np.nonzero(approx >= thr - 1e-9)
            rows += s0
            keep = ids[rows] < ids[cols]   # value order, not position
            rows, cols = rows[keep], cols[keep]
            if not len(rows):
                continue
            av, bv = A[rows], A[cols]
            acc = np.zeros(len(rows))
            for j in range(d):       # fold-order dot for the candidates
                acc = acc + av[:, j] * bv[:, j]
            sim = acc / (nrm[rows] * nrm[cols])
            m = sim >= thr
            outs.append(pd.DataFrame({"a_id": ids[rows[m]],
                                      "b_id": ids[cols[m]],
                                      "sim": sim[m]}))
        if not outs:
            return empty
        return pd.concat(outs, ignore_index=True)

    return (df.select(F.col(id_col), F.col(vec_col), F.col(block_col))
              .groupBy(block_col)
              .applyInPandas(block_pairs, out_schema))


def all_pairs_above(df: DataFrame, threshold: float,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    block_col: str | None = None,
                    block_bits: int | None = None,
                    dim: int | None = None, seed: int = 7,
                    allow_quadratic: bool = False,
                    max_block_size: int | None = 100_000,
                    engine: str = "arrow") -> DataFrame:
    """All (a,b) pairs with cosine ≥ threshold, a.id < b.id.

    ``block_col`` restricts comparisons to equal blocking keys (e.g. an
    LSH bucket or label) — at scale this is what bounds the join; without
    it the operator is quadratic and only suitable for sampled tiers, so
    unblocked input is REFUSED unless ``allow_quadratic=True`` is passed
    explicitly (a future caller cannot trip the crossJoin by accident).
    Alternatively pass ``block_bits``+``dim`` to derive the blocking key
    from an SRP-LSH bucket of the vector itself (the 100 TB path when no
    natural blocking column exists): recall is bounded by bucket
    collisions of true pairs — near-dups (cosine >= 0.9) agree per bit
    with p ~ 0.9, so 8 bits keeps ~43%% per table; callers needing higher
    recall union several seeds.

    Hot-block guard: a block of c vectors joins into c^2/2 pairs, and on
    real corpora one skewed block (an exact-duplicate embedding cluster,
    a degenerate label) is the 100x job-killer. Blocks are plan-asserted
    to ``max_block_size`` rows (window count under the join's own hash
    partitioning — no extra exchange); ``None`` disables the rail.
    """
    if block_col is None and block_bits is None and not allow_quadratic:
        raise ValueError(
            "all_pairs_above without block_col/block_bits is a crossJoin "
            "(quadratic in the corpus); pass allow_quadratic=True only "
            "for sampled tiers, or block_bits+dim for SRP-LSH blocking")
    if block_col is None and block_bits is not None:
        if dim is None:
            raise ValueError("block_bits requires dim")
        planes = srp_planes(dim, block_bits, seed)
        df = df.withColumn("__srp_blk",
                           srp_bucket(F.col(vec_col), planes))
        block_col = "__srp_blk"
    # zero-norm vectors have UNDEFINED cosine, and the NaN that
    # 0.0/0.0 produces compares GREATER than everything in Spark SQL
    # (NaN ordering) — one null-ish vector would otherwise "match" its
    # whole block above any threshold. Cosine is undefined there by
    # definition: exclude. Null block keys never satisfy the equi-join,
    # so they are dropped too — BEFORE the size guard, which would
    # otherwise count (and could falsely abort on) rows that can never
    # produce a pair.
    df = df.where(norm(F.col(vec_col)) > 0)
    if block_col is not None:
        df = df.where(F.col(block_col).isNotNull())
    if block_col is not None and engine == "arrow":
        # vectorized per-block engine (guide §4.2): the group-size rail
        # lives inside the worker with the same message contract. No
        # ensure_min_partitions on this path — the groupBy(block)
        # exchange sets parallelism, and probing .rdd partition counts
        # on a derived plan makes AQE execute its query stages early.
        return _blocked_pairs_arrow(df, threshold, id_col, vec_col,
                                    block_col, max_block_size)
    df = ensure_min_partitions(df)
    if block_col is not None and max_block_size is not None:
        df = cap_group_size(
            df, [block_col], max_block_size, "all_pairs_above",
            "split the block key finer (more centroids / more block "
            "bits), pre-collapse duplicate vectors, or raise "
            "max_block_size")
    a = df.select(F.col(id_col).alias("a_id"),
                  F.col(vec_col).alias("a_vec"),
                  norm(F.col(vec_col)).alias("a_nrm"),
                  *( [F.col(block_col).alias("__blk")] if block_col else []))
    b = df.select(F.col(id_col).alias("b_id"),
                  F.col(vec_col).alias("b_vec"),
                  norm(F.col(vec_col)).alias("b_nrm"),
                  *( [F.col(block_col).alias("__blk")] if block_col else []))
    joined = (a.join(b, on="__blk") if block_col
              else a.crossJoin(b)).where(F.col("a_id") < F.col("b_id"))
    # per-vector norms computed on the sides, not per pair
    sim = dot(F.col("a_vec"), F.col("b_vec")) \
        / (F.col("a_nrm") * F.col("b_nrm"))
    return (joined.withColumn("sim", sim)
                  .where(F.col("sim") >= threshold)
                  .select("a_id", "b_id", "sim"))


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Exact top-k neighbors of each query vector (query id excluded).

    The query side is broadcast; ranking ties break on neighbor id so the
    result is deterministic.
    """
    q = F.broadcast(queries.select(F.col(id_col).alias("q_id"),
                                   F.col(vec_col).alias("q_vec"),
                                   norm(F.col(vec_col)).alias("q_nrm"))
                    .where(F.col("q_nrm") > 0))
    # parallelism from non-keyed split sizing only — a repartition on the
    # id would shuffle the full corpus for no semantic benefit. Norms are
    # computed ONCE per vector per side: cosine() inline would recompute
    # the corpus norm for every (query, neighbor) pair — |Q|x redundant.
    # Zero-norm vectors: cosine undefined, and its 0/0 NaN sorts FIRST
    # under desc(sim) (Spark NaN ordering) — one zero corpus vector
    # would otherwise top EVERY query's list. Excluded on both sides.
    c = ensure_min_partitions(corpus).select(
        F.col(id_col).alias("n_id"), F.col(vec_col).alias("n_vec"),
        norm(F.col(vec_col)).alias("n_nrm")).where(F.col("n_nrm") > 0)
    scored = (q.crossJoin(c)
               .where(F.col("q_id") != F.col("n_id"))
               .withColumn("sim", dot(F.col("q_vec"), F.col("n_vec"))
                                  / (F.col("q_nrm") * F.col("n_nrm"))))
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("n_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .where(F.col("rank") <= k)
                  .select("q_id", "n_id", "rank", "sim"))


def srp_planes(dim: int, bits: int, seed: int = 7) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((bits, dim)).tolist()


def srp_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-random-projection bucket id (0..2^bits-1) as a long column —
    the SimHash of the embedding."""
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        d = dot(vec, F.array(*[F.lit(float(x)) for x in plane]))
        bucket = bucket + F.when(d >= 0, F.lit(1 << i).cast("long")) \
                           .otherwise(F.lit(0).cast("long"))
    return bucket


def lsh_topk(corpus: DataFrame, queries: DataFrame, k: int,
             bits: int = 8, tables: int = 4, seed: int = 7,
             id_col: str = "vec_id", vec_col: str = "embedding",
             dim: int | None = None, probe_dist: int = 1,
             plane_sets: list[list[list[float]]] | None = None) -> DataFrame:
    """Approximate top-k: SRP-bucketed candidate join then exact rerank.

    Recall amplification, both standard LSH levers:

    * **L hash tables** (OR-amplification): the corpus is bucketed under
      ``tables`` independent plane sets in ONE map stage (an inline
      array → explode, no extra scans); a candidate matches if it shares
      a bucket in ANY table. Recall = 1-(1-p^bits)^tables.
    * **multi-probe**: each query additionally probes every bucket
      within hamming distance ``probe_dist`` of its own (probe_dist=1 →
      1+bits probes per table) — only the tiny query side is exploded.

    Candidates are deduped on (q_id, n_id) before the exact cosine
    rerank so each pair is scored once. ``dim`` should be passed
    explicitly; inferring it costs a driver action, taken on the (small)
    query side only.

    Pass precomputed ``plane_sets`` (``tables`` lists of ``bits`` planes
    each, e.g. rounded literals shared with an external oracle) to make
    the bucketing engine-reproducible; ``bits``/``tables``/``seed``/
    ``dim`` are then taken from its shape.
    """
    if plane_sets is not None:
        if not plane_sets or not plane_sets[0]:
            raise ValueError("plane_sets must contain >=1 non-empty table")
        if len({len(t) for t in plane_sets}) != 1:
            raise ValueError(
                "every plane_sets table must have the same number of "
                "planes (probe masks are generated from table 0's width)")
        tables = len(plane_sets)
        bits = len(plane_sets[0])
    elif dim is None:
        # driver action on the small query relation, never the corpus;
        # probe the first NON-NULL vector — a null first row must not
        # silently pick dim=1 planes (which would hash every vector to
        # bucket 0 and turn the candidate join into a cross product)
        row = (queries.select(vec_col)
                      .where(F.col(vec_col).isNotNull()).first())
        if row is None:
            dim = 1  # no scoreable queries: result is empty anyway
        else:
            dim = len(row[0])
    if plane_sets is None:
        plane_sets = [srp_planes(dim, bits, seed + 7919 * t)
                      for t in range(tables)]

    def buckets_expr(vec):
        return F.array(*[
            F.struct(F.lit(t).alias("tbl"),
                     srp_bucket(vec, plane_sets[t]).alias("bucket"))
            for t in range(tables)])

    # zero-norm exclusion on both sides: undefined cosine, NaN-first
    # ranking (see brute_force_topk)
    c = (ensure_min_partitions(corpus)
         .select(F.col(id_col).alias("n_id"),
                 F.col(vec_col).alias("n_vec"),
                 norm(F.col(vec_col)).alias("n_nrm"),
                 F.explode(buckets_expr(F.col(vec_col))).alias("tb"))
         .where(F.col("n_nrm") > 0)
         .select("n_id", "n_vec", "n_nrm", F.col("tb.tbl").alias("tbl"),
                 F.col("tb.bucket").alias("bucket")))
    qb = (queries.select(F.col(id_col).alias("q_id"),
                         F.col(vec_col).alias("q_vec"),
                         norm(F.col(vec_col)).alias("q_nrm"),
                         F.explode(buckets_expr(F.col(vec_col)))
                          .alias("tb"))
                 .where(F.col("q_nrm") > 0))
    if probe_dist >= 1:
        probes = F.array_distinct(F.array(
            F.col("tb.bucket"),
            *[F.col("tb.bucket").bitwiseXOR(F.lit(1 << i).cast("long"))
              for i in range(bits)]))
    else:
        probes = F.array(F.col("tb.bucket"))
    q = F.broadcast(qb.select("q_id", "q_vec", "q_nrm",
                              F.col("tb.tbl").alias("tbl"),
                              F.explode(probes).alias("bucket")))
    cand = (q.join(c, ["tbl", "bucket"])
             .where(F.col("q_id") != F.col("n_id"))
             .groupBy("q_id", "n_id")
             .agg(F.any_value(F.col("q_vec")).alias("q_vec"),
                  F.any_value(F.col("n_vec")).alias("n_vec"),
                  F.any_value(F.col("q_nrm")).alias("q_nrm"),
                  F.any_value(F.col("n_nrm")).alias("n_nrm")))
    scored = cand.withColumn(
        "sim", dot(F.col("q_vec"), F.col("n_vec"))
               / (F.col("q_nrm") * F.col("n_nrm")))
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("n_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .where(F.col("rank") <= k)
                  .select("q_id", "n_id", "rank", "sim"))


def _kmeans_centroids(sample: "np.ndarray", k: int, iters: int = 8,
                      seed: int = 7) -> "np.ndarray":
    """Tiny driver-side spherical k-means over a SAMPLE (never the
    corpus): the centroid table is an index artifact, like training any
    LSH/IVF structure offline. O(sample * k * iters) numpy."""
    rng = np.random.default_rng(seed)
    x = sample / np.maximum(np.linalg.norm(sample, axis=1, keepdims=True),
                            1e-12)
    # fewer vectors than requested cells: every vector is its own
    # centroid (k > len(x) would crack rng.choice with replace=False)
    k = min(k, len(x))
    cent = x[rng.choice(len(x), size=k, replace=False)]
    for _ in range(iters):
        assign = np.argmax(x @ cent.T, axis=1)
        for j in range(k):
            m = x[assign == j]
            if len(m):
                c = m.mean(axis=0)
                cent[j] = c / max(np.linalg.norm(c), 1e-12)
    return cent


def _sample_centroids(df: DataFrame, id_col: str, vec_col: str,
                      sample_size: int, k: int, seed: int) -> "np.ndarray":
    """Deterministic corpus sample (TakeOrderedAndProject top-N by id —
    a bare limit() picks arbitrary partitions and would train different
    centroids run to run) -> spherical k-means. The only driver-side
    data movement, bounded by ``sample_size``."""
    rows = (df.select(id_col, vec_col)
              .where(F.col(vec_col).isNotNull())
              .orderBy(id_col).limit(int(sample_size))
              .select(vec_col).collect())
    if not rows:
        # empty corpus OR all-null vectors: callers emit the empty result
        return None
    sample = np.array([r[0] for r in rows], dtype=float)
    return _kmeans_centroids(sample, k, seed=seed)


def _empty_topk(corpus: DataFrame, queries: DataFrame,
                id_col: str) -> DataFrame:
    from pyspark.sql import types as T

    return corpus.sparkSession.createDataFrame([], T.StructType([
        T.StructField("q_id", queries.schema[id_col].dataType),
        T.StructField("n_id", corpus.schema[id_col].dataType),
        T.StructField("rank", T.IntegerType()),
        T.StructField("sim", T.DoubleType())]))


def _centroid_scores(vec: Column, centroids: "np.ndarray") -> Column:
    return F.array(*[
        dot(vec, F.array(*[F.lit(float(v)) for v in c]))
        for c in centroids])


def ivf_topk(corpus: DataFrame, queries: DataFrame, k: int,
             n_centroids: int = 16, nprobe: int = 3,
             sample_size: int = 4096, seed: int = 7,
             id_col: str = "vec_id", vec_col: str = "embedding",
             centroids: "np.ndarray | None" = None) -> DataFrame:
    """IVF approximate top-k: the inverted-file scale path.

    1. (offline) spherical k-means centroids from a corpus SAMPLE —
       the only driver-side data movement, bounded by ``sample_size``;
    2. corpus partitioned by nearest centroid (one map stage; at rest
       this is a bucketed/partitioned layout, computed once per index);
    3. each query probes its ``nprobe`` nearest centroids, candidates
       join on the centroid id, exact cosine rerank + window top-k.

    Candidate fraction ≈ nprobe / n_centroids of the corpus; recall is
    high whenever true neighbors share the query's coarse cells (tune
    nprobe up for harder distributions). Pass precomputed ``centroids``
    to skip the sampling job (production: train once, reuse per query
    batch).
    """
    if centroids is None:
        centroids = _sample_centroids(corpus, id_col, vec_col,
                                      sample_size, n_centroids, seed)
        if centroids is None:  # empty corpus: empty result, same schema
            return _empty_topk(corpus, queries, id_col)
    c_scores = _centroid_scores(F.col(vec_col), centroids)
    # zero-norm exclusion on both sides: undefined cosine, NaN-first
    # ranking (see brute_force_topk)
    c = (ensure_min_partitions(corpus)
         .select(F.col(id_col).alias("n_id"),
                 F.col(vec_col).alias("n_vec"),
                 norm(F.col(vec_col)).alias("n_nrm"),
                 (F.array_position(c_scores, F.array_max(c_scores)) - 1)
                 .cast("int").alias("cell"))
         .where(F.col("n_nrm") > 0))
    # query side: indices of the nprobe largest centroid scores —
    # sort (score, idx) structs descending, slice, explode
    scored = F.transform(
        _centroid_scores(F.col(vec_col), centroids),
        lambda s, i: F.struct((-s).alias("neg"), i.alias("idx")))
    probes = F.transform(
        F.slice(F.array_sort(scored), 1, int(nprobe)),
        lambda t: t["idx"])
    q = F.broadcast(
        queries.select(F.col(id_col).alias("q_id"),
                       F.col(vec_col).alias("q_vec"),
                       norm(F.col(vec_col)).alias("q_nrm"),
                       F.explode(probes).alias("cell0"))
               .where(F.col("q_nrm") > 0)
               .select("q_id", "q_vec", "q_nrm",
                       F.col("cell0").cast("int").alias("cell")))
    cand = (q.join(c, "cell")
             .where(F.col("q_id") != F.col("n_id"))
             .withColumn("sim", dot(F.col("q_vec"), F.col("n_vec"))
                                / (F.col("q_nrm") * F.col("n_nrm"))))
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("n_id"))
    return (cand.withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") <= k)
                .select("q_id", "n_id", "rank", "sim"))


def semantic_dedup(df: DataFrame, threshold: float = 0.95,
                   n_centroids: int | None = None,
                   sample_size: int = 4096,
                   seed: int = 7, id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   centroids: "np.ndarray | None" = None,
                   max_cell_size: int | None = 100_000) -> DataFrame:
    """SemDeDup-style semantic deduplication: cluster embeddings into
    coarse cells, then drop every vector with a lower-id near-duplicate
    (cosine >= threshold) in its cell.

    The cells are what makes this the 100 TB path: the quadratic pair
    join runs only WITHIN a cell (candidate fraction ~ 1/n_centroids of
    the square), and cell assignment is one shuffle-free map stage over
    literal centroids — the same inverted-file layout as ``ivf_topk``.
    Recall is bounded by both near-dups landing in the same coarse cell,
    which for cosine >= 0.95 pairs is the overwhelmingly common case
    (they sit within ~18 degrees of each other).

    Returns the report of DROPPED vectors: ``dropped_id``, ``kept_id``
    (the minimum lower id above threshold — the surviving
    representative), ``cell``, ``max_sim`` (highest similarity to any
    lower-id neighbor). Anti-join the report against the corpus to
    materialize survivors.

    Pass precomputed ``centroids`` (train once offline, reuse) to skip
    the sampling job and make runs engine-reproducible.

    ``n_centroids`` defaults to the SemDeDup-style ~sqrt(corpus) rule
    (floored at 16, capped so k-means still has >= 4 sample vectors per
    centroid) — a fixed small constant keeps cells ~N/k and goes
    quadratic at 100x. The derivation costs one metadata-cheap count;
    pass an explicit value (or ``centroids``) to skip it. Cells are
    additionally plan-asserted to ``max_cell_size`` rows via
    :func:`all_pairs_above`'s hot-block guard, so a skewed corpus that
    defeats the coarse clustering fails loudly instead of silently
    squaring inside one cell.
    """
    if centroids is None:
        if n_centroids is None:
            import math
            n = df.count()
            n_centroids = max(16, min(int(math.isqrt(max(n, 0))),
                                      max(sample_size // 4, 16)))
        centroids = _sample_centroids(df, id_col, vec_col,
                                      sample_size, n_centroids, seed)
        if centroids is None:  # empty corpus: nothing to drop
            from pyspark.sql import types as T
            idt = df.schema[id_col].dataType
            return df.sparkSession.createDataFrame([], T.StructType([
                T.StructField("dropped_id", idt),
                T.StructField("kept_id", idt),
                T.StructField("cell", T.IntegerType()),
                T.StructField("max_sim", T.DoubleType())]))
    scores = _centroid_scores(F.col(vec_col), centroids)
    cells = (ensure_min_partitions(df)
             .select(F.col(id_col).alias("vid"),
                     F.col(vec_col).alias("vec"),
                     (F.array_position(scores, F.array_max(scores)) - 1)
                     .cast("int").alias("cell")))
    pairs = all_pairs_above(cells, threshold, id_col="vid",
                            vec_col="vec", block_col="cell",
                            max_block_size=max_cell_size)
    cell_of = cells.select(F.col("vid").alias("b_id"), "cell")
    return (pairs.groupBy("b_id")
                 .agg(F.min("a_id").alias("kept_id"),
                      F.max("sim").alias("max_sim"))
                 .join(cell_of, "b_id")
                 .select(F.col("b_id").alias("dropped_id"), "kept_id",
                         "cell", "max_sim"))


# -- Incremental embedding near-dup (batch vs persisted SRP index) -----------

def srp_index(df: DataFrame, bits: int = 8, tables: int = 4,
              seed: int = 7, dim: int | None = None,
              id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """``(vec_id, buckets, embedding)`` — the persistable SRP-LSH index
    of an embedding corpus, one row per vector with its bucket id under
    each of ``tables`` independent plane sets (same ``seed + 7919*t``
    convention as :func:`lsh_topk`). The vector rides along so
    candidates verify with EXACT cosine without touching the historical
    store (embeddings are small; contrast the text indexes, which
    deliberately carry no text). Zero-norm vectors have undefined
    cosine and never index. The SRP parameters are part of the index's
    identity — persist them alongside the table."""
    if dim is None:
        row = (df.select(vec_col)
                 .where(F.col(vec_col).isNotNull()).first())
        if row is None:
            dim = 1
        else:
            dim = len(row[0])
    plane_sets = [srp_planes(dim, bits, seed + 7919 * t)
                  for t in range(tables)]
    buckets = F.array(*[srp_bucket(F.col(vec_col), ps)
                        for ps in plane_sets])
    return (df.where(norm(F.col(vec_col)) > 0)
              .select(F.col(id_col), buckets.alias("buckets"),
                      F.col(vec_col)))


def _srp_banded(indexed: DataFrame, id_col: str,
                vec_col: str) -> DataFrame:
    """(id, vec, tbl, bucket) from an srp_index-shaped frame — map-only
    (posexplode of the per-table bucket array)."""
    return (indexed.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec"),
        F.posexplode("buckets").alias("tbl", "bucket")))


def embedding_incremental(new_df: DataFrame, index: DataFrame,
                          threshold: float = 0.95, bits: int = 8,
                          tables: int = 4, seed: int = 7,
                          dim: int | None = None,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          max_bucket_size: int | None = 100_000) \
        -> tuple[DataFrame, DataFrame]:
    """Embedding near-dup pairs of a NEW batch vs a persisted SRP index
    (:func:`srp_index`) plus within-batch pairs — the embedding-modality
    member of the incremental family next to exact / MinHash / SimHash.

    Returns ``(pairs, increment)``: ``pairs`` = ``(a_id, b_id, sim,
    vs)`` with exact cosine ≥ ``threshold`` (historical id in ``a_id``
    for ``vs='history'``); ``increment`` = the batch's own index rows to
    append. Recall is bounded by SRP bucket collisions exactly as in
    :func:`all_pairs_above`'s ``block_bits`` path, amplified by the OR
    over ``tables`` plane sets — raise ``tables`` for higher recall.

    Scale shape: the batch is bucketed once (map stage); history is a
    map-only posexplode of the persisted bucket arrays (no re-hash of
    historical vectors, no scan of any wider store); both joins are
    (tbl, bucket) equi-joins; the group-size rail guards the batch side
    and the index's own rail was applied at build time. Decomposition
    invariant pinned by test: pairs(old ∪ new) ≡ within-old ∪
    within-batch ∪ vs-history.
    """
    from valico_spark.operators.util import cap_group_size

    new_idx = srp_index(new_df, bits, tables, seed, dim, id_col, vec_col)
    banded = _srp_banded(new_idx, id_col, vec_col)
    if max_bucket_size is not None:
        banded = cap_group_size(
            banded, ["tbl", "bucket"], max_bucket_size,
            "embedding_incremental",
            "pre-collapse duplicate vectors or raise max_bucket_size")
    l, r = banded.alias("l"), banded.alias("r")
    within = (l.join(r, ["tbl", "bucket"])
               .where(F.col("l.id") < F.col("r.id"))
               .select(F.col("l.id").alias("a_id"),
                       F.col("r.id").alias("b_id"),
                       F.col("l.vec").alias("a_vec"),
                       F.col("r.vec").alias("b_vec"))
               .dropDuplicates(["a_id", "b_id"])
               .withColumn("vs", F.lit("batch")))
    hist = (_srp_banded(index, id_col, vec_col)
            .select(F.col("id").alias("h_id"),
                    F.col("vec").alias("h_vec"), "tbl", "bucket"))
    cross = (banded.join(hist, ["tbl", "bucket"])
                   .where(F.col("h_id") != F.col("id"))
                   .select(F.col("h_id").alias("a_id"),
                           F.col("id").alias("b_id"),
                           F.col("h_vec").alias("a_vec"),
                           F.col("vec").alias("b_vec"))
                   .dropDuplicates(["a_id", "b_id"])
                   .withColumn("vs", F.lit("history")))
    cand = within.unionByName(cross)
    sim = dot(F.col("a_vec"), F.col("b_vec")) \
        / (norm(F.col("a_vec")) * norm(F.col("b_vec")))
    pairs = (cand.withColumn("sim", sim)
                 .where(F.col("sim") >= threshold)
                 .select("a_id", "b_id", "sim", "vs"))
    return pairs, new_idx
