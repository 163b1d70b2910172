"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash,
embedding-cosine near-dup.

Scale notes (the whole point of these designs):
* **exact** — hash-groupBy on the content key; partial aggregation makes
  the shuffle ~|distinct|. Canonical id = min(doc_id) per group.
* **MinHash-LSH** — shingles → K minhashes → B bands of R rows; a
  candidate pair must share ≥1 band bucket. Everything before the bucket
  groupBy is a pure map stage (higher-order functions, xxhash64 — no
  Python); the only shuffles are the band-bucket aggregation and the
  candidate join, both on well-distributed hash keys.
* **SimHash** — 64-bit signature via bitwise majority vote of token
  hashes; near-dup candidates = equal signature bands (hamming blocking).
* **n-gram Jaccard** — exact verification metric for candidate pairs
  (used after LSH blocking; quadratic only within tiny buckets).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from valico_spark.operators.util import (cap_group_size, drop_zip_importers,
                                         ensure_min_partitions)

#: modulus of the MinHash permutation family. MUST be small relative to
#: a*h (a, h < 2^31 → a*h ~ 2^62): with a 31-bit prime the product wraps
#: ~2^31 times and the affine map mixes properly. A 61-bit modulus here
#: wraps AT MOST ONCE, leaving ~half the "permutations" (a < p/2^31)
#: fully monotonic in h — their minima all select the same globally
#: minimal shingle, so signature rows correlate across permutations and
#: whole bands collide for any documents sharing common vocabulary
#: (observed: 1500-doc mega-buckets → 2.7M candidate pairs from 5k docs).
MERSENNE31 = (1 << 31) - 1


def portable_hash60(col: Column) -> Column:
    """Engine-portable 60-bit hash: the first 15 hex chars of md5 over the
    UTF-8 bytes, as a long. DuckDB computes the identical value with
    ``('0x' || substr(md5(x), 1, 15))::BIGINT``, so operators built on it
    (MinHash signatures, SimHash bit votes) can be verified value-for-value
    by a pure-SQL oracle. Default pipelines keep ``xxhash64`` (faster,
    64-bit); portable mode trades ~2x hash cost for cross-engine
    reproducibility — same plan shape, same shuffle structure."""
    return F.conv(F.substring(F.md5(F.encode(col, "UTF-8")), 1, 15),
                  16, 10).cast("long")


def portable_token_hash64(col: Column) -> Column:
    """Engine-portable 64-bit pattern from md5: bits 32-63 = first 8 hex
    chars, bits 0-31 = next 8. The oracle recovers bit j as
    ``(hi >> (j-32)) & 1`` / ``(lo >> j) & 1`` without 64-bit wrapping."""
    hi = F.conv(F.substring(F.md5(F.encode(col, "UTF-8")), 1, 8),
                16, 10).cast("long")
    lo = F.conv(F.substring(F.md5(F.encode(col, "UTF-8")), 9, 8),
                16, 10).cast("long")
    return F.shiftleft(hi, 32).bitwiseOR(lo)


def exact_dedup(df: DataFrame, content_cols: list[str],
                id_col: str = "doc_id") -> DataFrame:
    """(id, canonical_id, group_size): canonical = min id per identical
    content group. group_size > 1 ⇔ duplicate."""
    grouped = (df.groupBy(*content_cols)
                 .agg(F.min(id_col).alias("canonical_id"),
                      F.count(F.lit(1)).alias("group_size")))
    return (df.join(grouped, on=content_cols)
              .select(F.col(id_col), "canonical_id", "group_size"))


def collapse_exact(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") \
        -> tuple[DataFrame, DataFrame]:
    """Pre-collapse EXACT duplicates before a banded/blocked near-dup
    pipeline — the defense against mega-buckets. On a web corpus the
    dominant duplicate class is byte-identical pages at 10^3-10^6
    copies; every copy lands in every band bucket of every LSH table,
    so feeding them to a banded join yields O(copies^2) candidate pairs
    per bucket. Collapsing first makes the banded stage see ONE row per
    distinct text; the group's members re-attach afterward as LINEAR
    rep->member edges (never the quadratic within-group expansion —
    downstream connected-components closes the transitivity anyway).

    Returns ``(reps, dup_edges)``: ``reps`` = one ``(id, text)`` row per
    distinct text (min-id winner, deterministic), ``dup_edges`` =
    ``(a_id, b_id)`` with a_id = the representative, one edge per
    non-representative member.

    Scale shape: ONE corpus shuffle — a window over ``text_col``
    partitions (min-id per identical text); no join-back. Keying the
    window on the raw text keeps the operator exact (a hash key would
    merge colliding texts); the shuffle moves each text once, same
    volume as the banded pipeline's own signature stage reads.

    NULL texts are not duplicates of each other (SQL windows group null
    keys together, which would merge every null-text doc into one fake
    group): each null-text row stays its own representative.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(text_col)
    # one lazy materialization: reps and dup_edges both read the tagged
    # relation, and reps additionally feeds banding AND verify in the
    # precollapse pipelines — without the cut the text-keyed window
    # re-executes per consumer (lazy localCheckpoint, not persist; see
    # verify_jaccard_candidates on the cross-run caching distinction)
    tagged = (df.select(F.col(id_col), F.col(text_col))
                .withColumn("__rep",
                            F.when(F.col(text_col).isNull(),
                                   F.col(id_col))
                             .otherwise(F.min(id_col).over(w)))
                .localCheckpoint(eager=False))
    reps = (tagged.where(F.col(id_col) == F.col("__rep"))
                  .select(id_col, text_col))
    dup_edges = (tagged.where(F.col(id_col) != F.col("__rep"))
                       .select(F.col("__rep").alias("a_id"),
                               F.col(id_col).alias("b_id")))
    return reps, dup_edges


def char_shingles(text: Column, n: int = 3) -> Column:
    """Distinct character n-grams, via substring over a generated index
    sequence — stays in codegen, no explode."""
    length = F.length(text)
    idx = F.sequence(F.lit(1), length - (n - 1))
    grams = F.array_distinct(
        F.transform(idx, lambda i: text.substr(i, F.lit(n))))
    # sequence() descends when stop < start — guard short strings
    return F.when(length >= n, grams).otherwise(
        F.array().cast("array<string>"))


def hashed_shingles(text: Column, n: int = 3) -> Column:
    """Distinct ``xxhash64`` values of the character n-grams
    (array<long>). Set algebra (intersect/union sizes, minima) over
    longs is 2-3x faster than over the substrings themselves and the
    Jaccard values are identical unless two distinct grams collide in
    64 bits (~2^-64 per pair of grams — immaterial even at 10^12 docs).
    """
    length = F.length(text)
    idx = F.sequence(F.lit(1), length - (n - 1))
    grams = F.array_distinct(
        F.transform(idx, lambda i: F.xxhash64(text.substr(i, F.lit(n)))))
    return F.when(length >= n, grams).otherwise(
        F.array().cast("array<long>"))


def _blocked_jaccard_arrow(sh: DataFrame, threshold: float, id_col: str,
                           max_block_size: int | None) -> DataFrame:
    """Within-block all-pairs exact Jaccard as ONE Arrow stage:
    groupBy(block) → ``applyInPandas`` → per-block numpy. Replaces the
    SQL self-join whose per-pair cost was an interpreted
    ``array_intersect`` over the two shingle arrays (O(|A|+|B|) hash-set
    work PER PAIR — the measured 183 s at sf1.0 on the biggest
    (lang, len-bucket) block of 8.7k docs ≈ 75 M intersects).

    Per block: vocabulary-encode the (already distinct) shingle hashes
    with ``np.unique``, build the doc×gram 0/1 matrix, and compute ALL
    pairwise intersection sizes with chunked float32 GEMM — integer
    counts ≤ 2^24 are exact in f32, so ``jaccard = inter /
    max(sa+sb-inter, 1)`` is the identical IEEE int/int→double division
    the SQL expression performs and the emitted values are bit-equal.
    The doc×gram matrix is built per vocab slice when |block|·|vocab|
    is large, bounding memory; |block| itself is railed with the same
    ``max_group_size`` message contract as the SQL assert.

    Scale shape: one shuffle keyed on the block (the self-join needed
    the same exchange twice), shingle arrays cross the boundary once
    per doc (never per pair), nothing pair-sized is materialized
    outside the worker.
    """
    import pandas as pd

    id_type = sh.schema[id_col].dataType.simpleString()
    out_schema = f"a_id {id_type}, b_id {id_type}, jaccard double"
    thr = float(threshold)
    cap = max_block_size

    def block_pairs(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        drop_zip_importers()
        c = len(pdf)
        ids = pdf[id_col].to_numpy()
        empty = pd.DataFrame({"a_id": ids[:0], "b_id": ids[:0],
                              "jaccard": np.zeros(0)})
        if cap is not None and c > cap:
            blk = pdf["__blk"].iloc[0]
            raise ValueError(
                f"ngram_jaccard_pairs: block exceeds "
                f"max_group_size={cap}: {blk} has {c} docs — use "
                "jaccard_pairs_prefix or minhash banding at this scale")
        if c < 2:
            return empty
        grams = pdf["sh"].to_numpy()
        lens = np.fromiter((len(g) for g in grams), dtype=np.int64,
                           count=c)
        flat = np.concatenate([np.asarray(g, dtype=np.int64)
                               for g in grams])
        doc_idx = np.repeat(np.arange(c), lens)
        _, gidx = np.unique(flat, return_inverse=True)
        V = int(gidx.max()) + 1 if len(gidx) else 0
        if V == 0:
            return empty
        sz = lens.astype(np.float64)
        dense_ok = c * V <= 200_000_000
        if dense_ok:
            M = np.zeros((c, V), dtype=np.float32)
            M[doc_idx, gidx] = 1.0
        outs = []
        rchunk = max(1, int(2e7) // max(c, 1))
        vs = max(1, int(2e8) // max(c, 1))
        for s0 in range(0, c, rchunk):
            s1 = min(s0 + rchunk, c)
            if dense_ok:
                inter = M[s0:s1] @ M.T
            else:
                inter = np.zeros((s1 - s0, c), dtype=np.float32)
                for v0 in range(0, V, vs):
                    v1 = min(v0 + vs, V)
                    sel = (gidx >= v0) & (gidx < v1)
                    Ms = np.zeros((c, v1 - v0), dtype=np.float32)
                    Ms[doc_idx[sel], gidx[sel] - v0] = 1.0
                    inter += Ms[s0:s1] @ Ms.T
            union = sz[s0:s1, None] + sz[None, :] - inter
            jac = inter.astype(np.float64) / np.maximum(union, 1.0)
            rows, cols = np.nonzero(jac >= thr)
            rows += s0
            keep = ids[rows] < ids[cols]   # value order, not position
            rows, cols = rows[keep], cols[keep]
            if len(rows):
                outs.append(pd.DataFrame({"a_id": ids[rows],
                                          "b_id": ids[cols],
                                          "jaccard": jac[rows - s0,
                                                         cols]}))
        if not outs:
            return empty
        return pd.concat(outs, ignore_index=True)

    return sh.groupBy("__blk").applyInPandas(block_pairs, out_schema)


def ngram_jaccard_pairs(df: DataFrame, threshold: float = 0.8, n: int = 3,
                        id_col: str = "doc_id", text_col: str = "text",
                        block_col: str | None = None,
                        allow_quadratic: bool = False,
                        max_block_size: int | None = 100_000,
                        engine: str = "arrow") -> DataFrame:
    """Exact Jaccard over char n-gram sets for all pairs (within blocks).

    |A∩B| via array_intersect, |A∪B| = |A|+|B|-|A∩B| — set algebra in
    codegen over hashed shingles (see ``hashed_shingles``), no shuffle
    beyond the pair join.

    Scale guards: unblocked input is REFUSED unless
    ``allow_quadratic=True`` (the pair join is quadratic in the corpus),
    and blocked input is plan-asserted to ``max_block_size`` docs per
    block — a natural block key like (lang, length-bucket) is bounded at
    test scale but grows linearly with the corpus, so at 100x the job
    FAILS LOUDLY instead of silently going quadratic inside a hot block.
    Exact-without-blocking at scale is :func:`jaccard_pairs_prefix`
    (PPJoin); bounded-recall candidate blocking is MinHash banding.
    The guard is a groupBy on the block key (map-side combined, output =
    |blocks| rows) broadcast back — no corpus-sized shuffle, and the
    ``assert_true`` filter cannot be pruned by Catalyst.
    """
    if block_col is None and not allow_quadratic:
        raise ValueError(
            "ngram_jaccard_pairs without block_col is quadratic in the "
            "corpus; pass allow_quadratic=True only for sampled tiers, "
            "or use jaccard_pairs_prefix (exact, PPJoin) at scale")
    # zero-shingle docs (null/short text) can never reach a positive
    # threshold (jaccard = 0/max(union,1)); drop them before the pair
    # join instead of letting empties pair quadratically within blocks.
    # Filter on the cheap SOURCE equivalent of ``size(sh) > 0``
    # (hashed_shingles emits empty exactly when text is null or shorter
    # than n) — a post-projection size(sh) filter gets pushed below the
    # projection and inlines the hash-per-shingle expression into the
    # filter condition, evaluating it twice per row (same 3x pattern
    # measured and fixed in minhash_lsh_candidates). Null block keys
    # never satisfy the equi-join — dropped before the size guard so
    # unjoinable rows cannot trip it.
    src = ensure_min_partitions(df).where(
        F.col(text_col).isNotNull() & (F.length(text_col) >= n))
    sh = src.select(
        F.col(id_col), hashed_shingles(F.col(text_col), n).alias("sh"),
        *([F.col(block_col).alias("__blk")] if block_col else []))
    if block_col is not None:
        sh = sh.where(F.col("__blk").isNotNull())
    if block_col is not None and engine == "arrow":
        # vectorized per-block engine (guide §4.2): shingle arrays cross
        # the boundary once per doc; the rail raises in the worker
        return _blocked_jaccard_arrow(sh, threshold, id_col,
                                      max_block_size)
    if block_col is not None and max_block_size is not None:
        sizes = sh.groupBy("__blk").agg(F.count(F.lit(1)).alias("__blk_n"))
        sh = (sh.join(F.broadcast(sizes), "__blk")
                .where(F.assert_true(
                    F.col("__blk_n") <= F.lit(max_block_size),
                    F.concat(
                        F.lit("ngram_jaccard_pairs: block exceeds "
                              f"max_block_size={max_block_size}: "),
                        F.col("__blk").cast("string"), F.lit(" has "),
                        F.col("__blk_n").cast("string"),
                        F.lit(" docs — use jaccard_pairs_prefix or "
                              "minhash banding at this scale"))).isNull())
                .drop("__blk_n"))
    a = sh.select(F.col(id_col).alias("a_id"), F.col("sh").alias("a_sh"),
                  *([F.col("__blk")] if block_col else []))
    b = sh.select(F.col(id_col).alias("b_id"), F.col("sh").alias("b_sh"),
                  *([F.col("__blk")] if block_col else []))
    joined = (a.join(b, "__blk") if block_col else a.crossJoin(b)) \
        .where(F.col("a_id") < F.col("b_id"))
    # NB: no repartition of the pair table — that would shuffle two full
    # shingle arrays per pair; parallelism comes from the streamed side's
    # partitioning (ensure_min_partitions above)
    # sound prune before the expensive intersect: J(A,B) <= min/max sizes,
    # so pairs failing the size-ratio bound can never reach the threshold
    sa, sb = F.size(F.col("a_sh")), F.size(F.col("b_sh"))
    joined = joined.where(
        F.least(sa, sb) >= F.lit(threshold) * F.greatest(sa, sb))
    inter = F.size(F.array_intersect(F.col("a_sh"), F.col("b_sh")))
    union = F.size(F.col("a_sh")) + F.size(F.col("b_sh")) - inter
    jac = inter / F.greatest(union, F.lit(1))
    return (joined.withColumn("jaccard", jac)
                  .where(F.col("jaccard") >= threshold)
                  .select("a_id", "b_id", "jaccard"))


def word_shingles(text: Column, w: int = 3) -> Column:
    """Distinct w-word shingles (Broder w-shingling) — the standard
    near-dup unit for text corpora; unlike char 3-grams the shingle
    universe is Zipfian with a long rare tail, which is what prefix
    filtering needs."""
    words = F.split(F.trim(text), r"\s+")
    nw = F.size(words)
    idx = F.sequence(F.lit(0), nw - w)
    sh = F.array_distinct(F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, w))))
    return F.when(nw >= w, sh).otherwise(
        F.array().cast("array<string>"))


def word_hashes(text: Column) -> Column:
    """xxhash64 of every whitespace word (array<long>) — the staged
    first projection of the hashed-shingle path. MUST be materialized
    as its own projection column before feeding
    :func:`shingles_of_word_hashes`: interpreted HOF lambda bodies
    re-evaluate any non-attribute subtree PER ELEMENT (no CSE — the
    simhash portable path documents the same trap), so an inline
    word-hash array inside the per-position slice lambda costs
    O(words²) hashes instead of O(words)."""
    return F.transform(F.split(F.trim(text), r"\s+"),
                       lambda t: F.xxhash64(t))


def shingles_of_word_hashes(wh: Column, w: int = 3) -> Column:
    """Distinct 64-bit shingle hashes (array<long>) from a MATERIALIZED
    :func:`word_hashes` column, WITHOUT building the shingle strings:
    every shingle is ``xxhash64(slice(word_hashes, i, w))`` — the same
    O(w)-per-position long-slice trick as ``_merged_repeated_spans``.
    Equality on these hashes ≡ equality on the joined shingle strings
    (words contain no whitespace, so the word sequence ↔ string map is
    bijective) up to 64-bit collisions — the same ~2^-64-per-pair risk
    budget as :func:`hashed_shingles`. Callers that only ever COMPARE
    shingles (prefix join, gram index probe, distinct counts) get
    identical results while skipping the per-shingle concat_ws string
    allocation + long-string hash."""
    nw = F.size(wh)
    sh = F.array_distinct(F.transform(
        F.sequence(F.lit(0), nw - w),
        lambda i: F.xxhash64(F.slice(wh, i + 1, w))))
    return F.when(nw >= w, sh).otherwise(F.array().cast("array<long>"))


def jaccard_pairs_prefix(df: DataFrame, threshold: float = 0.8, w: int = 3,
                         id_col: str = "doc_id",
                         text_col: str = "text",
                         precollapse_exact: bool = False) -> DataFrame:
    """ALL pairs with exact word-shingle Jaccard >= threshold via prefix
    filtering (PPJoin-style) — no blocking, no recall loss.

    Prefix principle: order every doc's shingles by (global document
    frequency asc, shingle asc); if J(A,B) >= t then |A∩B| >= ceil(t|A|),
    and the globally-smallest common shingle must sit inside BOTH docs'
    first ``|S| - ceil(t|S|) + 1`` shingles (pigeonhole on the shared
    order). So joining only the short rare-first prefixes finds every
    qualifying pair; candidates are then verified with the exact
    hashed-shingle Jaccard. Rare-first ordering keeps join buckets
    small; measured on the sf0.1 corpus it admits ~119k candidates vs
    11.7M for the same filter over char-3-gram sets (whose "rarest"
    grams still appear in ~900 docs — wrong token universe for this
    filter).

    Scale shape: two shingle-keyed shuffles (frequency count + prefix
    join) and an id-keyed verify join; nothing quadratic outside true
    candidate groups. ``ceil(threshold * size)`` is evaluated in IEEE
    double arithmetic identically by Spark and DuckDB, so the oracle
    can mirror the prefix length bit-for-bit.

    Exact-duplicate clusters defeat the frequency ordering (all copies
    share every shingle, so even the group's "rarest" gram has df >=
    copies and the prefix join goes quadratic inside the cluster);
    ``precollapse_exact=True`` collapses them to one representative
    first and re-attaches members as linear (rep, member, jaccard=1.0)
    edges — the 100-TB posture for this operator.
    """
    from pyspark.sql import Window

    if precollapse_exact:
        reps, dup_edges = collapse_exact(df, id_col, text_col)
        near = jaccard_pairs_prefix(reps, threshold, w, id_col, text_col,
                                    precollapse_exact=False)
        return near.unionByName(
            dup_edges.withColumn("jaccard", F.lit(1.0)))

    # shingles hash to int64 IMMEDIATELY: every downstream shuffle
    # (frequency count, prefix join, verify join) then moves 8-byte
    # longs instead of multi-word strings, and the per-doc rank sort
    # compares longs. Equality on hashes ≡ equality on shingles up to
    # 64-bit collisions (~2^-64 per gram pair — immaterial at 10^12
    # docs, same argument as hashed_shingles). The prefix principle
    # only needs SOME global total order shared by all docs; ordering
    # by (df, hash) instead of (df, shingle) keeps rarest-first and
    # changes at most the candidate SUPERSET — the exact-Jaccard verify
    # makes the emitted pair set order-invariant, which is why the SQL
    # oracle (string shingles, string order) matches value-for-value.
    # zero-shingle docs dropped on the cheap SOURCE equivalent of
    # ``size(hsh) > 0`` (word_shingles emits empty exactly when the
    # whitespace token count is < w): a post-projection size filter gets
    # pushed below the projection and inlines the whole shingle+hash
    # expression into the filter condition — evaluated twice per row
    # (the 3x pattern measured in minhash_lsh_candidates). The split
    # re-evaluates once in the filter, but it is trivial next to the
    # transform/concat_ws/xxhash64 chain it spares.
    base = (ensure_min_partitions(df)
            .where(F.col(text_col).isNotNull()
                   & (F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
                      >= w))
            .select(F.col(id_col).alias("id"),
                    word_hashes(F.col(text_col)).alias("__wh"))
            .select("id", shingles_of_word_hashes(F.col("__wh"), w)
                    .alias("hsh"))
            .withColumn("sz", F.size("hsh")))
    # base feeds the explode (twice: frequency count + rank join) and
    # both verify sides — four subtree copies whose exchanges differ by
    # key, so only a materialization dedups the shingle computation.
    # Lazy localCheckpoint (NOT persist — see verify_jaccard_candidates
    # on why persist would be cross-run result caching); at cluster
    # scale this is one corpus-sized local write traded against three
    # re-scans + re-shingle passes.
    base = base.localCheckpoint(eager=False)
    g = base.select("id", "sz", F.explode("hsh").alias("gram"))
    freq = g.groupBy("gram").agg(F.count(F.lit(1)).alias("gram_df"))
    ranked = (g.join(freq, "gram")
               .withColumn("rn", F.row_number().over(
                   Window.partitionBy("id").orderBy("gram_df", "gram"))))
    k = (F.col("sz")
         - F.ceil(F.lit(threshold) * F.col("sz")).cast("int") + 1)
    prefix = ranked.where(F.col("rn") <= k).select("id", "sz", "gram")
    # length filter at candidate time: J >= t forces the sizes within a
    # factor t of each other — pruning here keeps ineligible pairs out
    # of the distinct AND the verify join (PPJoin's length filter)
    cand = (prefix.alias("pa").join(prefix.alias("pb"), "gram")
                  .where((F.col("pa.id") < F.col("pb.id"))
                         & (F.least("pa.sz", "pb.sz")
                            >= F.lit(threshold)
                            * F.greatest("pa.sz", "pb.sz")))
                  .select(F.col("pa.id").alias("a_id"),
                          F.col("pb.id").alias("b_id"))
                  .distinct())
    a = base.select(F.col("id").alias("a_id"), F.col("hsh").alias("a_sh"))
    b = base.select(F.col("id").alias("b_id"), F.col("hsh").alias("b_sh"))
    joined = cand.join(a, "a_id").join(b, "b_id")
    sa, sb = F.size("a_sh"), F.size("b_sh")
    joined = joined.where(
        F.least(sa, sb) >= F.lit(threshold) * F.greatest(sa, sb))
    inter = F.size(F.array_intersect("a_sh", "b_sh"))
    union = sa + sb - inter
    return (joined.withColumn("jaccard", inter / F.greatest(union, F.lit(1)))
                  .where(F.col("jaccard") >= threshold)
                  .select("a_id", "b_id", "jaccard"))


# -- MinHash ----------------------------------------------------------------

def _minhash_params(num_hashes: int, seed: int = 17) -> list[tuple[int, int]]:
    import random
    rnd = random.Random(seed)
    return [(rnd.randrange(1, MERSENNE31 - 1),
             rnd.randrange(0, MERSENNE31 - 1)) for _ in range(num_hashes)]


def _minhash_ab(num_hashes: int, seed: int) -> Column:
    """Literal array<struct<a,b>> of permutation constants, kept < 2^31 so
    a*h + b stays inside int64 (ANSI mode rejects wrapping)."""
    consts = []
    for a, b in _minhash_params(num_hashes, seed):
        consts.append(F.struct(
            F.lit(a % ((1 << 31) - 1) or 1).cast("long").alias("a"),
            F.lit(b % ((1 << 31) - 1)).cast("long").alias("b")))
    return F.array(*consts)


def minhash_base(text: Column, n: int = 5,
                 portable: bool = False) -> Column:
    """Per-shingle base hashes (compute ONCE, then fold all permutations
    over it — 32x fewer hash evaluations than per-permutation
    transforms). ``portable=True`` swaps xxhash64 for the md5-derived
    :func:`portable_hash60` so a DuckDB oracle reproduces the signatures
    exactly; the signature is a min over a multiset, so gram duplication
    differences between the two paths cannot change it."""
    if portable:
        return F.transform(
            char_shingles(text, n),
            lambda g: F.pmod(portable_hash60(g),
                             F.lit(1 << 31).cast("long")))
    return F.transform(hashed_shingles(text, n),
                       lambda h: F.pmod(h, F.lit(1 << 31).cast("long")))


def minhash_signature_from_base(base: Column, num_hashes: int = 32,
                                seed: int = 17) -> Column:
    """All K minima in ONE pass over the shingle hashes: aggregate with an
    array<long> accumulator, zip_with against the permutation constants.
    h_i(s) = (a_i * h + b_i) mod M61; signature[i] = min over shingles."""
    ab = _minhash_ab(num_hashes, seed)
    init = F.array_repeat(F.lit(MERSENNE31).cast("long"), num_hashes)
    return F.aggregate(
        base, init,
        lambda acc, h: F.zip_with(
            acc, ab,
            lambda m, c: F.least(
                m, F.pmod(h * c["a"] + c["b"], F.lit(MERSENNE31)))))


def band_bucket_portable(sig_slice: Column) -> Column:
    """Portable band bucket: fold ``acc*131 + s mod M31`` over the band's
    signature rows (DuckDB: ``list_reduce(list_prepend(0, slice), ...)``).
    Bucket space is 31-bit — ample for blocking; stays int64-exact."""
    return F.aggregate(
        sig_slice, F.lit(0).cast("long"),
        lambda acc, x: F.pmod(acc * F.lit(131) + x, F.lit(MERSENNE31)))


def _minhash_banded(df: DataFrame, num_hashes: int, bands: int, n: int,
                    seed: int, id_col: str, text_col: str,
                    portable: bool, max_bucket_size: int | None,
                    op_name: str) -> DataFrame:
    """Shared banding stage: ``(id, band, bucket)`` per eligible doc.

    DEGENERATE-SIGNATURE exclusion: a doc with no shingles (null/short
    text) folds to the init array, so EVERY such doc shares EVERY band
    bucket — on a web corpus (empty pages are common) that is one more
    mega-bucket. Dropping them loses nothing: an empty shingle set has
    jaccard 0 with everything (incl. other empties — 0/max(union,1)),
    so no verified pair can ever contain one; and the SQL oracle's
    unnest() already excludes zero-shingle docs, so this ALIGNS the
    engines rather than diverging them. The predicate is the CHEAP
    source-side equivalent of ``size(__base) > 0`` (char_shingles
    emits empty exactly when text is null or shorter than n): a
    post-projection filter on size(__base) gets pushed below the
    projection and inlines the md5/xxhash base expression into the
    filter — measured 3x on the banded queries.
    """
    rows = num_hashes // bands
    src = ensure_min_partitions(df).where(
        F.col(text_col).isNotNull() & (F.length(text_col) >= n))
    # two-step projection: base hashes materialize once, then the K-way
    # fold — avoids K re-evaluations of xxhash64 per shingle
    based = src.select(
        F.col(id_col).alias("id"),
        minhash_base(F.col(text_col), n, portable=portable).alias("__base"))
    sig = based.select(
        "id", minhash_signature_from_base(F.col("__base"), num_hashes,
                                          seed).alias("sig"))

    def bucket_expr(i: int) -> Column:
        sl = F.slice(F.col("sig"), i * rows + 1, rows)
        return band_bucket_portable(sl) if portable else F.xxhash64(sl)

    banded = sig.select(
        "id",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("band"), bucket_expr(i).alias("bucket"))
            for i in range(bands)])).alias("bb")) \
        .select("id", F.col("bb.band").alias("band"),
                F.col("bb.bucket").alias("bucket"))
    if max_bucket_size is not None:
        banded = cap_group_size(
            banded, ["band", "bucket"], max_bucket_size, op_name,
            "pre-collapse exact duplicates first (collapse_exact / "
            "precollapse_exact=True) or raise max_bucket_size")
    return banded


def minhash_lsh_candidates(df: DataFrame, num_hashes: int = 32,
                           bands: int = 8, n: int = 5, seed: int = 17,
                           id_col: str = "doc_id",
                           text_col: str = "text",
                           portable: bool = False,
                           max_bucket_size: int | None = 10_000
                           ) -> DataFrame:
    """Candidate duplicate pairs: docs sharing ≥1 MinHash band bucket.

    rows-per-band = num_hashes // bands; the (band, bucket-hash) groupBy
    is the only wide stage. Distinct pairs are emitted with a_id < b_id.
    ``portable=True`` uses md5-derived base hashes and the fold bucket so
    the whole candidate set is reproducible in DuckDB SQL.

    Hot-bucket guard: a band bucket with c members emits c^2/2 pairs —
    at web scale exact-duplicate clusters (which share EVERY bucket)
    make single buckets of 10^4+ docs, the silent 100x job-killer. The
    plan asserts every (band, bucket) group ≤ ``max_bucket_size`` (a
    window count under the join's own hash partitioning — no extra
    corpus exchange) and FAILS LOUDLY pointing at the fix:
    :func:`collapse_exact` first (``precollapse_exact=True`` on the
    pipeline entry points). ``None`` disables the rail.
    """
    banded = _minhash_banded(df, num_hashes, bands, n, seed, id_col,
                             text_col, portable, max_bucket_size,
                             "minhash_lsh_candidates")
    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (left.join(right, ["band", "bucket"])
                 .where(F.col("l.id") < F.col("r.id"))
                 .select(F.col("l.id").alias("a_id"),
                         F.col("r.id").alias("b_id"))
                 .distinct())
    return pairs


def minhash_dedup(df: DataFrame, jaccard_threshold: float = 0.8,
                  num_hashes: int = 32, bands: int = 8, n: int = 5,
                  seed: int = 17, id_col: str = "doc_id",
                  text_col: str = "text",
                  portable: bool = False,
                  max_bucket_size: int | None = 10_000,
                  precollapse_exact: bool = False) -> DataFrame:
    """LSH candidates verified with exact n-gram Jaccard.

    Scale shape: the corpus-sized shingle table is never broadcast.
    It is first semi-join-filtered down to docs that appear in some
    candidate pair (at a sane LSH threshold that is a small fraction of
    the corpus), then joined to the pair table with plain shuffle joins
    keyed on the doc id — AQE may still choose a runtime broadcast, but
    only when the *filtered* side measures small.

    ``precollapse_exact=True`` is the 100-TB default posture: exact
    duplicates collapse to one representative BEFORE banding
    (:func:`collapse_exact`), so byte-identical clusters cannot form
    mega-buckets; each collapsed member returns as a linear
    (rep, member, jaccard=1.0) edge unioned onto the near-dup pairs —
    cross-group near-duplicates are represented at rep level and
    connected-components closes the transitivity.
    """
    if precollapse_exact:
        reps, dup_edges = collapse_exact(df, id_col, text_col)
        near = minhash_dedup(reps, jaccard_threshold, num_hashes, bands,
                             n, seed, id_col, text_col, portable=portable,
                             max_bucket_size=max_bucket_size,
                             precollapse_exact=False)
        return near.unionByName(
            dup_edges.withColumn("jaccard", F.lit(1.0)))
    # no ensure_min_partitions here: probing .rdd.getNumPartitions()
    # on a multi-exchange plan makes AQE materialize every query stage
    # — i.e. EXECUTES the whole candidate pipeline once just to read a
    # partition count (measured ~2x on dedup_minhash). The candidate
    # relation leaves a 32-partition distinct and is checkpointed in
    # verify_jaccard_candidates, so parallelism is already set.
    cand = minhash_lsh_candidates(df, num_hashes, bands, n, seed,
                                  id_col, text_col, portable=portable,
                                  max_bucket_size=max_bucket_size)
    return verify_jaccard_candidates(cand, df, jaccard_threshold, n,
                                     id_col, text_col)


def verify_jaccard_candidates(cand: DataFrame, docs: DataFrame,
                              jaccard_threshold: float = 0.8,
                              n: int = 5, id_col: str = "doc_id",
                              text_col: str = "text") -> DataFrame:
    """Exact char-n-gram Jaccard verification of an ``(a_id, b_id)``
    candidate-pair table against ``docs`` (which must hold text for
    every id appearing in the pairs — for incremental runs, union the
    new batch with the candidate-touched slice of the historical
    store). Any extra candidate columns (e.g. ``vs``) pass through.

    Scale shape: the corpus-sized shingle table is never broadcast — it
    is semi-join-filtered down to candidate-touched docs first, then
    joined to the pair table with plain shuffle joins keyed on the doc
    id; AQE may still choose a runtime broadcast, but only when the
    FILTERED side measures small.
    """
    extra = [c for c in cand.columns if c not in ("a_id", "b_id")]
    sh = ensure_min_partitions(docs).select(
        F.col(id_col), hashed_shingles(F.col(text_col), n).alias("sh"))
    # the candidate relation is referenced THREE times below (both
    # cand_ids branches + the verify join); exchange reuse dedups its
    # shuffles but not the post-shuffle banding/distinct work, so
    # materialize it once (lazy local checkpoint: first action runs the
    # candidate plan, the other two references read the stored rows —
    # candidate tables are the pruned sliver, not the corpus)
    cand = cand.localCheckpoint(eager=False)
    cand_ids = (cand.select(F.col("a_id").alias(id_col))
                    .union(cand.select(F.col("b_id").alias(id_col)))
                    .distinct())
    # the filtered shingle sliver feeds BOTH join sides under different
    # keys (a_id / b_id exchanges differ, so exchange reuse cannot dedup
    # the scan+shingle+semi-join subtree) — materialize it once. Lazy
    # localCheckpoint, not persist(): persist registers in the
    # CacheManager keyed on the canonicalized plan, which would let a
    # REPEATED run of the same query reuse materialized results across
    # runs — that is result caching, not optimization. localCheckpoint
    # re-executes for every freshly constructed query.
    sh_c = (sh.join(cand_ids, on=id_col, how="semi")
              .localCheckpoint(eager=False))
    a = sh_c.select(F.col(id_col).alias("a_id"), F.col("sh").alias("a_sh"))
    b = sh_c.select(F.col(id_col).alias("b_id"), F.col("sh").alias("b_sh"))
    joined = cand.join(a, "a_id").join(b, "b_id")
    sa, sb = F.size(F.col("a_sh")), F.size(F.col("b_sh"))
    joined = joined.where(
        F.least(sa, sb) >= F.lit(jaccard_threshold) * F.greatest(sa, sb))
    inter = F.size(F.array_intersect(F.col("a_sh"), F.col("b_sh")))
    union = F.size(F.col("a_sh")) + F.size(F.col("b_sh")) - inter
    return (joined.withColumn("jaccard",
                              inter / F.greatest(union, F.lit(1)))
                  .where(F.col("jaccard") >= jaccard_threshold)
                  .select("a_id", "b_id", *extra, "jaccard"))


# -- Incremental exact dedup (batch vs persisted fingerprint index) ----------

def _text_fp(text_col: str) -> list:
    """128-bit content fingerprint as two 64-bit hashes over DIFFERENT
    streams. The salt literal comes FIRST in h2: Spark's multi-column
    xxhash64 chains (each column's hash seeds the next), so
    ``xxhash64(text, salt)`` would make h2 a pure function of h1 — any
    h1 collision would imply an h2 collision, collapsing the pair to
    64-bit strength (~n^2/2^64 ≈ 10^-2 expected false merges per
    10^12-doc run). With the salt first, h2 hashes the text from a
    different seed state, restoring independent-collision behavior:
    merge probability ~n^2/2^128, negligible at 10^12 docs. NOTE: the
    fingerprint definition is part of a persisted index's identity —
    indexes written before this fix must be rebuilt."""
    return [F.xxhash64(F.col(text_col)).alias("h1"),
            F.xxhash64(F.lit(0x9E3779B9), F.col(text_col)).alias("h2")]


def exact_dedup_index(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """``(doc_id, h1, h2)`` — one row per DISTINCT text (min-id
    representative), the persistable exact-dup fingerprint index: 24
    bytes per distinct document, no text retained. Null-text docs are
    not duplicates of anything and never index."""
    return (df.where(F.col(text_col).isNotNull())
              .groupBy(*_text_fp(text_col))
              .agg(F.min(id_col).alias(id_col))
              .select(id_col, "h1", "h2"))


def exact_dedup_incremental(new_df: DataFrame, index: DataFrame,
                            id_col: str = "doc_id",
                            text_col: str = "text") \
        -> tuple[DataFrame, DataFrame]:
    """Exact dedup of a NEW batch against a persisted fingerprint index
    (:func:`exact_dedup_index`) — completes the incremental trilogy
    next to :func:`minhash_incremental` / :func:`simhash_incremental`.

    Returns ``(edges, increment)``:

    * ``edges``: ``(a_id, b_id, vs)`` linear duplicate edges —
      ``vs='batch'`` are the within-batch collapse (rep → member, from
      :func:`collapse_exact`, text-keyed and hence collision-free);
      ``vs='history'`` links each batch representative whose
      fingerprint exists in the index to the HISTORICAL representative
      (one edge per matched rep; connected components closes the
      transitivity to the rep's members). Replayed docs (same id in
      batch and index) never self-pair.
    * ``increment``: fingerprint rows for batch representatives NOT in
      history — append to the persisted index.

    Scale shape: one text-keyed corpus shuffle for the batch collapse,
    then two fingerprint-keyed joins (match + anti) against the index —
    history text is never scanned. The only approximation is the
    128-bit fingerprint on the HISTORY side (see :func:`_text_fp`);
    within-batch grouping stays byte-exact.
    """
    reps, dup_edges = collapse_exact(new_df, id_col, text_col)
    repf = (reps.where(F.col(text_col).isNotNull())
                .select(F.col(id_col).alias("id"), *_text_fp(text_col)))
    hist = index.select(F.col(id_col).alias("h_id"), "h1", "h2")
    matched = (repf.join(hist, ["h1", "h2"])
                   .where(F.col("h_id") != F.col("id"))
                   .select(F.col("h_id").alias("a_id"),
                           F.col("id").alias("b_id")))
    edges = (dup_edges.withColumn("vs", F.lit("batch"))
                      .unionByName(matched.withColumn(
                          "vs", F.lit("history"))))
    increment = (repf.join(hist, ["h1", "h2"], "left_anti")
                     .select(F.col("id").alias(id_col), "h1", "h2"))
    return edges, increment


# -- Incremental MinHash (batch vs persisted band index) ---------------------

def minhash_band_index(df: DataFrame, num_hashes: int = 32,
                       bands: int = 8, n: int = 5, seed: int = 17,
                       id_col: str = "doc_id", text_col: str = "text",
                       portable: bool = False,
                       max_bucket_size: int | None = 10_000) -> DataFrame:
    """``(doc_id, band, bucket)`` LSH index relation of a corpus — the
    artifact a continuously-growing corpus PERSISTS (bucketed parquet /
    Iceberg on (band, bucket) at scale) so each new crawl batch dedups
    against history without re-banding it. Build it from a
    :func:`collapse_exact`-collapsed corpus: the group-size rail here
    bounds what any future batch can match per bucket.

    The banding parameters (num_hashes, bands, n, seed, portable) are
    part of the index's identity — lookups MUST use the same values;
    persist them alongside the table."""
    banded = _minhash_banded(df, num_hashes, bands, n, seed, id_col,
                             text_col, portable, max_bucket_size,
                             "minhash_band_index")
    return banded.select(F.col("id").alias(id_col), "band", "bucket")


def minhash_incremental(new_df: DataFrame, index: DataFrame,
                        num_hashes: int = 32, bands: int = 8,
                        n: int = 5, seed: int = 17,
                        id_col: str = "doc_id", text_col: str = "text",
                        portable: bool = False,
                        max_bucket_size: int | None = 10_000) \
        -> tuple[DataFrame, DataFrame]:
    """Dedup a NEW batch against a persisted band index WITHOUT touching
    the historical corpus text: returns ``(candidates, increment)``.

    * ``candidates``: ``(a_id, b_id, vs)`` — ``vs='batch'`` pairs are
      within-batch (a_id < b_id), ``vs='history'`` pairs carry the
      historical id in ``a_id``. Verify with
      :func:`verify_jaccard_candidates` over the batch unioned with the
      candidate-touched slice of the historical store, then feed
      connected components as usual.
    * ``increment``: the batch's own ``(doc_id, band, bucket)`` rows —
      append them to the persisted index so the next batch sees this
      one as history.

    Decomposition invariant (pinned by test): banding is per-doc
    deterministic, so candidates(old ∪ new) ≡ candidates(old) ∪
    within-batch ∪ vs-history — an incremental run finds exactly the
    pairs a full re-run would, minus the old-vs-old pairs it already
    found in previous runs. Batch ids already present in the index
    (re-processing) never pair with themselves.

    Scale shape: the batch is banded once; within-batch pairs self-join
    under the group-size rail; history pairs are ONE equi-join on
    (band, bucket) against the index — with the index bucketed on those
    keys this is a co-located join that never rebands or rescans the
    historical corpus. Per-bucket cross volume is bounded by
    |index bucket| x |batch bucket| ≤ cap² in the worst case; the real
    defense is building BOTH sides collapsed (see
    :func:`minhash_band_index`).
    """
    new_banded = _minhash_banded(new_df, num_hashes, bands, n, seed,
                                 id_col, text_col, portable,
                                 max_bucket_size, "minhash_incremental")
    left = new_banded.alias("l")
    right = new_banded.alias("r")
    within = (left.join(right, ["band", "bucket"])
                  .where(F.col("l.id") < F.col("r.id"))
                  .select(F.col("l.id").alias("a_id"),
                          F.col("r.id").alias("b_id"))
                  .distinct()
                  .withColumn("vs", F.lit("batch")))
    hist = index.select(F.col(id_col).alias("h_id"), "band", "bucket")
    cross = (new_banded.join(hist, ["band", "bucket"])
                       .where(F.col("h_id") != F.col("id"))
                       .select(F.col("h_id").alias("a_id"),
                               F.col("id").alias("b_id"))
                       .distinct()
                       .withColumn("vs", F.lit("history")))
    increment = new_banded.select(F.col("id").alias(id_col),
                                  "band", "bucket")
    return within.unionByName(cross), increment


# -- SimHash ----------------------------------------------------------------

_LANE_MASK = 0x0001000100010001  # one 16-bit counter per long lane


def simhash(text: Column, bits: int = 64,
            token_hash=None, portable: bool = False) -> Column:
    """Bitwise-majority SimHash over whitespace tokens (long column).

    Signature bit i is set when ones of bit i over xxhash64(token) form
    a strict majority (equivalent to the ±1-sum > 0 formulation:
    sum = 2*ones - n). The per-bit counters are PACKED: accumulator j
    (of bits/4 longs) holds the four 16-bit counters for signature bits
    j, j+16, j+32, j+48, updated per token with one shift+mask+add —
    ``(h >> j) & 0x0001000100010001`` deposits those four hash bits
    into their lanes at once. 4× fewer per-token operations (and ~6×
    measured) than an int-array-per-bit accumulator, still one
    shuffle-free expression per document. Tokens are capped at 65535 so
    a lane cannot overflow into its neighbor.
    """
    import functools

    from valico_spark.operators.text import tokens

    assert bits == 64, "packed lanes are specified for 64-bit signatures"
    lanes = bits // 4
    toks = F.slice(tokens(text), 1, 65535)
    if portable:
        # two-stage transform: the md5 hex materializes ONCE per token
        # (a bound element variable), then both 32-bit halves read it.
        # Inlining portable_token_hash64 directly would evaluate md5
        # twice per token — HOF lambda bodies are interpreted, with no
        # common-subexpression elimination across the duplicated
        # subtrees (measured ~2x the md5 cost).
        hs = F.transform(
            F.transform(toks, lambda t: F.md5(F.encode(t, "UTF-8"))),
            lambda hx: F.shiftleft(
                F.conv(F.substring(hx, 1, 8), 16, 10).cast("long"), 32)
            .bitwiseOR(F.conv(F.substring(hx, 9, 8), 16, 10)
                       .cast("long")))
    else:
        if token_hash is None:
            token_hash = F.xxhash64
        hs = F.transform(toks, lambda t: token_hash(t))
    zero = F.array_repeat(F.lit(0).cast("long"), lanes)
    acc = F.aggregate(
        hs, zero,
        lambda a, h: F.array(*[
            a[j] + F.shiftright(h, j).bitwiseAND(F.lit(_LANE_MASK))
            for j in range(lanes)]))
    n = F.size(toks)

    def ones(i: int) -> Column:
        return F.shiftright(acc[i % lanes], 16 * (i // lanes)) \
                .bitwiseAND(F.lit(0xFFFF))

    # bit 63 = long min — inline literals (shiftleft needs a python int)
    terms = [F.when(ones(i) * 2 > n,
                    F.lit((1 << i) if i < 63 else -(1 << 63)).cast("long"))
              .otherwise(F.lit(0).cast("long")) for i in range(bits)]
    return functools.reduce(lambda x, y: x.bitwiseOR(y), terms)


def _simhash_banded_from_sigs(sigd: DataFrame, band_bits: int,
                              max_bucket_size: int | None,
                              op_name: str) -> DataFrame:
    """Shared SimHash banding: ``(id, sig)`` → ``(id, sig, band,
    bucket)`` by shift/mask over the 64-bit signature — a map-only
    stage, which is why a persisted ``(doc_id, sig)`` index never needs
    the corpus text to be re-banded."""
    nbands = 64 // band_bits
    mask = (1 << band_bits) - 1
    banded = sigd.select("id", "sig", F.explode(F.array(*[
        F.struct(F.lit(i).alias("band"),
                 F.shiftright(F.col("sig"), i * band_bits)
                  .bitwiseAND(F.lit(mask)).alias("bucket"))
        for i in range(nbands)])).alias("bb")) \
        .select("id", "sig", F.col("bb.band").alias("band"),
                F.col("bb.bucket").alias("bucket"))
    if max_bucket_size is not None:
        banded = cap_group_size(
            banded, ["band", "bucket"], max_bucket_size, op_name,
            "pre-collapse exact duplicates first (collapse_exact / "
            "precollapse_exact=True) or raise max_bucket_size")
    return banded


def simhash_index(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text",
                  portable: bool = False) -> DataFrame:
    """``(doc_id, sig)`` — the persistable SimHash relation of a corpus
    (8 bytes per doc). Unlike the MinHash band index the signature IS
    the index: banding derives from it by shift/mask, so future batch
    lookups re-band history as a map-only stage with no text scan and
    no tokenization. Build from a collapsed corpus; the hash flavor
    (``portable``) is part of the index's identity."""
    return (df.where(F.length(F.trim(F.col(text_col))) > 0)
              .select(F.col(id_col),
                      simhash(F.col(text_col), portable=portable)
                       .alias("sig")))


def simhash_incremental(new_df: DataFrame, index: DataFrame,
                        band_bits: int = 16, id_col: str = "doc_id",
                        text_col: str = "text",
                        portable: bool = False,
                        max_bucket_size: int | None = 10_000) \
        -> tuple[DataFrame, DataFrame]:
    """SimHash near-dup candidates of a NEW batch vs a persisted
    ``(doc_id, sig)`` index (:func:`simhash_index`) plus within-batch
    pairs — the continuously-crawled-corpus posture, mirroring
    :func:`minhash_incremental`. Returns ``(candidates, increment)``:
    candidates carry ``(a_id, b_id, hamming, vs)`` with the historical
    id in ``a_id`` for ``vs='history'``; the increment is the batch's
    own ``(doc_id, sig)`` rows to append to the index.

    Decomposition invariant (pinned by test): signatures are per-doc
    deterministic, so candidates(old ∪ new) ≡ within-old ∪
    within-batch ∪ vs-history exactly. The group-size rail guards the
    batch side; the history side is a map-only banding of the persisted
    sigs (its bucket discipline is set at index-build time — build
    collapsed)."""
    new_sigd = (ensure_min_partitions(new_df)
                .where(F.length(F.trim(F.col(text_col))) > 0)
                .select(F.col(id_col).alias("id"),
                        simhash(F.col(text_col), portable=portable)
                         .alias("sig")))
    new_banded = _simhash_banded_from_sigs(new_sigd, band_bits,
                                           max_bucket_size,
                                           "simhash_incremental")
    l, r = new_banded.alias("l"), new_banded.alias("r")
    within = (l.join(r, ["band", "bucket"])
               .where(F.col("l.id") < F.col("r.id"))
               .select(F.col("l.id").alias("a_id"),
                       F.col("r.id").alias("b_id"),
                       F.col("l.sig").alias("a_sig"),
                       F.col("r.sig").alias("b_sig"))
               .distinct()
               .withColumn("vs", F.lit("batch")))
    hist = _simhash_banded_from_sigs(
        index.select(F.col(id_col).alias("id"), "sig"),
        band_bits, None, "simhash_incremental") \
        .select(F.col("id").alias("h_id"), F.col("sig").alias("h_sig"),
                "band", "bucket")
    cross = (new_banded.join(hist, ["band", "bucket"])
                       .where(F.col("h_id") != F.col("id"))
                       .select(F.col("h_id").alias("a_id"),
                               F.col("id").alias("b_id"),
                               F.col("h_sig").alias("a_sig"),
                               F.col("sig").alias("b_sig"))
                       .distinct()
                       .withColumn("vs", F.lit("history")))
    pairs = within.unionByName(cross)
    hamming = F.bit_count(F.col("a_sig").bitwiseXOR(F.col("b_sig")))
    candidates = (pairs.withColumn("hamming", hamming)
                       .drop("a_sig", "b_sig")
                       .select("a_id", "b_id", "hamming", "vs"))
    increment = new_sigd.select(F.col("id").alias(id_col), "sig")
    return candidates, increment


def simhash_candidates(df: DataFrame, band_bits: int = 16,
                       id_col: str = "doc_id",
                       text_col: str = "text",
                       portable: bool = False,
                       max_bucket_size: int | None = 10_000,
                       precollapse_exact: bool = False) -> DataFrame:
    """Near-dup candidates: equal SimHash bands (4×16-bit blocking — any
    pair within hamming distance 3 shares ≥1 band). ``portable=True``
    votes with :func:`portable_token_hash64` (md5-derived) so a DuckDB
    oracle recomputes every signature bit, band bucket, and hamming
    distance exactly; the default stays xxhash64 for the hot path.

    Identical texts share the whole 64-bit signature, hence every band
    bucket — the same mega-bucket exposure as MinHash banding, with the
    same two rails: the (band, bucket) group-size plan-assert
    (``max_bucket_size``; window count under the join's own hash
    partitioning) and ``precollapse_exact=True``, which bands one
    representative per distinct text and re-attaches members as linear
    (rep, member, hamming=0) edges."""
    if precollapse_exact:
        reps, dup_edges = collapse_exact(df, id_col, text_col)
        near = simhash_candidates(reps, band_bits, id_col, text_col,
                                  portable=portable,
                                  max_bucket_size=max_bucket_size,
                                  precollapse_exact=False)
        return near.unionByName(
            dup_edges.withColumn("hamming", F.lit(0)))
    # DEGENERATE-SIGNATURE exclusion (mirrors minhash_lsh_candidates): a
    # doc with zero tokens votes no bits, signature = 0, so ALL empty
    # docs share all four bands — a guaranteed mega-bucket on a web
    # corpus. They carry no hamming signal (0 xor 0 = 0 for any pair of
    # empties regardless of content-less difference); byte-identical
    # empties belong to exact dedup / collapse_exact, not banding. The
    # SQL oracle's unnest() already excludes zero-token docs — this
    # aligns the engines. tokens() drops empty strings, so zero tokens
    # ⇔ null-or-whitespace text.
    sigd = ensure_min_partitions(df).where(
        F.length(F.trim(F.col(text_col))) > 0).select(
        F.col(id_col).alias("id"),
        simhash(F.col(text_col), portable=portable).alias("sig"))
    banded = _simhash_banded_from_sigs(sigd, band_bits, max_bucket_size,
                                       "simhash_candidates")
    l, r = banded.alias("l"), banded.alias("r")
    pairs = (l.join(r, ["band", "bucket"])
              .where(F.col("l.id") < F.col("r.id"))
              .select(F.col("l.id").alias("a_id"),
                      F.col("r.id").alias("b_id"),
                      F.col("l.sig").alias("a_sig"),
                      F.col("r.sig").alias("b_sig"))
              .distinct())
    hamming = F.bit_count(F.col("a_sig").bitwiseXOR(F.col("b_sig")))
    return pairs.withColumn("hamming", hamming).drop("a_sig", "b_sig")


# -- Paragraph-level dedup (CCNet-style) ------------------------------------

def paragraph_dedup(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text",
                    sep: str = "\n\n") -> DataFrame:
    """Corpus-wide PARAGRAPH dedup (CCNet-style): split every document
    on ``sep``, keep exactly ONE copy of each distinct non-empty
    paragraph across the whole corpus — the occurrence with the
    lexicographically smallest ``(doc_id, position)`` — and reassemble
    each document from its surviving paragraphs in original order.

    Returns ``(doc_id, text, n_paragraphs, n_kept)``; documents whose
    every paragraph was seen earlier elsewhere come back with empty
    text (the row is kept so downstream can decide to drop or keep the
    husk). Deterministic on any engine/partitioning: the winner rule
    has no ties.

    Scale shape: the exploded relation carries ``(id, idx,
    xxhash64(paragraph))`` — 20-byte long rows, never the paragraph
    strings — through BOTH wide stages (the winner window keyed on the
    hash and the per-doc regroup); each document's text is then
    reassembled from its OWN row by re-splitting and keeping the
    surviving positions, so paragraph bytes are read in a map stage and
    never cross an exchange. Hash collisions would merge two distinct
    paragraphs' windows with p ~ |paragraphs|^2 / 2^64 — immaterial,
    and the string-keyed SQL oracle would catch it.
    """
    import re as _re

    from pyspark.sql import Window

    parts = F.split(F.col(text_col), _re.escape(sep), -1)
    exploded = (df.select(F.col(id_col).alias("id"),
                          F.posexplode(parts).alias("idx", "para"))
                  .where(F.length("para") > 0)
                  .select("id", "idx", F.xxhash64("para").alias("ph")))
    w = Window.partitionBy("ph")
    kept = exploded.withColumn(
        "keep", F.struct("id", "idx")
        == F.min(F.struct("id", "idx")).over(w))
    per_doc = kept.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_paragraphs"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
        F.array_sort(F.collect_list(
            F.when(F.col("keep"), F.col("idx")))).alias("kept_idx"))
    surv = F.filter(
        F.transform(parts, lambda p, i: F.struct(i.alias("idx"),
                                                 p.alias("para"))),
        lambda s: F.array_contains(F.col("kept_idx"), s["idx"]))
    text = F.array_join(F.transform(surv, lambda s: s["para"]), sep)
    return (df.select(F.col(id_col).alias("id"),
                      F.col(text_col).alias(text_col)).distinct()
              .join(per_doc, "id", "left")
              .select(F.col("id").alias(id_col),
                      F.when(F.col("kept_idx").isNull(), F.lit(""))
                       .otherwise(text).alias(text_col),
                      F.coalesce("n_paragraphs", F.lit(0)).cast("long")
                       .alias("n_paragraphs"),
                      F.coalesce("n_kept", F.lit(0)).cast("long")
                       .alias("n_kept")))


def boilerplate_filter(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", sep: str = "\n\n",
                       max_df: int = 2) -> DataFrame:
    """C4-style boilerplate removal: drop every paragraph/line whose
    corpus-wide document frequency EXCEEDS ``max_df`` from ALL documents
    (cookie banners, nav headers, license footers — text repeated across
    many pages is boilerplate, not content). Unlike ``paragraph_dedup``
    nothing survives of an over-frequent paragraph, and distinct counts
    are per-document (a paragraph repeated inside one doc counts once).

    Returns ``(doc_id, text, n_paragraphs, n_dropped)``. Scale shape:
    every wide stage (the per-doc distinct, the document-frequency
    count, the join back, the per-doc regroup) moves ``(id, idx,
    xxhash64(paragraph))`` long rows — the paragraph strings are read
    in a map stage and reassembled from each document's own re-split
    row, never shuffled (collision odds ~|paragraphs|^2 / 2^64,
    string-keyed SQL oracle would catch one).
    """
    import re as _re

    parts = F.split(F.col(text_col), _re.escape(sep), -1)
    exploded = (df.select(F.col(id_col).alias("id"),
                          F.posexplode(parts).alias("idx", "para"))
                  .where(F.length("para") > 0)
                  .select("id", "idx", F.xxhash64("para").alias("ph")))
    freq = (exploded.select("id", "ph").distinct()
                    .groupBy("ph")
                    .agg(F.count(F.lit(1)).alias("para_df")))
    flagged = (exploded.join(freq, "ph")
                       .withColumn("keep", F.col("para_df") <= max_df))
    per_doc = flagged.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_paragraphs"),
        F.sum((~F.col("keep")).cast("long")).alias("n_dropped"),
        F.array_sort(F.collect_list(
            F.when(F.col("keep"), F.col("idx")))).alias("kept_idx"))
    surv = F.filter(
        F.transform(parts, lambda p, i: F.struct(i.alias("idx"),
                                                 p.alias("para"))),
        lambda s: F.array_contains(F.col("kept_idx"), s["idx"]))
    text = F.array_join(F.transform(surv, lambda s: s["para"]), sep)
    return (df.select(F.col(id_col).alias("id"),
                      F.col(text_col).alias(text_col)).distinct()
              .join(per_doc, "id", "left")
              .select(F.col("id").alias(id_col),
                      F.when(F.col("kept_idx").isNull(), F.lit(""))
                       .otherwise(text).alias(text_col),
                      F.coalesce("n_paragraphs", F.lit(0)).cast("long")
                       .alias("n_paragraphs"),
                      F.coalesce("n_dropped", F.lit(0)).cast("long")
                       .alias("n_dropped")))


# -- Exact-substring dedup (repeated n-gram spans) ---------------------------

def _merged_repeated_spans(df: DataFrame, n: int, min_count: int,
                           keep_first: bool, id_col: str,
                           text_col: str) -> DataFrame:
    """(id, ivs) with ivs = merged, sorted word-index intervals
    [start, end) covering every marked occurrence of a duplicated
    n-word gram. Shared plan for the span report and the remover."""
    if n < 2:
        raise ValueError("n must be >= 2 (a 1-gram span check is a "
                         "stop-word filter, not substring dedup)")
    if min_count < 2:
        raise ValueError("min_count < 2 would mark every gram")

    from valico_spark.operators.text import tokens

    # word hashes once per doc; gram hash = xxhash64 over the n-long
    # slice of word hashes (longs, not strings — the slice+hash is the
    # O(n)-per-position constant documented in the public docstring)
    words = (df.select(F.col(id_col).alias("id"),
                       F.transform(tokens(F.col(text_col)),
                                   lambda t: F.xxhash64(t)).alias("wh"))
               .where(F.size("wh") >= n))
    grams = F.transform(
        F.sequence(F.lit(0), F.size("wh") - n),
        lambda i: F.xxhash64(F.slice("wh", i + 1, n)))
    pos = words.select("id", F.posexplode(grams).alias("pos", "gram"))

    # ONE map-side-combined aggregation carries both the corpus count
    # and the keep_first winner; the join back matches each position to
    # exactly one stats row, so a gram repeated 10^6 times costs a
    # 10^6-row streamed join partition, never a pair blow-up.
    stats = (pos.groupBy("gram")
                .agg(F.count(F.lit(1)).alias("cnt"),
                     F.min(F.struct("id", "pos")).alias("first_occ"))
                .where(F.col("cnt") >= min_count))
    marked = pos.join(stats, "gram")
    if keep_first:
        marked = marked.where(
            F.struct("id", "pos") != F.col("first_occ"))
    spans = marked.select(
        "id", F.col("pos").alias("start"),
        (F.col("pos") + F.lit(n)).alias("end"))

    # per-doc interval merge — collect_list is bounded by the doc's own
    # word count; the merge fold is pure codegen-free HOF but per-row
    merged = spans.groupBy("id").agg(
        F.array_sort(F.collect_list(F.struct("start", "end")))
         .alias("raw"))
    empty = F.array().cast("array<struct<start:int,end:int>>")

    def _fold(acc, x):
        last = F.element_at(acc, -1)
        overlaps = (F.size(acc) > 0) & (x["start"] <= last["end"])
        widened = F.concat(
            F.slice(acc, 1, F.size(acc) - 1),
            F.array(F.struct(
                last["start"].alias("start"),
                F.greatest(last["end"], x["end"]).alias("end"))))
        return F.when(overlaps, widened) \
                .otherwise(F.concat(acc, F.array(x)))

    return merged.select(
        "id", F.aggregate("raw", empty, _fold).alias("ivs"))


def repeated_ngram_spans(df: DataFrame, n: int = 10,
                         min_count: int = 2, keep_first: bool = True,
                         id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """Exact-substring duplicate spans (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): word-index intervals
    ``(doc_id, start, end)`` — end exclusive — covering every occurrence
    of an ``n``-word gram that appears >= ``min_count`` times across the
    corpus. ``keep_first`` exempts, per gram, the occurrence with the
    smallest ``(doc_id, start)`` — so a passage duplicated verbatim
    survives WHOLE in its first document (every one of its grams has its
    minimum there) and is marked everywhere else. Overlapping marked
    grams merge into maximal intervals.

    Scale shape (all linear in corpus words, no pair join anywhere):
    one posexplode of per-position gram hashes, ONE map-side-combined
    groupBy(gram) carrying count + winner, one long-keyed join back, one
    per-doc merge bounded by doc length. The reference's suffix-array
    construction is single-node; this is the Spark-native equivalent
    with an O(n)-per-position hashing constant (slice of per-word
    xxhash64 longs) instead of O(1) suffix-array lookups — the trade
    that makes it one shuffle end-to-end. Gram-hash collisions mark a
    false span with p ~ positions^2 / 2^64 — immaterial at 10^12 docs'
    risk budget, and only ever removes (never corrupts) text.

    Caveat: with ``keep_first``, PARTIALLY overlapping duplicated
    passages can still slice the retained copy (a gram's winner is
    global, not per-passage); exact Lee-et-al. semantics (remove every
    copy, period) is ``keep_first=False``.
    """
    ivs = _merged_repeated_spans(df, n, min_count, keep_first,
                                 id_col, text_col)
    return (ivs.select("id", F.explode("ivs").alias("iv"))
               .select(F.col("id").alias(id_col),
                       F.col("iv.start").alias("start"),
                       F.col("iv.end").alias("end")))


def remove_repeated_spans(df: DataFrame, n: int = 10,
                          min_count: int = 2, keep_first: bool = True,
                          id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """Rewrite the corpus with duplicated n-gram spans removed: every
    input column passes through unchanged except ``text_col`` (replaced
    in place), plus appended ``n_words`` / ``n_removed`` stats.
    Documents with no marked span (including null/short texts) come
    back with their text VERBATIM; rewritten documents are reassembled
    from the surviving words with single spaces (the same whitespace
    normalization as every tokens()-based operator in this module) —
    derived columns like char counts are the caller's to refresh.
    """
    from valico_spark.operators.text import tokens

    clash = {"n_words", "n_removed", "ivs"} & set(df.columns)
    if clash:
        raise ValueError(f"input already has reserved columns "
                         f"{sorted(clash)} — rename them before "
                         "remove_repeated_spans")
    ivs = _merged_repeated_spans(df, n, min_count, keep_first,
                                 id_col, text_col) \
        .withColumnRenamed("id", id_col)
    w = tokens(F.col(text_col))
    kept = F.filter(w, lambda x, i: ~F.exists(
        F.col("ivs"), lambda iv: (i >= iv["start"]) & (i < iv["end"])))
    untouched = F.col("ivs").isNull()
    passthrough = [F.col(c) for c in df.columns if c != text_col]
    return (df.join(ivs, id_col, "left")
              .select(
                  *passthrough,
                  F.when(untouched, F.col(text_col))
                   .otherwise(F.array_join(kept, " ")).alias(text_col),
                  F.coalesce(F.size(w), F.lit(0)).cast("long")
                   .alias("n_words"),
                  F.when(untouched, F.lit(0))
                   .otherwise(F.size(w) - F.size(kept)).cast("long")
                   .alias("n_removed")))
