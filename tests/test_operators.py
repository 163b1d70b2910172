"""Tests for table-scale operators: stats, uniqueness, referential
integrity, drift, span invariants."""

import importlib
import sys
import zipfile
import zipimport

import pytest
from pyspark.sql import functions as F

from valico_spark.operators import drift, relational, spans, stats
from valico_spark.operators.util import drop_zip_importers


class TestStats:
    def test_profile_matches_exact_counts(self, docs_df, spark):
        prof = {r["column"]: r for r in
                stats.profile(docs_df.select("doc_id"), exact=True).collect()}
        n = docs_df.count()
        d = docs_df.select("doc_id").distinct().count()
        row = prof["doc_id"]
        assert row["n_rows"] == n
        assert row["null_count"] == 0 and row["null_rate"] == 0.0
        assert row["distinct_count"] == d

    def test_profile_numeric(self, media_df):
        prof = {r["column"]: r for r in
                stats.profile(media_df, exact=True).collect()}
        row = prof["size_bytes"]
        assert row["mean"] is not None
        assert len(row["quantiles"]) == 4
        # seeded minimum violations put -1 into the data
        assert float(row["min_s"]) < 0

    def test_hll_close_to_exact(self, docs_df):
        approx = {r["column"]: r["distinct_count"] for r in
                  stats.profile(docs_df.select("doc_id")).collect()}
        exact = docs_df.select("doc_id").distinct().count()
        assert abs(approx["doc_id"] - exact) / exact < 0.1


class TestUniqueness:
    def test_duplicate_keys_found(self, docs_df):
        dups = relational.duplicate_keys(docs_df, ["doc_id"]).collect()
        # generator seeds ~0.1% duplicate doc ids
        assert len(dups) > 0
        assert all(r["dup_count"] >= 2 for r in dups)

    def test_uniqueness_violations_rows(self, docs_df):
        rows = relational.uniqueness_violations(docs_df, ["doc_id"],
                                                ["doc_id"])
        n_rows = rows.count()
        n_keys = relational.duplicate_keys(docs_df, ["doc_id"]).count()
        assert n_rows >= 2 * n_keys


class TestReferential:
    def test_dangling_media_refs(self, spark, docs_df, media_df):
        exploded = (docs_df
                    .select(F.col("doc_id"),
                            F.explode("spans").alias("s"))
                    .where(F.col("s.media_ref").isNotNull())
                    .select("doc_id",
                            F.col("s.media_ref").alias("media_ref")))
        o = relational.orphans(exploded, "media_ref", media_df, "media_ref")
        n_orphans = o.count()
        n_refs = exploded.count()
        # ~1% seeded dangling
        assert 0 < n_orphans < 0.05 * n_refs

    def test_null_keys_are_not_orphans(self, spark):
        child = spark.createDataFrame([(1, "a"), (2, None)], ["id", "fk"])
        parent = spark.createDataFrame([("a",)], ["pk"])
        o = relational.orphans(child, "fk", parent, "pk").collect()
        assert o == []


class TestAsofJoin:
    def test_backward_asof_edges(self, spark):
        """Ties adopt the equal-timestamp snapshot (<= semantics), rows
        before any snapshot get NULLs, and a snapshot whose payload
        FIELD is NULL is still adopted atomically — not skipped in
        favor of an older non-null value (the struct-fill property)."""
        left = spark.createDataFrame(
            [(1, "u", 5, "early"),   # before any snapshot -> NULLs
             (2, "u", 10, "tie"),    # ties snapshot at t=10 -> adopts it
             (3, "u", 25, "mid"),    # newest <= 25 is t=20 (null field!)
             (4, "u", 35, "late"),   # newest is t=30
             (5, "v", 99, "nokey")],  # key with no snapshots -> NULLs
            "event_id long, k string, t long, tag string")
        right = spark.createDataFrame(
            [("u", 10, 100, "a"),
             ("u", 20, None, "b"),   # NULL payload field
             ("u", 30, 300, "c")],
            "k string, t long, val int, lbl string")
        out = {r.event_id: (r.val, r.lbl)
               for r in relational.asof_join(
                   left, right, "k", "t", "t",
                   ["val", "lbl"]).collect()}
        assert out == {1: (None, None), 2: (100, "a"),
                       3: (None, "b"), 4: (300, "c"),
                       5: (None, None)}

    def test_tolerance_nulls_stale_snapshots(self, spark):
        """merge_asof(tolerance=...) contract: a snapshot older than
        left_ts - tolerance is treated as absent, per adopted snapshot
        (not per newest-anywhere)."""
        left = spark.createDataFrame(
            [(1, "u", 12), (2, "u", 30)],
            "event_id long, k string, t long")
        right = spark.createDataFrame(
            [("u", 10, 100)], "k string, t long, val int")
        out = {r.event_id: r.val
               for r in relational.asof_join(
                   left, right, "k", "t", "t", ["val"],
                   tolerance=F.lit(5)).collect()}
        assert out == {1: 100, 2: None}  # 30-10 > 5 -> stale


class TestRangeJoin:
    def test_bucketized_matches_inequality(self, spark):
        """Bucketized plan == brute-force lo <= p < hi semantics,
        including points on interval boundaries, intervals spanning
        many buckets, and overlapping intervals (a point may match
        several)."""
        pts = spark.createDataFrame(
            [(i, float(v)) for i, v in
             enumerate([0, 5, 10, 15, 99, 100, 250, 999])],
            "pid long, p double")
        iv = spark.createDataFrame(
            [(1, 0.0, 10.0),      # p=10 excluded (half-open)
             (2, 10.0, 100.0),    # p=10 included, p=100 excluded
             (3, 0.0, 1000.0),    # spans many buckets, overlaps all
             (4, 500.0, 600.0)],  # matches nothing here
            "iid long, lo double, hi double")
        got = sorted((r.pid, r.iid) for r in relational.range_join(
            pts, iv, "p", "lo", "hi", bucket_width=7.0).collect())
        rows = [(i, float(v)) for i, v in
                enumerate([0, 5, 10, 15, 99, 100, 250, 999])]
        ivs = [(1, 0.0, 10.0), (2, 10.0, 100.0),
               (3, 0.0, 1000.0), (4, 500.0, 600.0)]
        want = sorted((pid, iid) for pid, p in rows
                      for iid, lo, hi in ivs if lo <= p < hi)
        assert got == want and len(got) > 0

    def test_range_join_refuses_outer(self, spark):
        """The residual inequality filter would silently drop an outer
        join's null-extended rows (degenerating it to inner), so any
        non-inner `how` is refused loudly (ADVICE r4)."""
        import pytest as _p

        pts = spark.createDataFrame([(1, 1.0)], "pid long, p double")
        iv = spark.createDataFrame([(1, 0.0, 2.0)],
                                   "iid long, lo double, hi double")
        with _p.raises(ValueError, match="how='inner' only"):
            relational.range_join(pts, iv, "p", "lo", "hi",
                                  bucket_width=1.0, how="left")

    def test_interval_overlap_exactly_once(self, spark):
        """Self overlap join == brute force, each pair EXACTLY once
        (canonical-bucket emission, no distinct), key-partitioned,
        half-open boundaries (touching intervals don't overlap)."""
        ivs = [(1, "u", 0.0, 10.0), (2, "u", 5.0, 50.0),
               (3, "u", 10.0, 20.0),   # touches #1 -> NOT overlapping
               (4, "u", 0.0, 100.0),   # spans many buckets
               (5, "v", 0.0, 100.0)]   # other key: never pairs with u
        df = spark.createDataFrame(
            ivs, "iid long, k string, lo double, hi double")
        out = relational.interval_overlap_join(
            df, df, "lo", "hi", "lo", "hi",
            bucket_width=7.0, key="k")
        got = sorted((r.iid, r.iid_r) for r in out.collect()
                     if r.iid < r.iid_r)
        want = sorted((a, b)
                      for i, (a, ka, alo, ahi) in enumerate(ivs)
                      for b, kb, blo, bhi in ivs[i + 1:]
                      if ka == kb and alo < bhi and blo < ahi)
        assert got == want
        # exactly-once: no pair appears twice even pre-filter
        all_pairs = [(r.iid, r.iid_r) for r in out.collect()]
        assert len(all_pairs) == len(set(all_pairs))

    def test_randomized_join_parity(self, spark):
        """Seeded random instances vs brute force for all three
        relational additions (asof, range, overlap) — random interval
        widths, bucket widths, duplicate timestamps, multiple keys."""
        import random

        for seed in (11, 29, 47):
            rnd = random.Random(seed)
            keys = ["a", "b", "c"]
            evs = [(i, rnd.choice(keys), float(rnd.randrange(0, 100)))
                   for i in range(40)]
            # snapshots: unique (key, t) by construction
            snaps = [(k, float(t), rnd.randrange(1, 999))
                     for k in keys
                     for t in rnd.sample(range(0, 100), 12)]
            w = rnd.choice([3.0, 7.0, 13.0])

            ldf = spark.createDataFrame(evs, "eid long, k string, t double")
            rdf = spark.createDataFrame(snaps,
                                        "k string, t double, val long")
            got = {r.eid: r.val for r in relational.asof_join(
                ldf, rdf, "k", "t", "t", ["val"]).collect()}
            want = {}
            for eid, k, t in evs:
                prior = [(st, v) for sk, st, v in snaps
                         if sk == k and st <= t]
                want[eid] = max(prior)[1] if prior else None
            assert got == want, f"asof seed={seed}"

            ivs = [(j, rnd.choice(keys),
                    float(rnd.randrange(0, 90)))
                   for j in range(25)]
            ivs = [(j, k, lo, lo + rnd.randrange(1, 40))
                   for j, k, lo in ivs]
            idf = spark.createDataFrame(
                ivs, "iid long, k string, lo double, hi double")
            got_r = sorted((r.eid, r.iid) for r in relational.range_join(
                ldf, idf, "t", "lo", "hi", bucket_width=w).collect())
            want_r = sorted((eid, j) for eid, _, t in evs
                            for j, _, lo, hi in ivs if lo <= t < hi)
            assert got_r == want_r, f"range seed={seed}"

            got_o = sorted((r.iid, r.iid_r)
                           for r in relational.interval_overlap_join(
                               idf, idf, "lo", "hi", "lo", "hi",
                               bucket_width=w, key="k").collect()
                           if r.iid < r.iid_r)
            want_o = sorted((a, b)
                            for x, (a, ka, alo, ahi) in enumerate(ivs)
                            for b, kb, blo, bhi in ivs[x + 1:]
                            if ka == kb and alo < bhi and blo < ahi)
            assert got_o == want_o, f"overlap seed={seed}"


class TestDrift:
    def test_chi_square_same_distribution(self, spark, media_df):
        half_a = media_df.where(F.crc32(F.col("media_ref")) % 2 == 0)
        half_b = media_df.where(F.crc32(F.col("media_ref")) % 2 == 1)
        row = drift.chi_square(half_a, half_b, "media_type").collect()[0]
        assert row["statistic"] < 50

    def test_chi_square_detects_shift(self, spark, media_df):
        shifted = media_df.withColumn(
            "media_type", F.lit("image"))
        row = drift.chi_square(shifted, media_df, "media_type").collect()[0]
        assert row["statistic"] > 100

    def test_ks_same_vs_shifted(self, spark, media_df):
        a = media_df.select("size_bytes")
        b = media_df.select((F.col("size_bytes") + 5_000_000)
                            .alias("size_bytes"))
        same = drift.ks_binned(a, a, "size_bytes")
        diff = drift.ks_binned(a, b, "size_bytes")
        assert same < 0.01
        assert diff > 0.2

    def test_helpers_build_plans_without_driver_jobs(self, spark,
                                                     media_df):
        """chi_square / ks_binned_table must be pure plan builders: an
        audit composition embedding them must not trigger hidden
        .collect() jobs at construction time (totals/range are broadcast
        1-row aggregates inside the plan)."""
        from pyspark.sql import DataFrame

        half_a = media_df.where(F.crc32(F.col("media_ref")) % 2 == 0)
        half_b = media_df.where(F.crc32(F.col("media_ref")) % 2 == 1)

        def boom(self, *a, **k):
            raise AssertionError("driver collect during plan build")

        orig_collect, orig_count = DataFrame.collect, DataFrame.count
        DataFrame.collect = boom
        DataFrame.count = boom
        try:
            chi = drift.chi_square(half_a, half_b, "media_type")
            ks = drift.ks_binned_table(half_a, half_b, "size_bytes")
        finally:
            DataFrame.collect = orig_collect
            DataFrame.count = orig_count
        assert chi.collect()[0]["statistic"] is not None
        assert ks.count() > 0

    def test_ks_degenerate_single_value(self, spark):
        one = spark.range(5).select(F.lit(3.0).alias("v"))
        assert drift.ks_binned(one, one, "v") == 0.0


class TestSpans:
    def test_ordering_flag(self, docs_df):
        checked = spans.add_span_checks(docs_df)
        frac_bad = (checked.where(~F.col("spans_ordered")).count()
                    / checked.count())
        # generator seeds ordering defects in a subset of defective docs
        assert 0 < frac_bad < 0.1

    def test_edge_rows_pinned(self, spark):
        """NULL / empty / NULL-element arrays, NULL, duplicate,
        decreasing and extreme offsets: the ordering flag and the
        signature keep the values of the earlier higher-order-function
        form (``aggregate`` over the offsets, ``xxhash64`` of a
        ``transform``-built canonical array)."""
        big = 2 ** 63 - 1

        def s(kind, text, ref, off):
            return (kind, text, ref, off)

        rows = [
            (1, None), (2, []), (3, [None]),
            (4, [s("text", "a", None, 0)]),
            (5, [s("text", "a", None, 0), s("image", None, "m00000001", 5)]),
            (6, [s("text", "a", None, 3), s("text", "b", None, 3)]),
            (7, [s("text", "a", None, 9), s("text", "b", None, 2)]),
            (8, [s("text", "a", None, None), s("text", "b", None, 2)]),
            (9, [s("text", "a", None, 1), s("text", "b", None, None)]),
            (10, [s("text", "a", None, 1), None, s("text", "b", None, 4)]),
            (11, [s("text", "a", None, -big - 1), s("ref", None, None, big)]),
            (12, [s(None, None, None, None)]),
            (13, [s("text", "x", None, 0), s("text", "x", None, 1),
                  s("text", "x", None, 1)]),
        ]
        df = spark.createDataFrame(
            rows, "id int, spans array<struct<kind:string,text:string,"
                  "media_ref:string,offset:long>>")
        got = [(r.id, r.spans_ordered, r.span_sig) for r in
               spans.add_span_checks(df).orderBy("id").collect()]
        ab = -4038444106149950944
        assert got == [
            (1, None, 42), (2, True, 42), (3, False, 42),
            (4, True, 7850432807942382905), (5, True, -856600880801138580),
            (6, False, ab), (7, False, ab), (8, False, ab), (9, False, ab),
            (10, False, ab), (11, True, -5300350193179919452),
            (12, False, 42), (13, False, 7957766278342452467)]

    def test_sequence_equality_self(self, docs_df):
        # exclude seeded duplicate doc_ids: the self-join cross-pairs them
        # and correctly reports their differing span sequences
        dups = relational.duplicate_keys(docs_df, ["doc_id"])
        uniq = docs_df.join(dups.select("doc_id"), "doc_id", "left_anti")
        eq = spans.sequence_equality(uniq, uniq)
        assert eq.where(~F.col("equal")).count() == 0

    def test_sequence_equality_detects_mutation(self, docs_df, spark):
        mutated = docs_df.withColumn(
            "spans", F.reverse(F.col("spans")))
        eq = spans.sequence_equality(docs_df, mutated)
        multi = docs_df.where(F.size("spans") >= 2).count()
        assert eq.where(~F.col("equal")).count() >= multi * 0.9

    def test_signature_stable(self, docs_df):
        dups = relational.duplicate_keys(docs_df, ["doc_id"])
        docs_df = docs_df.join(dups.select("doc_id"), "doc_id", "left_anti")
        checked = spans.add_span_checks(docs_df).select("doc_id", "span_sig")
        again = spans.add_span_checks(docs_df).select(
            "doc_id", F.col("span_sig").alias("sig2"))
        joined = checked.join(again, "doc_id")
        assert joined.where(F.col("span_sig") != F.col("sig2")).count() == 0


class TestAssembleText:
    def test_render_order_and_placeholders(self, spark):
        rows = [("d1", [
            {"kind": "image", "text": None, "media_ref": "m1", "offset": 5},
            {"kind": "text", "text": "hello ", "media_ref": None,
             "offset": 0},
            {"kind": "text", "text": " world", "media_ref": None,
             "offset": 9},
        ])]
        schema = ("doc_id string, spans array<struct<kind:string,"
                  "text:string,media_ref:string,offset:int>>")
        df = spark.createDataFrame(rows, schema)
        out = df.select(spans.assemble_text(F.col("spans")).alias("t")) \
                .collect()[0].t
        assert out == "hello <|media:image|> world"

    def test_null_text_span_renders_empty(self, spark):
        schema = ("doc_id string, spans array<struct<kind:string,"
                  "text:string,media_ref:string,offset:int>>")
        df = spark.createDataFrame(
            [("d1", [{"kind": "text", "text": None, "media_ref": None,
                      "offset": 0},
                     {"kind": "text", "text": "x", "media_ref": None,
                      "offset": 1}])], schema)
        assert df.select(spans.assemble_text(F.col("spans")).alias("t")) \
                 .collect()[0].t == "x"

    def test_kind_stats_and_no_shuffle(self, docs_df):
        out = spans.span_kind_stats(docs_df)
        row = out.where(F.size("spans") > 0).first()
        assert row.n_spans == row.n_text_spans + row.n_media_spans
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        # text mass equals the sum of text-span lengths on a sample
        sample = out.limit(50).collect()
        for r in sample:
            exp = sum(len(s.text) for s in r.spans
                      if s.kind == "text" and s.text is not None)
            assert r.text_chars == exp


class TestSkew:
    def test_salted_count_matches_plain(self, docs_df):
        from valico_spark.operators import skew

        plain = {tuple(r)[:-1]: r["count"] for r in
                 docs_df.groupBy("doc_id")
                 .agg(F.count(F.lit(1)).alias("count")).collect()}
        salted = {tuple(r)[:-1]: r["count"] for r in
                  skew.salted_count(docs_df, ["doc_id"]).collect()}
        assert plain == salted

    def test_length_capped_split_preserves_spans(self, docs_df):
        from valico_spark.operators import skew

        split = skew.length_capped_split(docs_df, "spans", max_len=8)
        # every chunk bounded
        assert split.where(F.size("spans") > 8).count() == 0
        # total spans preserved
        orig = docs_df.agg(F.sum(F.size("spans"))).collect()[0][0]
        after = split.agg(F.sum(F.size("spans"))).collect()[0][0]
        assert orig == after

    def test_salted_repartition_roundtrip(self, docs_df):
        from valico_spark.operators import skew

        out = skew.salted_repartition(docs_df, "doc_id", n_salts=4,
                                      num_partitions=8)
        assert out.count() == docs_df.count()
        assert out.columns == docs_df.columns


class TestSaltedJoin:
    def test_matches_plain_join(self, spark):
        from valico_spark.operators.skew import salted_join

        left = spark.createDataFrame(
            [("hot", i) for i in range(500)] + [("cold", 0), ("only_l", 1)],
            "k string, v long")
        right = spark.createDataFrame(
            [("hot", "H"), ("cold", "C"), ("only_r", "R")],
            "k string, tag string")
        got = salted_join(left, right, "k", n_salts=8)
        plain = left.join(right, "k")
        assert got.count() == plain.count() == 501
        g = {(r["k"], r["v"], r["tag"]) for r in got.collect()}
        p = {(r["k"], r["v"], r["tag"]) for r in plain.collect()}
        assert g == p


class TestCorpusReport:
    def test_single_agg_and_consistency(self, spark):
        from valico_spark.operators.text import corpus_report

        df = spark.createDataFrame(
            [(1, "a b c", "en", "web", 50),
             (2, "d e", "en", "web", 200),
             (3, "f", "de", "book", 99)],
            "doc_id long, text string, lang string, source string, "
            "n_chars long")
        rows = {(r.lang, r.source): r
                for r in corpus_report(df).collect()}
        en = rows[("en", "web")]
        assert en.n_docs == 2 and en.chars_total == 250
        assert en.tokens_total == 5 and en.short_docs == 1
        assert abs(en.chars_mean_r - 125.0) < 1e-9
        assert abs(en.short_frac_r - 0.5) < 1e-9
        de = rows[("de", "book")]
        assert de.n_docs == 1 and de.short_docs == 1
        # exactly one aggregation: a single Exchange in the plan
        plan = corpus_report(df)._jdf.queryExecution() \
            .executedPlan().toString()
        assert plan.count("Exchange") <= 1


class TestChunkText:
    def test_coverage_and_overlap(self, spark):
        from valico_spark.operators.text import chunk_text

        df = spark.createDataFrame([(1, "abcdefghij")],
                                   "doc_id long, text string")
        rows = sorted(chunk_text(df, size=4, overlap=2).collect(),
                      key=lambda r: r.chunk_id)
        assert [(r.chunk_id, r.chunk_start, r.chunk) for r in rows] == [
            (0, 0, "abcd"), (1, 2, "cdef"), (2, 4, "efgh"),
            (3, 6, "ghij")]
        # reassembly: stripping the overlap from every later chunk
        # reproduces the document
        text = rows[0].chunk + "".join(r.chunk[2:] for r in rows[1:])
        assert text == "abcdefghij"

    def test_short_and_empty_docs(self, spark):
        from valico_spark.operators.text import chunk_text

        df = spark.createDataFrame([(1, "ab"), (2, "")],
                                   "doc_id long, text string")
        rows = chunk_text(df, size=4, overlap=1).collect()
        assert [(r.doc_id, r.chunk) for r in rows] == [(1, "ab")]

    def test_param_validation(self, spark):
        from valico_spark.operators.text import chunk_text

        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        import pytest as _p
        for size, ov in ((0, 0), (4, 4), (4, -1)):
            with _p.raises(ValueError):
                chunk_text(df, size=size, overlap=ov)


class TestInferRuleset:
    def test_round_trip_self_valid(self, spark):
        from valico_spark.operators.infer import infer_ruleset
        from valico_spark.operators.validate import validate_dataframe

        orders = spark.read.parquet(
            "/root/testdata/sf0.001/orders.parquet")
        rs = infer_ruleset(orders)
        # the suggestion is a real compiler input and the source data
        # satisfies it
        v = validate_dataframe(orders, rs, mode="columns")
        assert v.where(~F.col("valid")).count() == 0
        # enum inferred for genuinely low-cardinality strings
        assert "enum" in rs["properties"]["o_orderstatus"]
        assert rs["properties"]["o_orderkey"]["type"] == "integer"
        # observed-non-null columns are required
        assert "o_orderkey" in rs["required"]

    def test_detects_mutations_and_nullability(self, spark):
        from valico_spark.operators.infer import infer_ruleset
        from valico_spark.operators.validate import validate_dataframe

        df = spark.createDataFrame(
            [(1, "a", 1.5), (2, "b", 2.5), (3, None, 3.5)],
            "k long, s string, x double")
        rs = infer_ruleset(df)
        assert "s" not in rs["required"]          # observed null
        assert None in rs["properties"]["s"]["enum"]
        assert rs["properties"]["x"]["minimum"] == 1.5
        mut = spark.createDataFrame([(9, "zzz", 99.0)],
                                    "k long, s string, x double")
        vm = validate_dataframe(mut, rs, mode="columns")
        assert vm.where(~F.col("valid")).count() == 1

    def test_two_jobs_only(self, spark):
        from valico_spark.operators.infer import infer_ruleset

        df = spark.createDataFrame([(1, "a")], "k long, s string")
        tracker = spark.sparkContext.statusTracker()
        before = len(tracker.getJobIdsForGroup(None))
        infer_ruleset(df)
        after = len(tracker.getJobIdsForGroup(None))
        # two collect() actions; AQE may split each into 2 sub-jobs
        assert after - before <= 4


class TestJsonDepthProfile:
    CASES = [
        ("5", 0), ('"x"', 0), ("null", 0),
        ("{}", 1), ("[]", 1),
        ('{"a": 1}', 1), ('{"a": [1, 2]}', 2),
        ('[[[]]]', 3), ('{"a": {"b": {"c": 1}}}', 3),
        # braces inside string literals must not count, incl. escapes
        ('{"a": "}["}', 1), ('{"a": "\\"}{"}', 1),
        ('{"a": "\\\\", "b": [1]}', 2),
        # mixed siblings: max, not sum
        ('{"a": [1], "b": {"c": [2]}}', 3),
    ]

    def test_max_depth_cases(self, spark):
        from valico_spark.operators.infer import json_max_depth

        df = spark.createDataFrame(
            [(j, d) for j, d in self.CASES], "j string, want int")
        bad = (df.withColumn("got", json_max_depth("j"))
                 .where(F.col("got") != F.col("want")).collect())
        assert bad == [], bad

    def test_histogram_and_suggest(self, spark):
        from valico_spark.operators.infer import json_depth_histogram

        docs = ['{"a":1}'] * 90 + ['{"a":[1]}'] * 9 + ['[[[[1]]]]'] * 1
        df = spark.createDataFrame([(d,) for d in docs], "j string")
        hist = {r.depth: r.n_docs
                for r in json_depth_histogram(df, "j").collect()}
        assert hist == {1: 90, 2: 9, 4: 1}

    def test_plan_is_pure_codegen(self, spark):
        from valico_spark.operators.infer import json_max_depth

        df = spark.createDataFrame([('{"a":1}',)], "j string")
        plan = (df.select(json_max_depth("j").alias("d"))
                  ._jdf.queryExecution().executedPlan().toString())
        assert "pythonUDF" not in plan and "BatchEvalPython" not in plan


class TestUrlOps:
    def _df(self, spark):
        return spark.createDataFrame(
            [(1, "go to https://A.Example.com/x and http://b.org/y?z=1"),
             (2, "nothing here"),
             (3, "dup https://a.example.com/1 https://a.example.com/2")],
            "doc_id long, text string")

    def test_url_stats(self, spark):
        from valico_spark.operators.text import url_stats

        rows = {r.doc_id: r for r in url_stats(self._df(spark)).collect()}
        assert rows[1].n_urls == 2
        assert sorted(rows[1].domains) == ["a.example.com", "b.org"]
        assert rows[2].n_urls == 0
        assert rows[3].domains == ["a.example.com"]  # distinct

    def test_domain_counts(self, spark):
        from valico_spark.operators.text import domain_counts

        rows = {r.domain: r
                for r in domain_counts(self._df(spark)).collect()}
        assert rows["a.example.com"].n_docs == 2
        assert rows["a.example.com"].n_urls == 3
        assert rows["b.org"].n_docs == 1

    def test_blocklist_filter(self, spark):
        from valico_spark.operators.text import (
            filter_blocklisted_domains,
        )

        kept = sorted(r.doc_id for r in filter_blocklisted_domains(
            self._df(spark), ["A.EXAMPLE.COM"]).collect())
        assert kept == [2]
        all_kept = sorted(r.doc_id for r in filter_blocklisted_domains(
            self._df(spark), ["other.net"]).collect())
        assert all_kept == [1, 2, 3]


class TestIncrementalValidate:
    RS = {"type": "object", "required": ["doc_id"],
          "properties": {"n": {"type": "integer", "minimum": 0}}}

    def test_reuses_unchanged_and_revalidates_changed(self, spark):
        from valico_spark.operators.validate import incremental_validate

        day1 = spark.createDataFrame(
            [(1, 5), (2, -1), (3, 7)], "doc_id long, n long")
        out1 = incremental_validate(day1, None, self.RS, "doc_id")
        v1 = {r.doc_id: r.valid for r in out1.collect()}
        assert v1 == {1: True, 2: False, 3: True}

        # day 2: doc 2 fixed (changed), doc 3 unchanged, doc 4 new,
        # doc 1 removed
        day2 = spark.createDataFrame(
            [(2, 1), (3, 7), (4, -9)], "doc_id long, n long")
        out2 = incremental_validate(day2, out1, self.RS, "doc_id")
        v2 = {r.doc_id: r.valid for r in out2.collect()}
        assert v2 == {2: True, 3: True, 4: False}
        # output is directly usable as the next run's previous
        day3 = spark.createDataFrame(
            [(2, 1), (3, 7), (4, 0)], "doc_id long, n long")
        out3 = incremental_validate(day3, out2, self.RS, "doc_id")
        assert {r.doc_id: r.valid for r in out3.collect()} == \
            {2: True, 3: True, 4: True}

    def test_matches_full_validation(self, spark):
        from valico_spark.operators.validate import (
            incremental_validate, validate_dataframe,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/orders.parquet") \
            .withColumnRenamed("o_orderkey", "doc_id")
        rs = {"type": "object", "required": ["doc_id"],
              "properties": {"o_totalprice":
                             {"type": "number", "maximum": 400000}}}
        first = incremental_validate(docs.limit(800), None, rs, "doc_id")
        second = incremental_validate(docs, first, rs, "doc_id")
        full = validate_dataframe(
            docs.withColumn(
                "__fp", F.lit(0)), rs).drop("__fp")
        a = sorted((r.doc_id, r.valid) for r in second.collect())
        b = sorted((r.doc_id, r.valid) for r in full.collect())
        assert a == b


class TestHeavyHitters:
    def test_exact_and_approx_agree_on_true_hitters(self, spark):
        from valico_spark.operators.stats import heavy_hitters

        # zipf-ish: value v appears ~ 600/v times
        rows = []
        rid = 0
        for v in range(1, 40):
            for _ in range(600 // v):
                rows.append((rid, f"val{v:02d}"))
                rid += 1
        df = spark.createDataFrame(rows, "rid long, v string")
        exact = heavy_hitters(df, "v", k=5).collect()
        assert [r.value for r in exact] == \
            [f"val{i:02d}" for i in range(1, 6)]
        assert exact[0].n == 600 and exact[0].rank == 1
        approx = heavy_hitters(df, "v", k=5, exact=False, id_col="rid",
                               sample_rate=0.05).collect()
        # surviving counts are exact and the true top-5 all appear:
        # each has >=120 rows, P(miss) <= 0.95^120 ~ 2e-3
        assert {r.value for r in approx} == {r.value for r in exact}
        assert all(a.n == e.n for a, e in zip(approx, exact))

    def test_approx_requires_id_col(self, spark):
        from valico_spark.operators.stats import heavy_hitters

        df = spark.createDataFrame([(1, "a")], "rid long, v string")
        import pytest as _p
        with _p.raises(ValueError):
            heavy_hitters(df, "v", exact=False)


class TestReviewRegressions:
    def test_incremental_validate_closed_schema_unaffected_by_fp(
            self, spark):
        from valico_spark.operators.validate import incremental_validate

        rs = {"type": "object", "additionalProperties": False,
              "properties": {"doc_id": {}, "n": {"minimum": 0}},
              "required": ["doc_id"]}
        docs = spark.createDataFrame([(1, 5), (2, -1)],
                                     "doc_id long, n long")
        out = incremental_validate(docs, None, rs, "doc_id")
        v = {r.doc_id: r.valid for r in out.collect()}
        # __fp must NOT leak into additionalProperties
        assert v == {1: True, 2: False}
        out2 = incremental_validate(docs, out, rs, "doc_id")
        assert {r.doc_id: r.valid for r in out2.collect()} == v

    def test_incremental_validate_ruleset_change_revalidates(self, spark):
        from valico_spark.operators.validate import incremental_validate

        docs = spark.createDataFrame([(1, -1)], "doc_id long, n long")
        strict = {"properties": {"n": {"minimum": 0}}}
        relaxed = {"properties": {"n": {"minimum": -10}}}
        out1 = incremental_validate(docs, None, strict, "doc_id")
        assert out1.collect()[0].valid is False
        out2 = incremental_validate(docs, out1, relaxed, "doc_id")
        # changed ruleset -> fingerprint miss -> fresh verdict
        assert out2.collect()[0].valid is True

    def test_url_ops_null_text(self, spark):
        from valico_spark.operators.text import (
            filter_blocklisted_domains, url_stats,
        )

        df = spark.createDataFrame(
            [(1, None), (2, "see https://bad.org/x")],
            "doc_id long, text string")
        stats = {r.doc_id: r for r in url_stats(df).collect()}
        assert stats[1].n_urls == 0 and stats[1].urls == []
        kept = sorted(r.doc_id for r in filter_blocklisted_domains(
            df, ["bad.org"]).collect())
        assert kept == [1]  # null-text doc survives; bad.org doc dropped

    def test_heavy_hitters_approx_counts_null(self, spark):
        from valico_spark.operators.stats import heavy_hitters

        rows = [(i, None if i % 2 == 0 else f"v{i % 5}")
                for i in range(400)]
        df = spark.createDataFrame(rows, "rid long, v string")
        exact = heavy_hitters(df, "v", k=1).collect()
        approx = heavy_hitters(df, "v", k=1, exact=False, id_col="rid",
                               sample_rate=0.2).collect()
        assert exact[0].value is None and exact[0].n == 200
        assert approx[0].value is None and approx[0].n == 200

    def test_lsh_null_first_query_embedding_probes_real_dim(self, spark):
        from valico_spark.operators import similarity

        corpus = spark.createDataFrame(
            [(i, [float(i % 3), 1.0, 0.5, 0.1]) for i in range(20)],
            "vec_id long, embedding array<double>")
        queries = spark.createDataFrame(
            [(100, None), (101, [1.0, 1.0, 0.5, 0.1])],
            "vec_id long, embedding array<double>")
        out = similarity.lsh_topk(corpus, queries, k=3, bits=4, tables=2)
        got = {r.q_id for r in out.collect()}
        # the non-null query gets neighbors; the null one yields nothing
        assert 101 in got


_ZIP_PKG = "zip_importer_probe"


@pytest.fixture
def zip_package(tmp_path):
    """A package of two modules inside a zip on ``sys.path``; restores
    ``sys.path``, the importer cache and ``sys.modules`` afterwards."""
    archive = str(tmp_path / "probe.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr(f"{_ZIP_PKG}/__init__.py", "")
        zf.writestr(f"{_ZIP_PKG}/first.py", "VALUE = 1\n")
        zf.writestr(f"{_ZIP_PKG}/second.py", "VALUE = 2\n")
    saved_path = list(sys.path)
    saved_cache = dict(sys.path_importer_cache)
    sys.path.insert(0, archive)
    yield archive
    sys.path[:] = saved_path
    sys.path_importer_cache.clear()
    sys.path_importer_cache.update(saved_cache)
    for name in [m for m in sys.modules
                 if m == _ZIP_PKG or m.startswith(_ZIP_PKG + ".")]:
        del sys.modules[name]
    zipimport._zip_directory_cache.pop(archive, None)


class TestDropZipImporters:
    def test_invalidation_skips_archive_reread(self, zip_package,
                                               monkeypatch):
        reads = []
        read_directory = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return read_directory(archive)

        first = importlib.import_module(f"{_ZIP_PKG}.first")
        assert first.VALUE == 1
        monkeypatch.setattr(zipimport, "_read_directory", counting)
        # the importers of the archive and of the package re-read it
        importlib.invalidate_caches()
        assert reads and set(reads) == {zip_package}

        reads.clear()
        drop_zip_importers()
        assert not [f for f in sys.path_importer_cache.values()
                    if isinstance(f, zipimport.zipimporter)]
        importlib.invalidate_caches()
        assert reads == []
        # a new submodule still imports from the zip, from the cached
        # directory
        second = importlib.import_module(f"{_ZIP_PKG}.second")
        assert second.VALUE == 2
        assert isinstance(second.__loader__, zipimport.zipimporter)
        assert second.__file__.startswith(zip_package)
        assert reads == []


class TestLocalFrames:
    """Small driver-side result frames are built from pyarrow Tables:
    each plans as a ``LocalTableScan`` with no Python stage (a frame
    built from a Python list re-runs a row-unpickling Python stage, a
    ``Scan ExistingRDD``, on every action) and keeps its schema."""

    @staticmethod
    def _assert_local(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan, plan
        assert "ExistingRDD" not in plan and "Python" not in plan, plan

    def test_result_frames_plan_local(self, spark, tmp_path):
        import json

        from pyspark.sql import types as T

        from valico_spark.operators.export import mixture_sample
        from valico_spark.operators.util import local_frame
        from valico_spark.plans.audit import AuditRun

        prof = stats.profile(spark.createDataFrame(
            [(1, "a"), (2, None), (3, "c")], "n long, s string"),
            quantiles=[0.5])
        self._assert_local(prof)
        assert [f.name for f in prof.schema] == [
            "column", "n_rows", "null_count", "null_rate",
            "distinct_count", "min_s", "max_s", "mean", "quantiles"]
        assert {r["column"]: r["null_count"] for r in prof.collect()} \
            == {"n": 0, "s": 1}

        docs = spark.range(0, 60).select(
            F.col("id").alias("doc_id"),
            F.when(F.col("id") % 2 == 0, "web").otherwise("wiki")
             .alias("source"),
            F.lit(10).cast("long").alias("n_tokens"))
        _, report = mixture_sample(docs, {"web": 0.5, "wiki": 0.5})
        self._assert_local(report)
        assert report.schema.simpleString() == (
            "struct<source:string,weight:double,available_tokens:bigint,"
            "target_tokens:bigint,rate:double,achieved_tokens:bigint>")
        assert {r.source for r in report.collect()} == {"web", "wiki"}

        run = AuditRun(spark, str(tmp_path), "r1", n_buckets=2)
        with open(f"{run._manifest_dir()}/0.json", "w") as f:
            json.dump({"bucket": 0, "docs": 5, "valid_docs": 4,
                       "violations": 1, "wall_sec": 0, "run_id": "r1",
                       "committed_at": 0}, f)
        metrics = run.metrics_df()
        self._assert_local(metrics)
        assert metrics.schema == T.StructType.fromDDL(
            "run_id string, bucket int, docs long, valid_docs long, "
            "violations long, wall_sec double, committed_at double")
        assert [tuple(r) for r in metrics.collect()] == [
            ("r1", 0, 5, 4, 1, 0.0, 0.0)]

        # the empty history index of the streaming dedup
        index = local_frame(spark, [],
                            "doc_id bigint, band int, bucket bigint")
        self._assert_local(index)
        assert index.count() == 0
        assert index.schema.simpleString() == \
            "struct<doc_id:bigint,band:int,bucket:bigint>"
