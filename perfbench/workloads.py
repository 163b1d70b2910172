"""The benchmark workloads.

Each workload drives the package's public API the way a user of it would.
A run calls ``prepare`` (load the input, compile the ruleset, plan) as
part of set-up, then ``job`` in a closed loop with one client, then
``reference`` to derive the expected outputs every job is checked
against. ``probe`` measures the per-layer extras of a traced run.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from valico_spark.compiler.columns import compile_ruleset
from valico_spark.compiler.pyvalidator import Scope
from valico_spark.compiler.variantcolumns import compile_json_ruleset
from valico_spark.operators import relational, spans
from valico_spark.operators.dedup import (
    collapse_exact, minhash_dedup, minhash_lsh_candidates,
)
from valico_spark.operators.graph import dedup_clusters
from valico_spark.operators.validate import (
    validate_dataframe, validate_json_column, violation_rows,
)
from valico_spark.plans import pipeline as P
from valico_spark.plans.audit import AuditRun
from valico_spark.rulesets import DOCS_RULESET

from perfbench import inputs
from perfbench.tracing import (
    executed_plan, expr_nodes, plan_calls, plan_nodes,
)

PROBE_REPS = 2
AUDIT_BUCKETS = 16
AUDIT_BATCH = 4
JACCARD = 0.8
MIN_QUALITY = 0.3

# hashes are reduced mod 2^31-1 before summing so a multiset hash over
# millions of rows stays inside int64 under ANSI arithmetic
_M31 = 2147483647


def multiset_hash(*cols) -> "F.Column":
    return F.sum(F.pmod(F.xxhash64(*cols), F.lit(_M31)))


def _count() -> "F.Column":
    return F.count(F.lit(1))


def _verdict_aggs() -> dict:
    return {"docs": _count(),
            "valid_docs": F.sum(F.col("valid").cast("long")),
            "violations": F.sum(F.size("violations"))}


def _row_aggs() -> dict:
    return {"violation_rows": _count(),
            "row_hash": multiset_hash("code", "path")}


def sink(tracer, name: str, df: DataFrame, **aggs) -> dict:
    """Run ``df`` into the noop sink under span ``name``; ``aggs`` are
    observed on the rows as they pass, so the check reads the very rows
    the sink consumed."""
    obs = Observation()
    with tracer.span(name, spark_job=True):
        (df.observe(obs, *[c.alias(k) for k, c in aggs.items()])
           .write.format("noop").mode("overwrite").save())
    return {k: (0 if v is None else v) for k, v in obs.get.items()}


def collect_aggs(df: DataFrame, **aggs) -> dict:
    row = df.agg(*[c.alias(k) for k, c in aggs.items()]).first()
    return {k: (0 if row[k] is None else row[k]) for k in aggs}


# -- the correctness sample --------------------------------------------------

def walker_verdicts(docs: list, ruleset) -> tuple[dict, float]:
    """Validate JSON strings with the reference-parity walker; returns
    ({row: (valid, sorted (code, path))}, documents per second)."""
    scope = Scope()
    sid = scope.compile(ruleset)
    out = {}
    t0 = time.perf_counter()
    for row, doc in enumerate(docs):
        state = scope.validate(sid, None if doc is None else json.loads(doc))
        out[row] = (state.is_valid(),
                    sorted((e.code, e.path) for e in state.errors))
    return out, len(docs) / max(time.perf_counter() - t0, 1e-9)


def _lane_verdicts(df: DataFrame) -> dict:
    cp = F.transform("violations", lambda v: F.struct(v["code"], v["path"]))
    return {r["row"]: (r["valid"], sorted(tuple(x) for x in r["cp"]))
            for r in df.select("row", "valid", cp.alias("cp")).collect()}


def sample_agreement(lane: str, validated: DataFrame, meta: dict,
                     ruleset) -> tuple[list[str], float]:
    """The ``lane`` and the walker must give every sample document the same
    verdict and the same (code, path) multiset. Each read workload checks
    its own lane, so together they tie both lanes to the walker."""
    got = _lane_verdicts(validated)
    docs = pq.read_table(os.path.join(meta["dir"], "sample_json.parquet"))
    walker, rate = walker_verdicts(docs["json"].to_pylist(), ruleset)
    bad = [r for r in walker if walker[r] != got.get(r)]
    problems = []
    if bad:
        r = bad[0]
        problems.append(
            f"sample: {len(bad)} of {len(walker)} docs disagree with the "
            f"walker; row {r}: walker {walker[r]} {lane} {got.get(r)}")
    return problems, rate


# -- workloads ---------------------------------------------------------------

class Workload:
    name = ""
    # JIT compilation keeps speeding jobs up well past the first one; these
    # untimed jobs keep that trend out of the median. A count, not a time:
    # on a slower host a timed window would end earlier on the trend
    warmup_jobs = 5
    # outcome keys that must repeat exactly from job to job
    repeat: tuple[str, ...] = ()

    def __init__(self, spark, meta: dict, work_dir: str):
        self.spark = spark
        self.meta = meta
        self.work_dir = work_dir
        self.out_dir = os.path.join(work_dir, "out")
        self.expected: dict = {}
        self.walker_rate = 0.0
        self.probe_problems: list[str] = []
        self._first: dict | None = None

    @property
    def n_docs(self) -> int:
        return self.meta["docs"]

    def path(self, *parts: str) -> str:
        return os.path.join(self.meta["dir"], *parts)

    def prepare(self) -> None:
        raise NotImplementedError

    def job(self, tracer, i: int) -> dict:
        raise NotImplementedError

    def cleanup(self) -> None:
        shutil.rmtree(self.out_dir, ignore_errors=True)

    def reference(self) -> list[str]:
        """Set ``expected``; return problems found while deriving it."""
        raise NotImplementedError

    def check(self, out: dict) -> list[str]:
        problems = [f"{k}={out.get(k)} expected {v}"
                    for k, v in self.expected.items() if out.get(k) != v]
        if self._first is None:
            self._first = out
        problems += [f"{k}={out.get(k)} differs from the first job's "
                     f"{self._first.get(k)}"
                     for k in self.repeat if out.get(k) != self._first.get(k)]
        return problems

    # -- traced-run extras
    scan_input = "docs"

    def planned(self) -> DataFrame:
        """The frame whose planning ``catalyst.plan`` times."""
        return self.validated

    def layer_counts(self, out: dict) -> dict:
        """Per-layer counts read from one job's outcome."""
        return {}

    def probe_layers(self, tracer) -> dict:
        return {}

    def probe(self, tracer) -> dict:
        counts: dict = {}
        for r in range(PROBE_REPS):
            with tracer.group(f"probe{r}"):
                with tracer.span("scan", spark_job=True):
                    (self.spark.read.parquet(self.path(self.scan_input))
                        .write.format("noop").mode("overwrite").save())
                with tracer.span("catalyst.plan"):
                    plan = executed_plan(self.planned())
                counts.update(self.probe_layers(tracer))
        counts["catalyst.plan_nodes"] = plan_nodes(plan)
        return counts

    def _columns_compile(self, tracer, df: DataFrame, ruleset) -> dict:
        with tracer.span("compiler.columns.compile"):
            col = compile_ruleset(ruleset, df.schema)
        return {"compiler.columns.expr_nodes": expr_nodes(df, col)}


def _verdict_layer_counts(out: dict) -> dict:
    return {"operators.validate.invalid_docs":
            out["docs"] - out["valid_docs"],
            "operators.validate.violations": out["violations"]}


class TypedRead(Workload):
    """Interleaved docs on the typed-columns lane; every output goes to the
    noop sink."""

    name = "typed_read"
    # five plans per job against json_read's two: more planning and
    # scheduling code to get hot
    warmup_jobs = 6
    repeat = ("valid_docs", "violations", "row_hash", "sig_hash")
    _audits = 0

    def prepare(self) -> None:
        read = self.spark.read.parquet
        self.docs = read(self.path("docs"))
        media = read(self.path("media_assets.parquet"))
        self.validated = validate_dataframe(self.docs, DOCS_RULESET,
                                            mode="columns")
        self.rows = violation_rows(self.validated, ["doc_id"])
        self.checked = spans.add_span_checks(self.docs)
        self.dups = relational.duplicate_keys(self.docs, ["doc_id"])
        refs = self.docs.select(
            "doc_id", F.explode("spans.media_ref").alias("media_ref"))
        self.orphans = relational.orphans(refs, "media_ref", media,
                                          "media_ref")
        executed_plan(self.validated)

    def job(self, tracer, i: int) -> dict:
        out = sink(tracer, "operators.validate.verdicts", self.validated,
                   **_verdict_aggs())
        out |= sink(tracer, "operators.validate.violation_rows", self.rows,
                    **_row_aggs())
        out |= sink(tracer, "operators.spans.checks", self.checked,
                    unordered_docs=F.sum(
                        (~F.col("spans_ordered")).cast("long")),
                    sig_hash=F.sum(F.pmod("span_sig", F.lit(_M31))))
        out |= sink(tracer, "operators.relational.duplicate_keys", self.dups,
                    dup_keys=_count(), dup_rows=F.sum("dup_count"))
        out |= sink(tracer, "operators.relational.orphans", self.orphans,
                    orphans=_count())
        return out

    def reference(self) -> list[str]:
        self.expected = {"docs": self.n_docs, **self.meta["refs"]}
        typed = validate_dataframe(self.spark.read.parquet(
            self.path("sample.parquet")), DOCS_RULESET, mode="columns")
        problems, self.walker_rate = sample_agreement(
            "typed", typed, self.meta, DOCS_RULESET)
        return problems

    def check(self, out: dict) -> list[str]:
        problems = super().check(out)
        if out["violation_rows"] != out["violations"]:
            problems.append(f"{out['violation_rows']} violation rows for "
                            f"{out['violations']} violations")
        return problems

    def layer_counts(self, out: dict) -> dict:
        return _verdict_layer_counts(out)

    def probe_layers(self, tracer) -> dict:
        return (self._columns_compile(tracer, self.docs, DOCS_RULESET)
                | self._audit(tracer))

    def _audit(self, tracer) -> dict:
        """The ``cli.py`` audit path over the same docs: bucketed validated
        parquet and manifests (one ``compile_ruleset`` per bucket batch),
        then the violations read back. Its totals must match the jobs'."""
        self._audits += 1
        run_id = f"audit{self._audits}"
        run = AuditRun(self.spark, self.out_dir, run_id,
                       n_buckets=AUDIT_BUCKETS)
        with tracer.span("plans.audit.run", spark_job=True):
            processed = run.run(
                self.docs, "doc_id",
                lambda df: validate_dataframe(df, DOCS_RULESET),
                batch_size=AUDIT_BATCH)
        with tracer.span("plans.audit.readback", spark_job=True):
            back = collect_aggs(run.violations(), **_row_aggs())
        manifest = run.metrics()
        got = {"docs": sum(m["docs"] for m in manifest),
               "valid_docs": sum(m["valid_docs"] for m in manifest),
               "violations": sum(m["violations"] for m in manifest), **back}
        self.probe_problems += [
            f"audit {k}={v} but the jobs saw {self._first[k]}"
            for k, v in got.items() if v != self._first[k]]
        run_dir = os.path.join(self.out_dir, run_id)
        counts = {"plans.audit.batches": -(-len(processed) // AUDIT_BATCH),
                  "plans.audit.bytes_written": inputs.dir_bytes(run_dir),
                  "plans.audit.files_written": inputs.dir_files(run_dir)}
        self.cleanup()
        return counts


class JsonRead(Workload):
    """The same documents serialized to JSON strings, validated on the
    VARIANT lane of ``validate_json_column``."""

    name = "json_read"
    scan_input = "prefix_json"
    curate: "CuratePath | None" = None

    @property
    def n_docs(self) -> int:
        return self.meta["prefix_docs"]

    def prepare(self) -> None:
        self.jdocs = self.spark.read.parquet(self.path("prefix_json"))
        self.validated = validate_json_column(self.jdocs, "json",
                                              DOCS_RULESET)
        self.rows = violation_rows(self.validated, ["doc_id"])
        executed_plan(self.validated)

    def job(self, tracer, i: int) -> dict:
        out = sink(tracer, "compiler.variantcolumns.validate",
                   self.validated, **_verdict_aggs())
        out |= sink(tracer, "operators.validate.violation_rows", self.rows,
                    **_row_aggs())
        return out

    def reference(self) -> list[str]:
        # the typed lane on the very same documents
        typed = validate_dataframe(self.spark.read.parquet(
            self.path("prefix")), DOCS_RULESET, mode="columns")
        self.expected = (collect_aggs(typed, **_verdict_aggs())
                         | collect_aggs(violation_rows(typed, ["doc_id"]),
                                        **_row_aggs()))
        variant = validate_json_column(self.spark.read.parquet(
            self.path("sample_json.parquet")), "json", DOCS_RULESET,
            mode="variant")
        problems, self.walker_rate = sample_agreement(
            "variant", variant, self.meta, DOCS_RULESET)
        return problems

    def layer_counts(self, out: dict) -> dict:
        return _verdict_layer_counts(out)

    def probe_layers(self, tracer) -> dict:
        with tracer.span("compiler.variantcolumns.compile"):
            compile_json_ruleset(DOCS_RULESET, F.col("json"),
                                 residual_marker=True)
        plan = executed_plan(self.validated)
        if self.curate is None:
            self.curate = CuratePath(self.spark, self.meta["text"],
                                     self.work_dir)
            self.curate.prepare()
            self.curate.reference()
        counts = self.curate.probe_layers(tracer)
        self.probe_problems += self.curate.probe_problems
        self.curate.probe_problems = []
        return counts | {
            "compiler.variantcolumns.parse_json_per_row":
                plan_calls(plan, r"\.parseJson\("),
            "compiler.variantcolumns.schema_of_variant_per_row":
                plan_calls(plan, r"\.schemaOfVariant\(")}


class CuratePath(Workload):
    """The ``cli.py --curate`` path: invalid, low_quality, wrong_lang and
    near_dup stages; tagged and curated parquet plus the attrition report.
    It is not a workload of its own (see README): ``json_read``'s traced
    run probes it."""

    repeat = ("kept", "near_dup")

    def prepare(self) -> None:
        self.docs = self.spark.read.parquet(self.path("docs"))
        self.row_stages = [
            P.invalid_stage(inputs.CURATE_RULESET, self.docs.schema),
            P.low_quality_stage(MIN_QUALITY),
            P.wrong_lang_stage(["en"]),
        ]
        self.stages = self.row_stages + [
            P.near_dup_stage(jaccard_threshold=JACCARD)]

    def job(self, tracer, i: int) -> dict:
        out = os.path.join(self.out_dir, f"job{i}")
        with tracer.span("plans.pipeline.build", spark_job=True):
            _, tagged, _ = P.curate(self.docs, self.stages)
        with tracer.span("plans.pipeline.tagged_write", spark_job=True):
            tagged.write.mode("overwrite").parquet(
                os.path.join(out, "tagged"))
        written = self.spark.read.parquet(os.path.join(out, "tagged"))
        with tracer.span("plans.pipeline.curated_write", spark_job=True):
            (written.where(F.col("drop_reason").isNull())
                    .drop("drop_reason")
                    .write.mode("overwrite")
                    .parquet(os.path.join(out, "curated")))
        with tracer.span("plans.pipeline.report", spark_job=True):
            counts = {r["stage"]: r["n"] for r in written.groupBy(
                F.coalesce("drop_reason", F.lit("kept")).alias("stage"))
                .agg(_count().alias("n")).collect()}
            report = {"input_rows": sum(counts.values()),
                      "kept_rows": counts.get("kept", 0),
                      "stages": [s.name for s in self.stages],
                      "dropped": {s.name: counts.get(s.name, 0)
                                  for s in self.stages}}
            with open(os.path.join(out, "report.json"), "w") as f:
                json.dump(report, f, indent=2)
        return {"input_rows": report["input_rows"],
                "kept": report["kept_rows"], **report["dropped"],
                "out_bytes": inputs.dir_bytes(out),
                "out_files": inputs.dir_files(out)}

    def reference(self) -> list[str]:
        e = self.meta["expected"]
        self.expected = {"input_rows": self.n_docs,
                         "invalid": e["invalid"],
                         "low_quality": e["low_quality"],
                         "wrong_lang": e["wrong_lang"]}
        return []

    def check(self, out: dict) -> list[str]:
        problems = super().check(out)
        e = self.meta["expected"]
        if not e["near_dup_min"] <= out.get("near_dup", -1) \
                <= e["near_dup_max"]:
            problems.append(f"near_dup={out.get('near_dup')} outside the "
                            f"planted [{e['near_dup_min']}, "
                            f"{e['near_dup_max']}]")
        return problems

    def planned(self) -> DataFrame:
        return P.curate(self.docs, self.row_stages)[1]

    def probe_layers(self, tracer) -> dict:
        """One pipeline job, checked like a job, then its row stages,
        dedup and graph steps on their own."""
        out = self.job(tracer, 0)
        self.probe_problems += [f"curate: {p}" for p in self.check(out)]
        self.cleanup()
        with tracer.span("operators.text.row_stages", spark_job=True):
            self.planned().write.format("noop").mode("overwrite").save()
        # the frame the near-dup stage receives inside curate()
        survivors = (self.planned().where(F.col("drop_reason").isNull())
                     .drop("drop_reason"))
        with tracer.span("operators.dedup.candidates", spark_job=True):
            reps, dup_edges = collapse_exact(survivors)
            candidates = minhash_lsh_candidates(reps).count()
            exact_edges = dup_edges.count()
        pairs = minhash_dedup(survivors, jaccard_threshold=JACCARD,
                              precollapse_exact=True)
        n_pairs = sink(tracer, "operators.dedup.minhash", pairs,
                       n=_count())["n"]
        with tracer.span("operators.graph.clusters", spark_job=True):
            largest = collect_aggs(dedup_clusters(pairs),
                                   m=F.max("cluster_size"))["m"]
        verified = n_pairs - exact_edges
        return {
            "out_bytes_per_doc": out["out_bytes"] / self.n_docs,
            "operators.dedup.candidate_pairs": candidates,
            "operators.dedup.verified_pairs": verified,
            "operators.dedup.pair_yield": verified / max(candidates, 1),
            "operators.graph.largest_cluster": largest,
        }


WORKLOADS = {w.name: w for w in (TypedRead, JsonRead)}
