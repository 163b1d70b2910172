"""Table loaders for the driver-provided TPC-H-ish parquet and the
synthetic interleaved-docs fixtures.

At cluster scale these would be Iceberg tables (``spark.read.table``) with
bucketed layouts on the join keys; the loaders keep the same logical
interface over plain parquet so the rest of the engine is
storage-agnostic.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

_FIXTURE_DIR = os.path.join(os.path.dirname(os.path.dirname(
    os.path.dirname(os.path.abspath(__file__)))), ".fixtures")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def fixture_dir(n_docs: int = 20_000, seed: int = 42) -> str:
    """Materialize (once) and return the synthetic docs fixture directory."""
    from valico_spark.sources.synth import write_fixture

    out = os.path.join(_FIXTURE_DIR, f"docs_{n_docs}_{seed}_v2")
    marker = os.path.join(out, "_SUCCESS")
    if not os.path.exists(marker):
        # media table ~5% of docs: realistic dimension ratio, and small
        # enough that the referential parent is genuinely broadcastable
        write_fixture(out, n_docs=n_docs,
                      n_media=max(1000, n_docs // 20), seed=seed)
        with open(marker, "w") as f:
            f.write("ok")
    empty = os.path.join(out, "docs_empty.parquet")
    if not os.path.exists(empty):
        # zero-row same-schema probe (bench planning-overhead measure) —
        # backfill for fixture dirs written before it existed
        import pyarrow.parquet as pq

        schema = pq.ParquetFile(
            os.path.join(out, "docs.parquet")).schema_arrow
        pq.write_table(schema.empty_table(), empty)
    return out


def load_docs(spark: SparkSession, n_docs: int = 20_000,
              seed: int = 42) -> DataFrame:
    d = fixture_dir(n_docs, seed)
    return spark.read.parquet(f"{d}/docs.parquet")


def load_media_assets(spark: SparkSession, n_docs: int = 20_000,
                      seed: int = 42) -> DataFrame:
    d = fixture_dir(n_docs, seed)
    return spark.read.parquet(f"{d}/media_assets.parquet")
