"""Small shared operator utilities."""

from __future__ import annotations

import sys
import zipimport

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def drop_zip_importers() -> None:
    """Remove every ``zipimport.zipimporter`` from
    ``sys.path_importer_cache``; every Python function this package ships
    to Spark calls it first.

    A reused PySpark worker runs ``worker_util.setup_spark_files`` before
    each task, which ends in ``importlib.invalidate_caches()``. Before
    Python 3.13 (which made ``zipimporter.invalidate_caches`` lazy: it
    only drops the cached directory, read again on the next lookup),
    that call re-reads the archive's whole central directory once per
    cached zip importer: ``pyspark.zip`` itself, one per imported
    sub-package (``.../pyspark/sql``, ``.../sql/pandas``, ...) and the
    py4j zip, ~15 reads of a 1300-entry archive, ~0.3 s per task with
    four tasks at once. With the importers gone the next task's
    invalidation has nothing to re-read.

    Imported modules stay in ``sys.modules``; a later import of a new
    submodule rebuilds its importer from ``zipimport._zip_directory_cache``
    without reading the archive, which is immutable for the worker's
    lifetime; paths added later by ``addPyFile`` still get fresh finders.
    """
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del cache[path]


def local_frame(spark: SparkSession, rows: list,
                schema: T.StructType | str) -> DataFrame:
    """A small driver-side result as a DataFrame: ``rows`` are dicts or
    tuples in field order, ``schema`` a StructType or a DDL string. The
    frame is built from a pyarrow Table, so it plans as a
    ``LocalTableScan``; one built from a Python list re-runs a
    row-unpickling Python stage on every action (0.4 s against 0.02 s on
    ``local[4]``)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.DataType.fromDDL(schema)
    rows = [r if isinstance(r, dict) else dict(zip(schema.names, r))
            for r in rows]
    table = pa.Table.from_pylist(rows, schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema)


def cap_group_size(df: DataFrame, keys: list[str], max_size: int,
                   op_name: str, hint: str) -> DataFrame:
    """Plan-assert that no group keyed on ``keys`` holds more than
    ``max_size`` rows — the mega-bucket safety rail for banded/blocked
    pair joins. On a web corpus the dominant near-dup class is EXACT
    duplicates at 10^3-10^6 copies; those share every band bucket, so one
    hot bucket would yield O(c^2) candidate pairs and kill the job at
    100x even though the design is otherwise bucketed. This guard makes
    that failure LOUD at the bucket stage instead of silent at the join.

    Cost shape: a window count partitioned on ``keys`` — evaluated under
    the SAME hash partitioning the downstream self-join shuffles on, so
    it adds no extra corpus-wide exchange (unlike a groupBy + join-back,
    whose |groups| relation can itself be corpus-sized for band keys).
    The ``assert_true`` filter is non-prunable by Catalyst; rows pass
    through unchanged, so exact oracles are unaffected until the cap
    actually fires.
    """
    w = Window.partitionBy(*keys)
    n = F.count(F.lit(1)).over(w)
    msg = F.concat(
        F.lit(f"{op_name}: group ("),
        *sum([[F.col(k).cast("string"), F.lit(",")] for k in keys], []),
        F.lit(f") exceeds max_group_size={max_size} with "),
        F.col("__grp_n").cast("string"), F.lit(" rows — " + hint))
    return (df.withColumn("__grp_n", n)
              .where(F.assert_true(F.col("__grp_n") <= F.lit(max_size),
                                   msg).isNull())
              .drop("__grp_n"))


def ensure_min_partitions(df: DataFrame, factor: int = 1) -> DataFrame:
    """Round-robin repartition when the input has (much) fewer partitions
    than the cluster has slots.

    At warehouse scale the scan naturally yields thousands of splits and
    this is a no-op; on small local files a single split would serialize
    every downstream map stage (signatures, per-pair set algebra) onto one
    core. The repartition shuffles only the small input, never derived
    pair tables.
    """
    target = df.sparkSession.sparkContext.defaultParallelism * factor
    if df.rdd.getNumPartitions() < max(2, target // 2):
        return df.repartition(target)
    return df
