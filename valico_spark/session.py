"""SparkSession factory tuned for the validation engine.

Designed for a multi-executor cluster (the settings below are the ones that
matter at 100 TB: AQE + skew-join handling, sane shuffle parallelism,
Arrow batching for the pandas-UDF fallback stages). Tests/bench run the
same configs on ``local[N]``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for local[32]/128GiB sandbox; on a real cluster these are
# overridden via spark-submit --conf (shuffle.partitions ~ 2-3x total cores,
# maxPartitionBytes sized so a scan task's batch fits executor memory).
_DEFAULT_CONFS = {
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.files.maxPartitionBytes": "134217728",
    # InferFiltersFromGenerate adds `size(e)>0 AND isnotnull(e)` above
    # every explode; predicate pushdown then substitutes the FULL array
    # expression into a scan-level Filter — for the shingle/paragraph
    # pipelines that inlines a transform() into a filter lambda, which
    # interpreted HOF evaluation re-runs per element (measured 20x on
    # the decontamination gram explode at sf1.0: 41 s -> 2 s). The
    # inferred filter only saves work when empty arrays are common and
    # cheap to test — our explode sources pre-filter emptiness on cheap
    # source-side predicates already, so the rule is pure downside here.
    "spark.sql.optimizer.excludedRules":
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    "spark.driver.memory": "8g",
    "spark.ui.enabled": "false",
    # progress bars and launcher chatter must never touch stdout: the
    # bench/driver contract parses stdout's last line as JSON
    "spark.ui.showConsoleProgress": "false",
    # availableNow drains with auto-provisioned temp checkpoints (the
    # streaming driver queries); delete them even when a query fails —
    # a 67-query bench x2 runs would otherwise accrete orphan dirs
    "spark.sql.streaming.forceDeleteTempCheckpointLocation": "true",
    # the rule compilers build thousands of Columns per ruleset; with
    # DataFrame debugging on, every Column call also records its Python
    # call site in the JVM (about ten extra py4j round trips each), which
    # more than doubles compile time
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def get_spark(
    app_name: str = "valico_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` falls back to ``$SPARK_GRAFT_MASTER`` then
    ``local[$SPARK_GRAFT_CPUS]`` (default ``local[*]``).
    """
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER")
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"

    builder = SparkSession.builder.appName(app_name).master(master)
    confs = dict(_DEFAULT_CONFS)
    if extra_conf:
        confs.update(extra_conf)
    for k, v in confs.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
