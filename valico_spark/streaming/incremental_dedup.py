"""Streaming near-dup dedup against a GROWING on-disk MinHash index.

The streaming lift of :func:`~valico_spark.operators.dedup.
minhash_incremental`: each micro-batch bands only its own documents,
joins the persisted band index for batch-vs-history candidates, emits
the candidate pairs, and appends its own band rows so the NEXT batch
sees this one as history. The durable state is the index table itself —
not the state store — so the pipeline is resumable, shareable across
jobs, and unbounded-corpus-safe (the state grows with DISTINCT content,
on disk, never in executor memory).

Exactly-once posture: both sinks are written to ``ingest_batch=<id>``
subdirectories with ``mode("overwrite")`` — a replayed micro-batch
(foreachBatch is at-least-once) overwrites its own partition instead of
duplicating it, and the index read EXCLUDES the current batch id so a
half-written previous attempt can never make a batch match itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_minhash_dedup(stream_df: DataFrame, index_dir: str,
                         pairs_dir: str, checkpoint_dir: str,
                         num_hashes: int = 32, bands: int = 8,
                         n: int = 5, seed: int = 17,
                         id_col: str = "doc_id",
                         text_col: str = "text",
                         portable: bool = False,
                         max_bucket_size: int | None = 10_000,
                         query_name: str | None = None,
                         available_now: bool = True):
    """Start the streaming dedup query; returns the StreamingQuery.

    * ``index_dir``: the persisted band index — ``(doc_id, band,
      bucket)`` under ``ingest_batch=K`` partitions. Bootstrap is
      implicit (first batch finds no index and only self-joins).
    * ``pairs_dir``: candidate output — ``(a_id, b_id, vs)`` per batch,
      historical id in ``a_id`` for ``vs='history'``. Verify downstream
      with :func:`~valico_spark.operators.dedup.
      verify_jaccard_candidates` over the batch plus the
      candidate-touched slice of the document store.
    * the MinHash parameters are part of the index's identity and must
      match across every writer of ``index_dir``.
    """
    from pyspark.errors import AnalysisException

    from valico_spark.operators.dedup import minhash_incremental
    from valico_spark.operators.util import local_frame

    id_type = stream_df.schema[id_col].dataType.simpleString()

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        try:
            index = (spark.read.parquet(index_dir)
                          .where(F.col("ingest_batch") != batch_id)
                          .select(id_col, "band", "bucket"))
        except AnalysisException:
            index = local_frame(
                spark, [], f"{id_col} {id_type}, band int, bucket bigint")
        cand, inc = minhash_incremental(
            batch_df, index, num_hashes, bands, n, seed, id_col,
            text_col, portable, max_bucket_size)
        cand.write.mode("overwrite").parquet(
            f"{pairs_dir}/ingest_batch={batch_id}")
        # index append AFTER the pairs: a crash in between replays the
        # batch with the index still excluding it (the overwrite above
        # makes the re-emit idempotent)
        inc.write.mode("overwrite").parquet(
            f"{index_dir}/ingest_batch={batch_id}")

    writer = (stream_df.writeStream.foreachBatch(_batch)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    if query_name:
        writer = writer.queryName(query_name)
    return writer.start()
