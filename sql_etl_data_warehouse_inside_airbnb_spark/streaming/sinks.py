"""Streaming sinks beyond the memory/test harness.

The watermark contract (streaming/windows.py:with_watermark, pinned in
tests/test_streaming_watermark.py) means a window can be emitted more
than once — within-grace updates, and best-effort re-emissions of an
evicted window. An append-only sink would duplicate those rows, so the
engine's canonical warehouse sink is an UPSERT BY KEY: each micro-batch
MERGEs into the target through the same ``merge_upsert`` operator the
batch ETL uses (operators/merge.py, the J8 rewrite of
modules/data_loader.py:251-290 in the reference).

At scale the target is a table format with transactional MERGE
(Delta/Iceberg ``MERGE INTO``) and the per-batch merge is a metadata
commit. This parquet implementation keeps the identical algebra —
read target, anti-join ∪ source, then one ``sources/commit.py`` batch
that swaps the merged copy in — so the semantics are testable here
without those storage deps; replace that batch with ``MERGE INTO`` when
the catalog has one.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from sql_etl_data_warehouse_inside_airbnb_spark.operators.merge import (
    merge_upsert,
)
from sql_etl_data_warehouse_inside_airbnb_spark.sources import commit


def upsert_batch_to_parquet(batch_df: DataFrame, target_path: str,
                            key: str) -> None:
    """MERGE one (micro-)batch into a parquet target by ``key``.

    Source wins on key conflict — exactly the semantics a re-emitted
    or updated window needs. The merged target is staged and swapped in
    as one commit batch, so a reader never sees a half-written target
    (the local stand-in for a table-format transactional commit).

    Crash safety: the live target is set aside, never deleted, until the
    merged copy is in place, so a kill at any point leaves the merged
    history recoverable — the next invocation recovers the target first
    and the checkpointed foreachBatch retry re-merges the batch. (A
    delete-then-rename swap would make a retried first batch take the
    "first write" branch and silently drop all previously merged keys.)
    """
    spark = batch_df.sparkSession
    with commit.Batch(target_path) as batch:
        if os.path.isdir(target_path):
            target = spark.read.parquet(target_path)
            merged = merge_upsert(target, batch_df, key,
                                  count_actions=False).df
        else:
            merged = batch_df.dropDuplicates([key])
        # merged still reads the live target, which stays in place
        # until the commit
        merged.write.mode("overwrite").parquet(batch.stage())


def run_stream_upsert_parquet(stream_df: DataFrame, target_path: str,
                              key: str, checkpoint_dir: str,
                              timeout_sec: int = 180) -> None:
    """Drive a streaming aggregate to completion into an idempotent
    parquet upsert sink (update mode + foreachBatch).

    Update mode emits only keys whose aggregate changed in the
    trigger; the per-batch MERGE makes re-emission idempotent, so the
    final target equals the batch-mode aggregate regardless of how
    many micro-batches the stream was chopped into (asserted in
    tests/test_streaming_sinks.py).
    """
    q = (stream_df.writeStream
         .foreachBatch(lambda b, _id:
                       upsert_batch_to_parquet(b, target_path, key))
         .outputMode("update")
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    finished = q.awaitTermination(timeout_sec)
    if not finished:
        # a partially-merged target is strictly worse than no answer:
        # stop the query and fail loudly (the run_stream_to_memory
        # contract) instead of returning a directory the background
        # query is still mutating
        q.stop()
        raise TimeoutError(
            f"stream upsert did not finish within {timeout_sec}s; "
            f"target {target_path} is partial (checkpoint at "
            f"{checkpoint_dir} resumes it)")
