"""Streaming late-data feature maintenance: the Structured-Streaming front-end
to ``plans.incremental``.

``plans.incremental.incremental_update`` rebuilds touched conv-hash buckets
when NEW SNAPSHOTS are committed; this module does the same when NEW FILES
LAND, driven by a file-source stream:

* the stream's checkpointed source offsets make every file processed EXACTLY
  ONCE across restarts (the streaming analog of the snapshot-id watermark);
* each micro-batch finds the conv buckets its rows touch and rebuilds ONLY
  those buckets from full history, publishing with writer-pinned dynamic
  partition overwrite — idempotent, so a batch replayed after a crash
  converges to the same table;
* ``trigger(availableNow=True)`` turns the same query into a catch-up run.

At 100 TB each micro-batch costs |touched buckets| × bucket-size, not the
table — identical math to the batch path, with arrival-driven scheduling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..plans.incremental import DEFAULT_BUCKETS, _rebuild_buckets
from .session_stream import stream_transcripts


def stream_incremental_features(
    spark: SparkSession,
    input_dir: str,
    tool_dim: DataFrame,
    features_path: str,
    checkpoint_path: str,
    gap_seconds: int = 1800,
    n_buckets: int = DEFAULT_BUCKETS,
    available_now: bool = True,
):
    """Start (or catch up) the streaming bucket-rebuild maintenance query.

    Returns the StreamingQuery; callers ``awaitTermination()`` it.  A window
    feature of conversation X must be rebuilt whenever ANY turn of X arrives
    — so the batch's buckets are joined back to FULL history before the
    feature build, exactly like the batch incremental path.
    """

    def _rebuild(batch_df: DataFrame, batch_id: int) -> None:
        full = spark.read.parquet(input_dir)
        _rebuild_buckets(batch_df, full, tool_dim, features_path, gap_seconds, n_buckets)

    writer = (
        stream_transcripts(spark, input_dir)
        .writeStream.foreachBatch(_rebuild)
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
