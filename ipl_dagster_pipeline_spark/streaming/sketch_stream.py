"""Streaming sketch maintenance: merge per-batch log-histogram sketches
into a committed SnapshotTable.

The point of a MERGEABLE sketch (sketches.py: UNION of inputs == merge of
sketches) is exactly this deployment: arriving data files are reduced to a
tiny per-batch register frame and MERGED into the durable sketch — the
monitoring quantiles stay fresh without ever rescanning history, and the
per-batch cost is |batch| + |current sketch| (the sketch side is O(buckets),
never data-sized).

Unlike the SCD1 stream (whose merge is naturally idempotent), a COUNT merge
replayed after a crash would double-count — and unlike the dedup index,
there is no content-level guard to fall back on.  Exactly-once is therefore
carried at the FILE level: each snapshot commit tags the input files it
merged (``meta={"files": [...]}``), each micro-batch merges only rows from
files the table's tags (``io.SnapshotTable.tags``) do not yet hold, and the
manifest rename is the one commit point for the sketch AND its file
record — a crash at any point either committed both or neither.  This is
robust to checkpoint loss in BOTH directions — a fresh checkpoint that
re-delivers all files in one batch neither double-counts (their files are
tagged) nor suppresses genuinely new files (they are not), which a raw
``b{batch_id}`` tag got wrong.  Reference precedent for skip-if-done keyed
on the artifact, not the attempt: the If-Modified-Since fetch discipline
(util/urllib.py:59-72).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..io import SnapshotTable
from ..operators.sketches import loghist_merge, loghist_sketch


def stream_sketch_maintenance(
    spark: SparkSession,
    input_dir: str,
    table_path: str,
    value_col: str,
    group_cols: list[str] | None,
    checkpoint_path: str,
    schema=None,
    available_now: bool = True,
    maintain_every: int = 20,
    keep_last: int = 3,
):
    """Start (or catch up) the streaming sketch-maintenance query.

    Returns the StreamingQuery; callers ``awaitTermination()`` it.  The
    maintained snapshot is always equal to ``loghist_sketch`` over every row
    processed so far (asserted in tests).  ``schema`` may be passed
    explicitly so the query can start on a fresh deployment before the
    first input file lands (round-5 ADVICE on the dedup stream).

    Housekeeping: every ``maintain_every`` commits old snapshots are
    expired (``keep_last`` retained) — a long-running stream stays
    O(keep_last) on disk instead of one full sketch copy per batch.  Expiry
    keeps the expired commits' file tags (the table's ``_tags.json``), so
    replay skipping survives it; that record grows with the input FILE
    count — the same growth rate as the stream's own checkpoint file log.
    """
    schema = schema or spark.read.parquet(input_dir).schema
    tbl = SnapshotTable(table_path)

    def _apply(batch_df, batch_id: int) -> None:
        if not batch_df.head(1):
            return
        files = {r[0] for r in batch_df.select(F.input_file_name()).distinct().collect()}
        new_files = sorted(files - set(tbl.tags("files")))
        if not new_files:  # crash replay / re-delivered lineage: no double count
            return
        fresh = (
            batch_df
            if len(new_files) == len(files)
            else batch_df.where(F.input_file_name().isin(new_files))
        )
        delta = loghist_sketch(fresh, value_col, group_cols)
        if tbl.current_snapshot_id() is not None:
            delta = loghist_merge(tbl.read(spark), delta)
        tbl.commit(delta, meta={"files": new_files})
        if maintain_every and len(tbl.snapshots()) >= maintain_every:
            tbl.expire_snapshots(keep_last=keep_last)

    writer = (
        spark.readStream.schema(schema)
        .parquet(input_dir)
        .writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
