"""Incremental / late-data feature maintenance (north rule: resumable,
idempotent re-runs; reference precedent: If-Modified-Since fetch,
util/urllib.py:59-72, and partition-delete-then-append publish,
postgis_geopandas_io_manager.py:224-262).

Model: the transcript table is an append-only `SnapshotTable`; the features
table is hash-BUCKET-partitioned on conv_id.  Bucket granularity makes
partition overwrite CORRECT for conversation-scoped rebuilds: a rebuilt
bucket is complete by construction (every conv hashes to exactly one bucket),
so dynamic partition overwrite replaces whole buckets and never clips
untouched conversations — unlike day partitions, which mix touched and
untouched conversations.

`incremental_update`:

1. reads only the NEW snapshots (snapshot-range scan — never the full table),
2. finds the touched buckets (a window feature of conv X must be rebuilt
   whenever ANY turn of X arrives, late ones included),
3. rebuilds features for every conversation in those buckets from full
   history (the touched bucket ids, collected once, filter the bucket
   column),
4. publishes with dynamic partition overwrite — re-running the same update is
   idempotent and readers never see a torn table.

At 100 TB this touches |touched buckets| × bucket-size rows, not the table;
pick n_buckets so a bucket ≈ a few GB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import SnapshotTable
from ..metrics import observation_result, observe_stage
from .features import build_turn_features

DEFAULT_BUCKETS = 64


def conv_bucket(col, n_buckets: int = DEFAULT_BUCKETS):
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")


def write_feature_buckets(feats: DataFrame, path: str, n_buckets: int = DEFAULT_BUCKETS) -> None:
    (
        feats.withColumn("conv_bucket", conv_bucket(F.col("conv_id"), n_buckets))
        .write.mode("overwrite")
        .partitionBy("conv_bucket")
        .parquet(path)
    )


def incremental_update(
    spark: SparkSession,
    transcripts_table: SnapshotTable,
    tool_dim: DataFrame,
    features_path: str,
    since_snapshot_id: int,
    gap_seconds: int = 1800,
    n_buckets: int = DEFAULT_BUCKETS,
) -> dict:
    """Rebuild features for every bucket touched after ``since_snapshot_id``.

    A window feature of conversation X must be rebuilt whenever ANY turn of
    X arrives, so the touched buckets are joined back to full history before
    the feature build.  The dynamic overwrite mode is pinned ON THE WRITER —
    relying on the session conf would silently become a FULL-table overwrite
    (destroying untouched buckets) under any session that left Spark's
    default static mode in place.

    Returns {'touched_buckets': n, 'rebuilt_rows': n, 'to_snapshot': id};
    ``rebuilt_rows`` is counted by the publishing write itself
    (``metrics.observe_stage``).
    """
    current = transcripts_table.current_snapshot_id()
    if current is None or current <= since_snapshot_id:
        return {"touched_buckets": 0, "rebuilt_rows": 0, "to_snapshot": since_snapshot_id}
    new_rows = transcripts_table.read_incremental(spark, since_snapshot_id)
    # at most n_buckets ids: collected once, they count the touched buckets
    # and prune full history as a literal filter
    buckets = new_rows.select(conv_bucket(F.col("conv_id"), n_buckets)).distinct()
    touched = [r[0] for r in buckets.collect()]
    affected = (
        transcripts_table.read(spark)
        .withColumn("conv_bucket", conv_bucket(F.col("conv_id"), n_buckets))
        .where(F.col("conv_bucket").isin(touched))
    )
    feats = build_turn_features(affected.drop("conv_bucket"), tool_dim, gap_seconds=gap_seconds)
    feats, obs = observe_stage(
        feats.withColumn("conv_bucket", conv_bucket(F.col("conv_id"), n_buckets)), "incremental"
    )
    (
        feats.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("conv_bucket")
        .parquet(features_path)
    )
    return {
        "touched_buckets": len(touched),
        "rebuilt_rows": observation_result(obs)["rows"],
        "to_snapshot": current,
    }
