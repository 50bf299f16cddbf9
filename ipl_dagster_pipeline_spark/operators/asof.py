"""Point-in-time-correct AS-OF join (SURVEY §2.4 J5, §7 step 4).

Spark SQL has no ASOF join, so the engine provides three strategies:

* ``asof_join_union_fill`` — union-tag the dim snapshots into the fact stream
  and forward-fill with ``last(ignorenulls)`` over a (ts, src, turn_idx)
  window.  Pure DataFrame ops: one shuffle, codegen'd, skew handled by the
  same machinery as any window (AQE).  Default/scale path.
* ``asof_join_cogrouped`` — ``cogroup(...).applyInArrow``: sort-merge as-of
  per key group on Arrow tables, a numpy ``searchsorted`` over the sorted dim
  timestamps (no pandas).  The explicit "range-partitioned sort for the big
  side" formulation from the north rule.
* ``asof_snapshot_broadcast`` — when features are built AS OF one fixed
  timestamp, reduce the dim to its latest snapshot ≤ as_of per key and
  broadcast equi-join (the analog of the reference joining the once-fetched
  vehicle_types dim, lamassu.py:141,162,224).

All paths guarantee **zero temporal leakage**: every matched dim row has
``effective_from <= ts``; the matched ``effective_from`` is kept in the output
so tests can assert it (tests/test_asof.py).  A fact with a NULL ``ts``
matches no snapshot on any path.

Generalizes the reference's only as-of semantics: latest image whose mtime ≤
now within a bounded lookback (webcam_worker.py:154-207).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dim_value_cols(dim: DataFrame, key: str, dim_ts: str) -> list[str]:
    return [c for c in dim.columns if c not in (key, dim_ts)]


def asof_join_union_fill(
    facts: DataFrame,
    dim: DataFrame,
    key: str,
    ts_col: str = "ts",
    dim_ts: str = "effective_from",
) -> DataFrame:
    """Backward as-of join via union + forward-fill.

    At equal timestamps the dim row sorts FIRST (src 0 < 1), so a snapshot
    effective exactly at ``ts`` is visible to that turn (allow_exact_matches).

    The matched snapshot is forward-filled ATOMICALLY: all dim value columns
    plus the snapshot timestamp travel in ONE struct filled with a single
    ``last(ignorenulls)`` — filling each value column independently would let
    an older snapshot's non-null value bleed through a newer snapshot's NULL,
    diverging from row-wise as-of semantics (pd.merge_asof / ASOF JOIN).
    One window expression instead of len(vals)+1 is also the cheaper plan.
    """
    from pyspark.sql import types as T

    vals = _dim_value_cols(dim, key, dim_ts)
    collisions = sorted(set(vals) & set(facts.columns))
    if collisions:
        raise ValueError(
            f"fact/dim value-column name collision {collisions}: rename the "
            "dim value columns before the as-of join"
        )
    snap_type = T.StructType(
        [T.StructField(c, dim.schema[c].dataType, True) for c in vals]
        + [T.StructField("__dts", T.TimestampType(), True)]
    )
    f = facts.withColumn("__src", F.lit(1)).withColumn("__snap", F.lit(None).cast(snap_type))
    d = dim.select(
        F.col(key),
        F.col(dim_ts).alias(ts_col),
        F.lit(0).alias("__src"),
        F.struct(*[F.col(c) for c in vals], F.col(dim_ts).alias("__dts")).alias("__snap"),
    )
    for c in facts.columns:
        if c not in (key, ts_col):
            d = d.withColumn(c, F.lit(None).cast(facts.schema[c].dataType))
    u = f.select(*f.columns).unionByName(d.select(*f.columns))

    w = (
        Window.partitionBy(key)
        .orderBy(ts_col, "__src", F.col("turn_idx").asc_nulls_first() if "turn_idx" in f.columns else F.lit(0))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    u = u.withColumn("__fill", F.last("__snap", ignorenulls=True).over(w))
    return (
        u.filter(F.col("__src") == 1)
        .select(
            *facts.columns,
            *[F.col(f"__fill.{c}").alias(c) for c in vals],
            F.col("__fill.__dts").alias("matched_effective_from"),
        )
    )


def asof_join_cogrouped(
    facts: DataFrame,
    dim: DataFrame,
    key: str,
    ts_col: str = "ts",
    dim_ts: str = "effective_from",
) -> DataFrame:
    """Sort-merge as-of per key group via cogrouped-map Arrow.

    Both sides are hash-cogrouped on ``key`` and arrive as Arrow tables.  The
    facts are sorted on (ts, turn_idx), NULLs first; the dim is stable-sorted
    on ``dim_ts`` and ``searchsorted(side="right") - 1`` picks each fact's
    backward match, exact matches allowed and ties resolved to the last equal
    snapshot (``pd.merge_asof`` semantics).  A fact with a NULL ``ts``, or
    with no snapshot at or before it, gets NULL dim columns, as on the
    union-fill and interval-broadcast paths; a dim row with a NULL
    ``dim_ts`` is never effective.
    """
    from pyspark.sql import types as T

    vals = _dim_value_cols(dim, key, dim_ts)
    # NB: StructType.add mutates in place — build a fresh StructType, never
    # extend df.schema (it's the DataFrame's cached schema object).
    out_schema = T.StructType(
        list(facts.schema.fields)
        + [T.StructField(c, dim.schema[c].dataType, True) for c in vals]
        + [T.StructField("matched_effective_from", T.TimestampType(), True)]
    )
    fact_cols = list(facts.columns)
    order = [(ts_col, "ascending")] + ([("turn_idx", "ascending")] if "turn_idx" in fact_cols else [])

    def _merge(left: pa.Table, right: pa.Table) -> pa.Table:
        # an empty side arrives as a zero-row table with its full schema, so
        # it needs no branch: a fact without a match takes a NULL index
        left = left.take(pc.sort_indices(left, sort_keys=order, null_placement="at_start"))
        right = right.filter(right.column(dim_ts).is_valid())
        right = right.take(pc.sort_indices(right, sort_keys=[(dim_ts, "ascending")]))
        ts = left.column(ts_col)
        idx = np.searchsorted(
            right.column(dim_ts).cast(pa.int64()).to_numpy(),
            pc.fill_null(ts.cast(pa.int64()), 0).to_numpy(),
            side="right",
        ) - 1
        miss = (idx < 0) | ~ts.is_valid().to_numpy(zero_copy_only=False)
        picked = right.select(vals + [dim_ts]).take(pa.array(idx, mask=miss))
        return pa.Table.from_arrays(
            left.select(fact_cols).columns + picked.columns,
            names=fact_cols + vals + ["matched_effective_from"],
        )

    return (
        facts.groupBy(key)
        .cogroup(dim.groupBy(key))
        .applyInArrow(_merge, schema=out_schema)
    )


def asof_join_broadcast_range(
    facts: DataFrame,
    dim: DataFrame,
    key: str,
    ts_col: str = "ts",
    dim_ts: str = "effective_from",
) -> DataFrame:
    """As-of join for LOW-CARDINALITY keys via interval broadcast.

    Window-partitioning by a 5-distinct-value key would serialize the whole
    table into 5 tasks; instead the (small) dim is rewritten into half-open
    validity intervals [effective_from, next effective_from) with a window on
    the DIM only, broadcast, and hash-joined on the key with the interval as
    the join residual.  O(1) fan-out per fact row, zero skew, fully parallel.
    """
    w = Window.partitionBy(key).orderBy(dim_ts)
    d = dim.withColumn("__until", F.lead(dim_ts).over(w)).withColumnRenamed(
        dim_ts, "matched_effective_from"
    )
    cond = (
        (facts[key] == d[key])
        & (facts[ts_col] >= d["matched_effective_from"])
        & (d["__until"].isNull() | (facts[ts_col] < d["__until"]))
    )
    return facts.join(F.broadcast(d), cond, "left").drop(d[key]).drop("__until")


def asof_snapshot_broadcast(
    facts: DataFrame,
    dim: DataFrame,
    key: str,
    as_of,
    dim_ts: str = "effective_from",
) -> DataFrame:
    """Pin the dim to its latest snapshot ≤ ``as_of`` per key, then broadcast
    equi-join.  Use when all features are built as of a single timestamp.

    PIT guard: snapshots after ``as_of`` are filtered BEFORE the argmax, so a
    future snapshot can never leak (SURVEY P5 generalization).
    """
    w = Window.partitionBy(key).orderBy(F.col(dim_ts).desc())
    pinned = (
        dim.filter(F.col(dim_ts) <= F.lit(as_of).cast("timestamp"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .withColumnRenamed(dim_ts, "matched_effective_from")
    )
    return facts.join(F.broadcast(pinned), on=key, how="left")
