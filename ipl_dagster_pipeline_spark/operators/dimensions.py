"""Dimension maintenance: SCD2 validity-interval history + SCD1 merge-upsert.

The reference maintains dimensions by truncate-and-replace per run
(postgis_geopandas_io_manager.py:71-107) and relies on run cadence for
freshness; point-in-time correctness then has to be reconstructed from
snapshots.  At 10^12-turn scale the engine needs the two standard
warehouse-native forms instead:

* :func:`scd2_history` — turn a change-event log into type-2
  slowly-changing-dimension rows ``(key, attrs, valid_from, valid_to)`` with
  half-open validity intervals and consecutive no-op changes collapsed.
  This is the table the as-of joins (operators/asof.py) consume: a PIT
  lookup is then a plain range predicate instead of a nearest-event search.
* :func:`merge_upsert` — MERGE INTO semantics (SCD1): updates win over the
  target per key, unmatched updates insert, optional delete flag removes.
  Equivalent to Iceberg/Delta MERGE expressed as union + per-key latest.

Scale shape: both are one hash shuffle on the dimension key, window work is
per-key (dimension cardinality, not fact cardinality), and both are pure
DataFrame plans — no driver round-trip, no Python rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _null_safe_differs(a: Column, b: Column) -> Column:
    """SQL ``a IS DISTINCT FROM b`` (null-safe inequality)."""
    return ~a.eqNullSafe(b)


def scd2_history(
    changes: DataFrame,
    key_cols: list[str],
    ts_col: str,
    attr_cols: list[str],
    tie_cols: list[str] | None = None,
) -> DataFrame:
    """Type-2 history from a change log: one row per (key, ``version``) holding
    the attribute values and the half-open interval ``[valid_from,
    valid_to)`` they were current in; the latest version has ``valid_to``
    NULL (open).

    Consecutive events with identical attributes (null-safe compare) are
    collapsed — re-publishing an unchanged dimension row must not open a new
    version, or history grows with run cadence instead of with change rate.
    ``tie_cols`` break ``ts_col`` ties so versioning is deterministic when a
    key changes twice in one timestamp grain.

    The window partitions by the dimension KEY — per-key work is bounded by
    that key's change count (dimension-sized), never by fact volume.
    """
    from pyspark.sql import Window

    if not attr_cols:
        raise ValueError("attr_cols must be non-empty")
    ties = list(tie_cols or [])
    w = Window.partitionBy(*key_cols).orderBy(ts_col, *ties)
    changed = None
    for a in attr_cols:
        d = _null_safe_differs(F.col(a), F.lag(a).over(w))
        # first event per key: lag is null -> eqNullSafe(null) is only true
        # when the attr is ALSO null, so a first row with all-null attrs
        # needs the explicit first-row condition
        changed = d if changed is None else (changed | d)
    first_row = F.row_number().over(w) == 1
    versions = changes.withColumn("__new_version", first_row | changed).filter(
        F.col("__new_version")
    )
    wv = Window.partitionBy(*key_cols).orderBy(ts_col, *ties)
    return versions.select(
        *key_cols,
        *attr_cols,
        F.col(ts_col).alias("valid_from"),
        F.lead(ts_col).over(wv).alias("valid_to"),
        F.row_number().over(wv).cast("int").alias("version"),
    )


def merge_upsert(
    target: DataFrame,
    updates: DataFrame,
    key_cols: list[str],
    order_col: str | None = None,
    delete_col: str | None = None,
) -> DataFrame:
    """MERGE INTO semantics without a table format: the returned frame is
    the next snapshot — updates replace matching target rows, unmatched
    updates insert, and (with ``delete_col``) flagged updates delete.

    Precedence: the greatest ``order_col`` ACROSS target and updates wins
    (update beats target only on ties — the late-data rule: a change file
    replaying stale sequence numbers must NOT regress a key to an older
    value the target already holds).  Deterministic when ``order_col`` is
    unique per key within updates — pass one, e.g. an event ts or sequence
    number; NULL ``order_col`` sorts last (both engines: explicit
    nulls-last).  Without ``order_col``, updates always win (pure replace).
    Committed atomically by the caller via io.SnapshotTable — this
    operator is the plan, not the publish.

    One hash shuffle on the key; per-key window over (target row + that
    key's updates), bounded by update fan-in per key.
    """
    from pyspark.sql import Window

    t = target
    u = updates
    if delete_col is None:
        delete_flag = F.lit(False)
        u_cols = u.columns
    else:
        delete_flag = F.coalesce(F.col(delete_col), F.lit(False))
        u_cols = [c for c in u.columns if c != delete_col]
    if set(t.columns) != set(u_cols):
        raise ValueError(
            f"target/update schemas differ: {sorted(set(t.columns) ^ set(u_cols))}"
        )
    t2 = t.select(*t.columns).withColumn("__prio", F.lit(0)).withColumn("__del", F.lit(False))
    u2 = u.select(*u_cols, delete_flag.alias("__del")).withColumn("__prio", F.lit(1))
    both = t2.unionByName(u2)
    if order_col is not None:
        # order_col FIRST (target competes on equal footing), prio breaks ties
        order = [F.col(order_col).desc_nulls_last(), F.col("__prio").desc()]
    else:
        order = [F.col("__prio").desc()]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    return (
        both.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & ~F.col("__del"))
        .drop("__rn", "__prio", "__del")
    )
