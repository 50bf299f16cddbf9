"""Relational core: filters, projections, joins, unions, JSON normalize
(SURVEY §2.3/§2.4/§2.7).

Everything here is a thin, intention-revealing composition of built-in
DataFrame ops so Catalyst keeps pushdown/pruning/codegen.  Policy functions
(dedup-before-join, broadcast-small-dim) encode the reference's hand-coded
optimizations as engine invariants (SURVEY §4).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .windows import rank_dedup


def temporal_validity_filter(df: DataFrame, end_col: str, as_of) -> DataFrame:
    """Drop records already expired at ``as_of`` (P5; reference skips
    situations with endtime < current_time, cifs.py:143-147)."""
    return df.filter(F.col(end_col) >= F.lit(as_of).cast("timestamp"))


def broadcast_dim_join(
    fact: DataFrame,
    dim: DataFrame,
    on: list[str] | str,
    how: str = "inner",
    dedup_dim_order: list[Column] | None = None,
) -> DataFrame:
    """Broadcast hash join fact×small-dim (J1/J2) with the reference's
    dedup-before-join rule (lamassu.py:221) applied to the dim side when an
    ordering is given — prevents row explosion."""
    keys = [on] if isinstance(on, str) else list(on)
    if dedup_dim_order is not None:
        dim = rank_dedup(dim, keys, dedup_dim_order, keep="last")
    return fact.join(F.broadcast(dim), on=on, how=how)


def anti_join(df: DataFrame, exclude: DataFrame, on: list[str] | str) -> DataFrame:
    """Left-anti exclusion (J3; reference skips situationRecords referenced as
    managedCause, cifs.py:120-126,149-151)."""
    return df.join(exclude, on=on, how="left_anti")


def semi_join(df: DataFrame, probe: DataFrame, on: list[str] | str) -> DataFrame:
    """Left-semi existence probe (J4; reference's both-directions closure
    lookup, cifs.py:218-224)."""
    return df.join(probe, on=on, how="left_semi")


def union_by_name(dfs: list[DataFrame], allow_missing: bool = True) -> DataFrame:
    """Union-all by column name across per-source frames (U1; reference
    concatenates per-system frames, sharing.py:50-61)."""
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=allow_missing), dfs)


def group_pivot_sum(
    df: DataFrame,
    index: list[str],
    pivot_col: str,
    values_col: str,
    pivot_values: list[str] | None = None,
) -> DataFrame:
    """Group-sum + pivot (A1; `_group_and_pivot`, lamassu.py:272-286).

    Pass ``pivot_values`` explicitly whenever the domain is known — the
    reference derives pivot column names from a fixed form-factor list
    (lamassu.py:106-120); an explicit list lets Spark skip the extra
    distinct-values job.
    """
    g = df.groupBy(*index)
    p = g.pivot(pivot_col, pivot_values) if pivot_values else g.pivot(pivot_col)
    return p.sum(values_col)


def explode_json_records(
    df: DataFrame,
    array_col: str,
    meta_cols: list[str],
    default_record: Column | None = None,
) -> DataFrame:
    """Nested-array normalize (S3; `pd.json_normalize` with injected default
    record when the array is absent/empty, lamassu.py:237-260).

    ``default_record`` is a struct literal injected when the array is null or
    empty — the analog of the reference's default vehicle-type record
    (lamassu.py:253-259).
    """
    arr = F.col(array_col)
    if default_record is not None:
        arr = F.when(arr.isNull() | (F.size(arr) == 0), F.array(default_record)).otherwise(arr)
    rec = F.explode_outer(arr).alias("__rec")
    out = df.select(*meta_cols, rec)
    rec_fields = [f.name for f in out.schema["__rec"].dataType.fields]
    return out.select(*meta_cols, *[F.col(f"__rec.{f}").alias(f) for f in rec_fields])


def prefer_first(
    df: DataFrame,
    keys: list[str],
    pref_col: str,
    preferences: list[str],
    tie_break: list[Column] | None = None,
) -> DataFrame:
    """First-matching-preference-wins per key (SURVEY §2.1 S2).

    For each key group, keep the single row whose ``pref_col`` value appears
    EARLIEST in ``preferences``; rows whose value is not in the list rank
    after all listed values (the reference's fallback: first available
    translation when no preferred language matches, lamassu.py:93-104).
    ``tie_break`` orders rows with equal preference rank deterministically.

    One window over the key — no join, no distinct pass; scales like any
    rank-dedup (P7).
    """
    rank_expr = None
    for i, v in enumerate(preferences):
        cond = F.col(pref_col) == v
        rank_expr = F.when(cond, F.lit(i)) if rank_expr is None else rank_expr.when(cond, F.lit(i))
    rank_expr = (
        rank_expr.otherwise(F.lit(len(preferences)))
        if rank_expr is not None
        else F.lit(len(preferences))
    )
    order = [rank_expr] + list(tie_break or [])
    return rank_dedup(df, keys, order, keep="first")


def rollup_aggregate(
    df: DataFrame,
    dims: list[str],
    aggs: list[Column],
    cube: bool = False,
    gid_col: str = "gid",
) -> DataFrame:
    """Multi-level OLAP aggregation (ROLLUP / CUBE) with an explicit
    grouping id.

    The reference pivots one level at a time (sharing.py availability
    pivot); a recipe dashboard wants per-dim, per-prefix AND grand totals in
    ONE pass — Catalyst expands grouping sets into a single shuffle with
    map-side partial aggregation, so the subtotal levels cost one exchange
    total, not one scan per level.

    ``gid_col`` is Spark's ``grouping_id()`` (bit i set = dim i aggregated
    away), which disambiguates a subtotal row's NULL from a genuine NULL
    dim value — required for lossless cross-engine comparison (SQL
    ``GROUPING(...)`` composes the same bits).
    """
    grouped = df.cube(*dims) if cube else df.rollup(*dims)
    return grouped.agg(
        F.grouping_id().cast("int").alias(gid_col), *aggs
    )


def map_lookup(col: Column, mapping: dict[str, str], default: str) -> Column:
    """Dict-lookup with default (F9; INCIDENT_TYPE_MAPPPING.get(x, default),
    cifs.py:27-32,103-112).  Chained when/otherwise stays in codegen."""
    expr = None
    for k, v in mapping.items():
        expr = F.when(col == k, F.lit(v)) if expr is None else expr.when(col == k, F.lit(v))
    return (expr.otherwise(F.lit(default))) if expr is not None else F.lit(default)
