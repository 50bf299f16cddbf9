"""Corpus profiling: exact per-group order statistics at scale, and the one
rank-element rule every exact-rank fit in the package uses.

A data recipe wants per-source distribution facts (length quantiles, token
quantiles) that are EXACT and engine-portable — ``percentile_approx`` is
neither (approximate, implementation-defined), and the exact built-in
``percentile`` interpolates in floating point, which no cross-engine
value-hash survives.  ``_rank_elements`` instead selects lower-rank (type-1)
quantile ELEMENTS with pure integer arithmetic:

* per-group rank in ``(value, key)`` order via the two-phase distributed
  prefix sum (`packing.with_keyed_cumsum`) — never a one-task-per-group
  window, so a source holding 80% of the corpus cannot straggle;
* the element for fraction ``num/den`` sits at rank
  ``((n - 1) * num) DIV den + 1`` — integer-exact in any engine;
* the rows matching a selected rank (a handful per group) are filtered
  FIRST, so the final per-group pivot aggregates only a few rows per group.

``group_quantiles`` (percents), ``robust_outliers`` (median and MAD), and
the frozen fits in `featurize` (quantile-bin edges, median fill values,
winsorization bounds) are all calls of it.

The reference profiles availability_status distributions with pandas
value_counts (lamassu.py:306-311); this is the distributed order-statistics
generalization.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .packing import _null_safe_broadcast_join, with_keyed_cumsum

DEFAULT_PERCENTS = {"p25": 25, "p50": 50, "p90": 90}


def _rank_elements(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    key_col: str,
    ranks: dict[str, tuple[int, int]],
) -> DataFrame:
    """One row per group: ``group_cols``, ``__n`` (rows ranked) and, per
    ``name: (num, den)``, the ``value_col`` element at rank
    ``((n - 1) * num) DIV den + 1`` in ``(value, key)`` order.

    ``key_col`` breaks value ties, so the element is deterministic at any
    parallelism.  NULL values are ranked (first); callers that exclude them
    filter first.  ``group_cols=[]`` is one global aggregation, so an empty
    input yields one row of NULLs; with group columns it yields no rows.
    """
    for name, (num, den) in ranks.items():
        if not 0 <= num <= den:
            raise ValueError(f"rank fraction for {name!r} must be in [0, 1], got {num}/{den}")
    ranked = with_keyed_cumsum(
        df.select(*group_cols, value_col, key_col).withColumn("__one", F.lit(1)),
        group_cols=group_cols,
        order_cols=[value_col, key_col],
        value_col="__one",
        out_col="__rank",
    )
    # the counts side is one row per group — broadcast assumes a
    # strata-sized group cardinality; a data-sized one fails LOUDLY at the
    # collect inside the broadcast, not silently
    counts = ranked.groupBy(*group_cols).agg(F.count(F.lit(1)).alias("__n"))
    j = _null_safe_broadcast_join(ranked, counts, group_cols)
    sels = {
        name: F.expr(f"CAST(((__n - 1) * {num}) DIV {den} AS BIGINT) + 1")
        for name, (num, den) in ranks.items()
    }
    hits = j.filter(reduce(lambda x, y: x | y, [F.col("__rank") == sel for sel in sels.values()]))
    return hits.groupBy(*group_cols).agg(
        F.max("__n").cast("long").alias("__n"),
        *[
            F.max(F.when(F.col("__rank") == sel, F.col(value_col))).alias(name)
            for name, sel in sels.items()
        ],
    )


def group_quantiles(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    key_col: str,
    percents: dict[str, int] | None = None,
    count_col: str = "n_rows",
) -> DataFrame:
    """One row per group: group cols, ``count_col``, and one column per entry
    of ``percents`` holding the exact lower-rank quantile of ``value_col``
    (rank ``((n - 1) * p) DIV 100 + 1``; ``key_col`` breaks value ties).
    A NULL group is a real group."""
    percents = percents or DEFAULT_PERCENTS
    return _rank_elements(
        df, group_cols, value_col, key_col,
        {name: (p, 100) for name, p in percents.items()},
    ).withColumnRenamed("__n", count_col)


def robust_outliers(
    df: DataFrame, group_cols: list[str], value_col: str, key_col: str
) -> DataFrame:
    """Per-group robust outliers: rows where ``|value - median| > 3 *
    MAD`` (median absolute deviation) — the outlier rule that, unlike
    mean/stddev z-scores, is not dragged by the outliers it is hunting.

    Both the median and the MAD are EXACT lower-rank order statistics
    (:func:`group_quantiles` — keyed distributed prefix-sum ranking, never a
    one-task-per-group sort), so on integer values the whole decision is
    integer arithmetic: bit-identical on any engine, no stddev float drift.
    Two ranking passes (values, then absolute deviations) + two null-safe
    broadcast joins of one-row-per-group stats frames.
    """
    from ..caching import tracked_persist

    def stat(frame: DataFrame, col: str, name: str) -> DataFrame:
        # persist the strata-sized stats frame: `dev` is consumed twice (the
        # MAD fit and the final score join), so an unpersisted median frame
        # would re-run its whole ranked pass per consumer (r7)
        fit = _rank_elements(frame, group_cols, col, key_col, {name: (50, 100)})
        return _null_safe_broadcast_join(frame, tracked_persist(fit.drop("__n")), group_cols)

    dev = stat(df, value_col, "med").withColumn(
        "__adev", F.abs(F.col(value_col) - F.col("med"))
    )
    scored = stat(dev, "__adev", "mad")
    return scored.filter(F.col("__adev") > 3 * F.col("mad")).drop("__adev")


def group_histogram(
    df: DataFrame, group_cols: list[str], value_col: str, bin_width: int
) -> DataFrame:
    """Exact fixed-width histogram per group: one row per (group, bin) with
    the bin's inclusive lower edge and row count.

    Pure integer arithmetic (``bin = floor(value / width)``) so counts are
    bit-identical on any engine — the profiling companion to
    :func:`group_quantiles` when the recipe wants the full distribution
    shape, not selected order statistics.  One hash shuffle, map-side
    combined; NULL values land in a NULL bin (kept, not dropped — absent
    data is a distribution fact).  Scale: output is |groups| × |occupied
    bins|, never data-sized.
    """
    if bin_width < 1:
        raise ValueError(f"bin_width must be >= 1, got {bin_width}")
    b = F.floor(F.col(value_col) / bin_width).cast("long")
    return (
        df.withColumn("bin", b)
        .groupBy(*group_cols, "bin")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .withColumn("bin_lo", (F.col("bin") * bin_width).cast("long"))
    )
