"""Windowed feature operators: lag/lead, rolling (rows + range), backfill,
rank-dedup (SURVEY §2.6 W1-W4).

Every window orders by ``(ts, turn_idx)`` — never ``ts`` alone — so ties are
broken deterministically and the per-turn text-equality invariant holds under
any parallelism (reference precedent: deterministic keep-first dedup,
lamassu.py:307).

Point-in-time safety: only ``rowsBetween(-inf, 0)`` / ``rangeBetween(-x, 0)``
frames are used for feature columns; ``lead`` is exposed only for explicitly
labeled *target* columns (``lead_`` prefix) which a PIT-feature consumer must
exclude (SURVEY §7 "zero temporal leakage").
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

KEY = "conv_id"
ORDER = ("ts", "turn_idx")


def turn_window() -> WindowSpec:
    """The canonical per-conversation window with stable tie-breaking.

    Orders by the RAW (ts, turn_idx) columns — never computed expressions:
    expression order keys get projected to fresh attributes per window, which
    defeats Catalyst's sort sharing and plans one Sort per Window.  With raw
    columns the whole chain (lag, rolling rows, rolling range via interval
    frame, backfill, sessionize) shares ONE sort after one conv_id shuffle.
    """
    return Window.partitionBy(KEY).orderBy(*ORDER)


def with_lag_features(df: DataFrame) -> DataFrame:
    """lag-1 features per conversation (SURVEY W3): previous role, previous
    tool, seconds since the previous turn.  One shuffle on ``conv_id``; all
    expressions JVM-side.
    """
    w = turn_window()
    return (
        df.withColumn("prev_role_1", F.lag("role", 1).over(w))
        .withColumn("prev_tool_1", F.lag("tool", 1).over(w))
        .withColumn(
            "ts_delta_s_1",
            (F.col("ts").cast("long") - F.lag(F.col("ts").cast("long"), 1).over(w)).cast("long"),
        )
    )


def with_lead_targets(df: DataFrame) -> DataFrame:
    """lead-1 TARGET columns (``lead_`` prefix = excluded from PIT features)."""
    w = turn_window()
    return df.withColumn("lead_role_1", F.lead("role", 1).over(w)).withColumn(
        "lead_text_1", F.lead("text", 1).over(w)
    )


def with_rolling_rows(df: DataFrame, value: Column, k: int, out_prefix: str) -> DataFrame:
    """Rolling aggregates over the last ``k`` rows INCLUDING current (W4, rows
    frame).  Frame ends at CURRENT ROW — never looks forward."""
    w = turn_window().rowsBetween(-(k - 1), Window.currentRow)
    return (
        df.withColumn(f"{out_prefix}_sum_{k}", F.sum(value).over(w))
        .withColumn(f"{out_prefix}_avg_{k}", F.avg(value).over(w))
        .withColumn(f"{out_prefix}_cnt_{k}", F.count(value).over(w))
    )


def with_rolling_range(
    df: DataFrame,
    value: Column | str,
    seconds: int,
    out_prefix: str,
) -> DataFrame:
    """Rolling aggregates over a trailing time range ``[ts - seconds, ts]``
    (W4, range frame).  Range frames need a single numeric sort key, so we
    order by epoch seconds; ties on ts collapse into the same range position
    which is the correct time-window semantics.

    ``value`` may be a column NAME (referenced directly in the window SQL) or
    an arbitrary Column expression (pre-projected to a temp column first —
    no ``_jc`` SQL round-trip, so this works under Spark Connect too).
    """
    # INTERVAL range frame ordered by the RAW ts column: required ordering
    # [ts] is a satisfied prefix of the shared chain sort [ts, turn_idx], so
    # this window adds NO extra sort (exact micros semantics, inclusive ends).
    # The Python rangeBetween API only takes longs, so spell it in window SQL.
    tmp = None
    if isinstance(value, str):
        value_sql = value
    else:
        tmp = f"__rr_{out_prefix}"
        df = df.withColumn(tmp, value)
        value_sql = tmp
    over = (
        f"OVER (PARTITION BY {KEY} ORDER BY ts "
        f"RANGE BETWEEN INTERVAL {seconds} SECONDS PRECEDING AND CURRENT ROW)"
    )
    # single select so both aggregates land in ONE physical Window node
    # (chained withColumn produced two Window+Sort pairs over the same key)
    out = df.select(
        "*",
        F.expr(f"sum({value_sql}) {over}").alias(f"{out_prefix}_rsum_{seconds}s"),
        F.expr(f"count({value_sql}) {over}").alias(f"{out_prefix}_rcnt_{seconds}s"),
    )
    return out.drop(tmp) if tmp else out


def backfill(df: DataFrame, col: str, out: str | None = None) -> DataFrame:
    """Forward-fill (a.k.a. backfill a sparse column from the past): the last
    non-null value at or before the current turn (W2) — the generalization of
    the reference's latest-image-as-of-now probe (webcam_worker.py:154-207).

    PIT-safe by construction: frame is (-inf, 0].
    """
    w = turn_window().rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.withColumn(out or f"{col}_ffill", F.last(col, ignorenulls=True).over(w))


def rank_dedup(
    df: DataFrame,
    keys: list[str],
    order: list[Column],
    keep: str = "first",
) -> DataFrame:
    """Dedup by key with deterministic keep-first/keep-last (SURVEY P7/W1).

    ``order`` must be PLAIN (direction-less) Columns — the direction belongs
    to ``keep``: 'first' keeps the minimum under ascending order, 'last' the
    maximum.  Passing an already-``.desc()``-ed Column would silently re-flip
    under keep='last', so it is rejected.  The guard matches the SortOrder
    suffix Spark renders at the END of the expression string (``… ASC NULLS
    FIRST``), so column names or literals that merely CONTAIN ' ASC'/' DESC'
    (e.g. a CASE against ' DESCRIPTION') are not falsely rejected.
    Reference parity: ``drop_duplicates(subset=…, keep='first'|'last')``
    (lamassu.py:221,306-311).
    """
    import re

    for c in order:
        s = str(c)
        # Column repr is "Column<'<expr>'>"; a pre-directed column ends in
        # the SortOrder suffix rendered by Spark
        if re.search(r" (ASC|DESC)( NULLS (FIRST|LAST))?'?>?$", s):
            raise ValueError(
                f"rank_dedup order columns must be direction-less (got {s}); "
                "direction is chosen by keep="
            )
    ordering = order if keep == "first" else [c.desc() for c in order]
    w = Window.partitionBy(*keys).orderBy(*ordering)
    return (
        df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")
    )


def top_k_per_group(df: DataFrame, keys: list[str], order: list[Column], k: int) -> DataFrame:
    """Top-k per group via ranking window (SURVEY §2.7 note)."""
    w = Window.partitionBy(*keys).orderBy(*order)
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") <= k).drop("__rn")


def with_rolling_quantiles(
    df: DataFrame,
    value: Column | str,
    k: int,
    probs: dict[str, float],
    key: str = KEY,
    order: tuple[str, ...] = ORDER,
) -> DataFrame:
    """Rolling interpolated quantiles over the last ``k`` rows including
    current (W4 extension: rolling median / p25 / p75 features).

    Spark refuses percentile aggregates over framed windows
    (INVALID_WINDOW_SPEC_FOR_AGGREGATION_FUNC), so the frame is materialized
    with ONE ``collect_list`` window (bounded: ≤ k elements, k is a small
    literal), sorted, and each quantile is read off by linear interpolation

        pos = (n−1)·p;  lo = floor(pos);  frac = pos − lo
        q   = a[lo]               if frac = 0
            = a[lo] + (a[lo+1] − a[lo])·frac   otherwise

    in EXACTLY that arithmetic order — an oracle must replicate this formula
    (not its engine's own ``median``/``quantile_cont``, whose internal
    rounding may differ in the last ulp).  NULL values are skipped (n counts
    non-null frame members, the SQL aggregate convention); n = 0 ⇒ NULL.

    One shuffle + one sort shared with the rest of the ``turn_window``
    chain; all expressions JVM-side; cost O(k log k) per row.
    """
    if k < 1:
        raise ValueError("with_rolling_quantiles: k >= 1 required")
    for p in probs.values():
        if not 0.0 <= p <= 1.0:
            raise ValueError(f"with_rolling_quantiles: prob {p} outside [0, 1]")
    w = Window.partitionBy(key).orderBy(*order).rowsBetween(-(k - 1), Window.currentRow)
    val = F.col(value) if isinstance(value, str) else value
    arr = F.sort_array(F.collect_list(val).over(w))
    out = df.withColumn("__rq_arr", arr)
    n = F.size(F.col("__rq_arr"))
    for name, p in probs.items():
        pos = (n - 1).cast("double") * F.lit(float(p))
        lo = F.floor(pos).cast("int")
        frac = pos - lo
        a_lo = F.get(F.col("__rq_arr"), lo)
        a_hi = F.get(F.col("__rq_arr"), lo + 1)
        q = F.when(n == 0, F.lit(None).cast("double")).otherwise(
            F.when(frac == 0.0, a_lo).otherwise(a_lo + (a_hi - a_lo) * frac)
        )
        out = out.withColumn(name, F.round(q, 6))
    return out.drop("__rq_arr")
