"""Leakage-safe categorical target encoding (point-in-time expanding stats).

Target encoding replaces a high-cardinality key by statistics of a label
aggregated over that key.  Done naively (a plain groupBy mean joined back) it
leaks the row's own label and every FUTURE label into the feature — the
classic train-time/serve-time skew bug.  This operator computes the encoding
point-in-time-correctly: each row sees only rows of the same key that are
STRICTLY earlier under a total deterministic order, via an expanding window
frame ``rowsBetween(unboundedPreceding, -1)`` — the same zero-temporal-
leakage contract as the as-of joins and backfill windows (reference
precedent for PIT discipline: the if-modified-since incremental fetch,
pipeline/sources/urllib.py:59-83, never reprocesses the future).

Determinism contract: the label is quantized to INTEGER micro-units
(``round(label × 1e6)``) BEFORE the window sum, so the expanding sum is
exact integer arithmetic — independent of the engine's window-aggregation
tree (DuckDB's segment tree vs Spark's running accumulator would otherwise
disagree in float).  The smoothed estimate is derived from exact integers
(cross-multiplied in DECIMAL(38,0) to avoid BIGINT overflow) and only
rounded at the very end, so it is bit-identical cross-engine.

Smoothing: ``te = (sum + m · prior_mean) / (cnt + m)`` (the standard
empirical-Bayes shrinkage).  The prior defaults to the global label mean of
``df`` itself — fine for backfills over a closed corpus, but a PRODUCTION
caller scoring live traffic must pass ``prior=(num_micro, den)`` fitted on a
PAST snapshot, or the prior itself leaks the future; the parameter exists
precisely so that decision is explicit.

Scale shape: ONE hash shuffle on the key and one sort per partition — no
joins, no driver round-trips.  High-cardinality keys (user_id, conv_id)
partition evenly; a single pathological hot key serializes only its own
partition's scan (window frames are running accumulators, O(n) per key).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

MICRO = 1_000_000
# the smoothing weight m of the target encoding: a key's mean counts as much
# as the prior once it has m labelled rows
TE_SMOOTHING = 20


def label_micro(label: Column) -> Column:
    """The exact-integer label representation the window sums operate on."""
    return F.round(label * MICRO).cast("long")


def target_encode_pit(
    df: DataFrame,
    key_col: str,
    label_col: str,
    order_cols: list[str],
    prior: tuple[int, int] | None = None,
) -> DataFrame:
    """``df`` plus point-in-time target-encoding columns for ``key_col``:

    * ``te_cnt``   — prior same-key rows with a non-NULL label (BIGINT)
    * ``te_sum_micro`` — exact integer sum of their micro-quantized labels
    * ``te_value`` — smoothed mean ``(sum + m·prior_mean)/(cnt + m)``,
      ``m = TE_SMOOTHING``, rounded to 6 dp; equals the prior mean exactly for a key's first row

    ``order_cols`` must totally order rows within a key (e.g. ``[ts,
    event_id]`` with a unique id last) — a tie would make "strictly earlier"
    ambiguous and the result parallelism-dependent.  ``prior`` is an exact
    ``(sum_micro, count)`` pair; None ⇒ computed from ``df`` (see module
    docstring for the leakage caveat).
    """
    lbl = label_micro(F.col(label_col))
    if prior is None:
        g = df.select(
            F.coalesce(F.sum(label_micro(F.col(label_col))), F.lit(0)).alias("n"),
            F.count(label_col).alias("d"),
        ).collect()[0]
        prior = (int(g["n"]), int(g["d"]))
    p_num, p_den = prior
    if p_den <= 0:
        raise ValueError("target_encode_pit: prior denominator must be positive")

    w = (
        Window.partitionBy(key_col)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cnt = F.coalesce(F.count(lbl).over(w), F.lit(0)).cast("long")
    s = F.coalesce(F.sum(lbl).over(w), F.lit(0)).cast("long")
    # te = (s + m·p_num/p_den) / (cnt + m), cross-multiplied by p_den in
    # DECIMAL(38,0) so every intermediate stays exact.  The 6-dp value is
    # the exact integer micro-quotient (num·10⁶ DIV den, truncation toward
    # zero — Spark DIV and DuckDB // agree) divided by 10⁶ — never a float
    # division followed by round(), whose half-way behavior is
    # engine-defined at the last decimal.
    dec = "decimal(38,0)"
    num = s.cast(dec) * F.lit(p_den) + F.lit(TE_SMOOTHING) * F.lit(p_num).cast(dec)
    den = (cnt + F.lit(TE_SMOOTHING)).cast(dec) * F.lit(p_den) * F.lit(MICRO)
    return (
        df.withColumn("te_cnt", cnt)
        .withColumn("te_sum_micro", s)
        .withColumn("__te_num", num)
        .withColumn("__te_den", den)
        .withColumn(
            "te_value",
            F.expr(f"CAST((__te_num * {MICRO}) DIV __te_den AS BIGINT)").cast("double")
            / F.lit(float(MICRO)),
        )
        .drop("__te_num", "__te_den")
    )


def count_encode_fit(train: DataFrame, key_col: str) -> DataFrame:
    """Frozen frequency-encoding table for ``key_col`` over the frame you
    pass (pass the TRAIN fold — same fit/transform leakage discipline as
    ``featurize.standardize_fit``): one row per observed key value with

    * ``ce_cnt`` — BIGINT occurrence count
    * ``ce_ppm`` — exact integer parts-per-million frequency
      (``cnt · 10⁶ DIV total`` — no float division, bit-identical anywhere)

    NULL is a first-class category (groupBy keeps the NULL group; the
    transform joins null-safely).  Scale: one map-side-combined hash
    aggregation; the fit table is |distinct keys| rows."""
    counts = train.groupBy(key_col).agg(F.count(F.lit(1)).alias("ce_cnt"))
    total = train.count()
    if total <= 0:
        raise ValueError("count_encode_fit: empty fit frame")
    return counts.withColumn(
        "ce_ppm",
        F.expr(f"CAST((ce_cnt * 1000000) DIV {total} AS BIGINT)"),
    )


def count_encode_transform(df: DataFrame, fit: DataFrame, key_col: str) -> DataFrame:
    """``df`` plus the frozen ``ce_cnt`` / ``ce_ppm`` columns —
    null-safe left join against the fit table (a NULL key matches the fit's
    NULL category; a key UNSEEN at fit time encodes as 0, not NULL: "never
    seen" is a statement of frequency, not missing data).

    Scale: the fit table is usually dimension-sized — leave the join
    strategy to AQE (it broadcasts small fits on its own); a user-id-scale
    fit degrades to a plain hash join, never a driver collect."""
    fk = fit.select(
        F.col(key_col).alias("__ce_k"),
        F.col("ce_cnt"),
        F.col("ce_ppm"),
    )
    out = df.join(fk, on=df[key_col].eqNullSafe(fk["__ce_k"]), how="left").drop("__ce_k")
    for c in ("ce_cnt", "ce_ppm"):
        out = out.withColumn(c, F.coalesce(F.col(c), F.lit(0)).cast("long"))
    return out
