"""Exponentially time-decayed activity features, exactly and at scale.

``decayed_cnt(key, D) = Σ_{δ=1..H} w(δ) · cnt(key, D−δ)`` — the classic
recency-weighted engagement feature (events last week count more than events
last month), at day granularity and strictly over PAST days (δ ≥ 1), so the
feature is point-in-time safe by construction; intra-day ordering belongs to
``encoding.target_encode_pit``'s expanding window.

Determinism contract: the decay curve is materialized ONCE, in Python, as an
integer weight table ``w(δ) = round(2^scale_bits · 0.5^(δ/half_life))`` —
the identical literals are baked into the Spark plan and into any generated
oracle SQL, so no runtime ``pow``/``exp`` can wobble cross-engine; every
aggregation is integer (DECIMAL(38,0) where products can exceed BIGINT) and
therefore reduction-order-independent.  Outputs expose both the exact scaled
integers and the human-readable ``/2^scale_bits`` floats (rounded 6 dp,
derived from the exact integers — portable).

Scale shape (the part that matters at 100 TB): raw rows are first collapsed
to per-(key, day) partial aggregates — a map-side-combined groupBy that is
the ONLY pass over the raw data.  The day-aggregate (≤ keys × days rows,
orders of magnitude smaller) is exploded ×H onto the target days it
contributes to, re-aggregated, and equi-joined back on (key, day).  No
window over the corpus, no per-pair range join, no driver round-trips; the
H-fold blowup rides the small frame.  A naive per-row range self-join would
move rows × H·density pairs instead.

Null keys are first-class: the join back is null-safe (``eqNullSafe``), the
round-3 null-group-key lesson applied from day one.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SECONDS_PER_DAY = 86_400


def decay_weights(
    half_life_days: float, horizon_days: int, scale_bits: int = 16
) -> list[tuple[int, int]]:
    """The integer decay table [(δ, w)] for δ = 1..H, w = round(2^bits ·
    0.5^(δ/half_life)).  Computed once on the driver; δ past the horizon
    contributes 0 (a documented truncation, not a silent one: the tail mass
    below w=1 is dropped by the rounding anyway once 0.5^(δ/hl)·2^bits < ½).
    """
    if half_life_days <= 0 or horizon_days < 1:
        raise ValueError("decay_weights: half_life_days > 0 and horizon_days >= 1 required")
    scale = 1 << scale_bits
    return [(d, round(scale * 0.5 ** (d / half_life_days))) for d in range(1, horizon_days + 1)]


def day_index(ts: Column) -> Column:
    """Whole days since epoch (UTC).  Parquet NTZ timestamps cast through
    TIMESTAMP are identity instants under the UTC session tz."""
    return F.floor(ts.cast("timestamp").cast("long") / SECONDS_PER_DAY).cast("long")


def with_decayed_counts(
    df: DataFrame,
    key_col: str,
    value_col: str | None = None,
    half_life_days: float = 7.0,
    horizon_days: int = 28,
    scale_bits: int = 16,
) -> DataFrame:
    """``df`` plus per-row decayed activity features of its key, by the day
    of ``ts``:

    * ``decayed_cnt_q``   — Σ w(δ)·cnt(key, day−δ), exact BIGINT in 2^bits units
    * ``decayed_cnt``     — the same / 2^bits, rounded 6 dp
    * ``decayed_sum_q`` / ``decayed_sum`` — likewise over round(value·1e6) sums
      (micro-quantized; only when ``value_col`` is given); ``decayed_sum`` is
      in original value units, rounded 6 dp

    Rows on a key's first active day get exact zeros (no past ⇒ no signal).
    """
    wt = decay_weights(half_life_days, horizon_days, scale_bits)
    day = day_index(F.col("ts"))

    aggs = [F.count(F.lit(1)).alias("__c")]
    if value_col is not None:
        aggs.append(
            F.coalesce(F.sum(F.round(F.col(value_col) * 1_000_000).cast("long")), F.lit(0)).alias(
                "__s"
            )
        )
    per_day = df.withColumn("__day", day).groupBy(key_col, "__day").agg(*aggs)

    # explode the day-aggregate onto the H future days it contributes to;
    # the weight table is a literal array — no shuffle, bounded ×H blowup
    wt_arr = F.array(
        *[F.struct(F.lit(d).alias("delta"), F.lit(w).alias("w")) for d, w in wt]
    )
    contrib = per_day.select(
        key_col,
        "__day",
        F.explode(wt_arr).alias("__wt"),
        "__c",
        *(["__s"] if value_col is not None else []),
    ).select(
        key_col,
        (F.col("__day") + F.col("__wt.delta")).alias("__day"),
        (F.col("__wt.w").cast("decimal(38,0)") * F.col("__c")).alias("__wc"),
        *(
            [(F.col("__wt.w").cast("decimal(38,0)") * F.col("__s")).alias("__ws")]
            if value_col is not None
            else []
        ),
    )
    dec_aggs = [F.sum("__wc").alias("__qc")]
    if value_col is not None:
        dec_aggs.append(F.sum("__ws").alias("__qs"))
    decayed = contrib.groupBy(key_col, "__day").agg(*dec_aggs).alias("R")

    left = df.withColumn("__day", day).alias("L")
    out = left.join(
        decayed,
        on=[
            F.col(f"L.{key_col}").eqNullSafe(F.col(f"R.{key_col}")),
            F.col("L.__day") == F.col("R.__day"),
        ],
        how="left",
    )
    scale = 1 << scale_bits
    res = (
        out.select("L.*", "R.__qc", *(["R.__qs"] if value_col is not None else []))
        .withColumn(
            "decayed_cnt_q", F.coalesce(F.col("__qc"), F.lit(0)).cast("long")
        )
        .withColumn("decayed_cnt", F.round(F.col("decayed_cnt_q") / scale, 6))
    )
    if value_col is not None:
        res = res.withColumn(
            "decayed_sum_q", F.coalesce(F.col("__qs"), F.lit(0)).cast("long")
        ).withColumn(
            "decayed_sum",
            F.round(F.col("decayed_sum_q") / (scale * 1_000_000.0), 6),
        )
    return res.drop("__day", "__qc", *(["__qs"] if value_col is not None else []))
