"""Mergeable cardinality sketches: deterministic HyperLogLog.

``approx_count_distinct`` is engine-internal (its registers are not
portable), so this module builds HLL from first principles on the portable
60-bit md5 hash (``text_dedup.portable_hash``): every register value, and
therefore every estimate, is bit-identical across engines and replayable in
plain SQL — the same determinism contract as the MinHash/LSH family.

Register construction (p = 6 ⇒ m = 64 buckets):

* ``bucket = hash & 63`` — low p bits
* ``rest   = hash >> 6`` — the remaining 54 bits
* ``rank   = 55 − bitlength(rest)`` (leading zeros in the 54-bit field + 1;
  rest = 0 ⇒ rank 55) — via ``length(bin(x))``, exact integer both engines
* register ``M_j = max(rank)`` per (group, bucket)

The sparse register frame (only non-empty buckets) IS the sketch, and it is
the whole scale story: sketches merge by elementwise MAX, so partial
registers combine map-side, shuffle one tiny row per (group, bucket) — at
most 64 rows per group regardless of input size — and UNION of inputs ==
MAX-merge of their sketches.  That is how a 100 TB distinct-count
runs as a single map-side-combined aggregation; the raw values are never
shuffled.

Estimation: ``E_raw = α_64 · m² / Σ_j 2^−M_j`` with the Flajolet small-range
linear-counting correction (``E ≤ 2.5m`` and empty buckets exist ⇒
``m·ln(m/V)``).  The harmonic sum is computed as the exact integer
``Z_scaled = Σ 2^(55−M_j)`` (≤ 64·2^55 < 2^63, BIGINT-safe) so the only
floats are one literal-constant division and one ``ln`` — identical
cross-engine; no large-range correction is needed because the 60-bit hash
space makes collision bias negligible below ~2^30 distinct values.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ipl_dagster_pipeline_spark.operators.text_dedup import portable_hash

HLL_P = 6
HLL_M = 1 << HLL_P  # 64 buckets
_REST_BITS = 60 - HLL_P  # 54
_MAX_RANK = _REST_BITS + 1  # 55
# alpha_m = 0.7213 / (1 + 1.079/m), the standard bias constant for m ≥ 64
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)
# E_raw = (ALPHA * m^2 * 2^54... ) — numerator precomputed once so both
# engines divide the SAME double constant by the exact integer Z_scaled
HLL_NUMERATOR = HLL_ALPHA * HLL_M * HLL_M * float(1 << _MAX_RANK)
HLL_SMALL_RANGE = 2.5 * HLL_M


def hll_rank(rest: Column) -> Column:
    """55 − bitlength(rest) for the 54-bit remainder; rest = 0 ⇒ 55."""
    return F.when(rest == 0, F.lit(_MAX_RANK)).otherwise(
        F.lit(_MAX_RANK) - F.length(F.bin(rest))
    ).cast("int")


# the portable-hash seed of the HLL register hash
HLL_SEED = 41


def hll_sketch(df: DataFrame, group_cols: list[str], value: Column) -> DataFrame:
    """The sparse HLL register frame: (group…, bucket, m) with one row per
    NON-EMPTY bucket — ≤ 64 rows per group, the mergeable sketch state.
    NULL values are skipped (SQL COUNT DISTINCT convention)."""
    h = portable_hash(value.cast("string"), HLL_SEED)
    buck = df.where(value.isNotNull()).select(
        *group_cols,
        h.bitwiseAND(HLL_M - 1).alias("bucket"),
        F.shiftrightunsigned(h, HLL_P).alias("rest"),
    )
    return buck.groupBy(*group_cols, "bucket").agg(F.max(hll_rank(F.col("rest"))).alias("m"))


def hll_estimate(regs: DataFrame, group_cols: list[str]) -> DataFrame:
    """Cardinality estimates from a register frame:

    * ``hll_nonempty`` — non-empty buckets (BIGINT, exact)
    * ``hll_z_scaled`` — Σ 2^(55−M_j) incl. empty buckets at 2^55 (exact)
    * ``hll_est``      — the corrected estimate, rounded to 4 dp
    """
    agg = regs.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("hll_nonempty"),
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST({_MAX_RANK} - m AS INT))")).alias(
            "__z_part"
        ),
    )
    z = (
        F.col("__z_part")
        + (F.lit(HLL_M) - F.col("hll_nonempty")) * F.lit(1 << _MAX_RANK)
    ).cast("long")
    v = (F.lit(HLL_M) - F.col("hll_nonempty")).cast("double")  # empty buckets
    e_raw = F.lit(HLL_NUMERATOR) / F.col("hll_z_scaled").cast("double")
    est = F.when(
        (e_raw <= HLL_SMALL_RANGE) & (v > 0), F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / v)
    ).otherwise(e_raw)
    return (
        agg.withColumn("hll_z_scaled", z)
        .withColumn("hll_est", F.round(est, 4))
        .drop("__z_part")
    )


def hll_distinct(df: DataFrame, group_cols: list[str], value: Column) -> DataFrame:
    """End-to-end convenience: sketch → estimate per group."""
    return hll_estimate(hll_sketch(df, group_cols, value), group_cols)


# ---------------------------------------------------------------------------
# Count-min sketch: mergeable FREQUENCY sketch (HLL's sibling for counts).
#
# Same portability contract as HLL above: rows are the affine universal-hash
# family over one 60-bit md5 base (text_dedup.minhash_params, offset +100 so
# the CMS rows are decorrelated from the MinHash rows), so every counter is
# an exact BIGINT reproducible in plain SQL — the oracle replays the full
# register frame and the estimates are hash-identical cross-engine.
#
# Scale story (the reason to sketch at all): the counter frame has AT MOST
# d·w rows per group regardless of input size (d=4, w=256 ⇒ ≤1024), counters
# partial-aggregate map-side, and sketches of disjoint inputs merge by
# elementwise SUM — so a 100 TB frequency profile shuffles ≤1024 tiny rows
# per group and daily sketches fold into monthly ones without re-reading the
# raw data.  Estimates only ever OVER-count (est ≥ true, the CMS guarantee);
# with d=4 rows the over-count per probe is bounded by the three smallest
# collision loads.
# ---------------------------------------------------------------------------

from ipl_dagster_pipeline_spark.operators.text_dedup import (  # noqa: E402
    MINHASH_P,
    minhash_params,
)

CMS_D = 4  # hash rows
CMS_W = 256  # counters per row
CMS_ROW_OFFSET = 100  # minhash_params index offset for the CMS hash family
CMS_SEED = 53  # the portable-hash seed of the CMS key base


def cms_col(base: Column, row: int) -> Column:
    """Counter column for hash row `row`: ((base·A+B) mod P) mod w."""
    a, b = minhash_params(CMS_ROW_OFFSET + row)
    return ((base * a + b) % MINHASH_P) % CMS_W


def _cms_base(value: Column) -> Column:
    return portable_hash(value.cast("string"), CMS_SEED) % MINHASH_P


def _cms_cells(df: DataFrame, group_cols: list[str], value: Column) -> DataFrame:
    """One (group…, key-ish, r, c) row per input row per hash row."""
    based = df.where(value.isNotNull()).select(
        *group_cols, _cms_base(value).alias("__base")
    )
    cells = F.array(
        *[
            F.struct(F.lit(i).alias("r"), cms_col(F.col("__base"), i).alias("c"))
            for i in range(CMS_D)
        ]
    )
    return based.select(*group_cols, F.explode(cells).alias("__cell")).select(
        *group_cols, F.col("__cell.r").alias("r"), F.col("__cell.c").alias("c")
    )


def cms_sketch(df: DataFrame, group_cols: list[str], value: Column) -> DataFrame:
    """The sparse CMS counter frame (group…, r, c, cnt): one row per
    NON-ZERO counter — ≤ d·w rows per group, the mergeable sketch state.
    NULL values are skipped (they are not a key occurrence)."""
    return _cms_cells(df, group_cols, value).groupBy(*group_cols, "r", "c").agg(
        F.count(F.lit(1)).alias("cnt")
    )


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """SUM-merge counter frames (same grouping schema): exactly the sketch
    of the UNION of the inputs — counters are linear."""
    if not sketches:
        raise ValueError("cms_merge: at least one sketch required")
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    keys = [c for c in out.columns if c != "cnt"]
    return out.groupBy(*keys).agg(F.sum("cnt").alias("cnt"))


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Point-frequency estimates for a (small) candidate-key frame:
    est(key) = min over rows of counter[r, h_r(key)] — the classic CMS probe,
    ≥ the true count always, exact when no colliding key shares all d cells.

    `keys` carries one row per candidate (other columns pass through); the
    probe is a d-row explode + equi-join against the counter frame — never a
    scan of the raw data.  Keys absent from the sketch estimate 0.

    A sketch built with ``group_cols`` carries those columns in its schema;
    the probe then joins on them too (they must be present in ``keys``), so
    counters are never mixed across groups — mixing would let min() return
    an estimate BELOW the true per-group count, violating the est ≥ true
    CMS guarantee (round-5 ADVICE).

    Pass ``group_cols`` explicitly (the list given to :func:`cms_sketch`)
    when the sketch frame carries extra columns or a key column literally
    named ``r``/``c``/``cnt`` — the schema-inference fallback ("everything
    except r/c/cnt") would silently turn such columns into equi-join keys
    (round-6 ADVICE).  When provided, the sketch schema is validated
    against it instead of trusted."""
    inferred = [c for c in sketch.columns if c not in ("r", "c", "cnt")]
    if group_cols is None:
        group_cols = inferred
    else:
        extra = [c for c in inferred if c not in group_cols]
        if extra:
            raise ValueError(
                f"cms_estimate: sketch carries non-counter columns {extra} "
                f"beyond the declared group_cols={group_cols} — rebuild the "
                f"sketch with cms_sketch(df, {group_cols}, ...) or declare them"
            )
    missing = [c for c in group_cols if c not in keys.columns]
    if missing:
        raise ValueError(
            f"cms_estimate: sketch is grouped by {group_cols} but keys frame "
            f"lacks {missing} — probing across groups would break est >= true"
        )
    probe = keys.withColumn("__base", _cms_base(F.col(key_col)))
    cells = F.array(
        *[
            F.struct(F.lit(i).alias("r"), cms_col(F.col("__base"), i).alias("c"))
            for i in range(CMS_D)
        ]
    )
    exploded = probe.select(
        *[c for c in keys.columns], F.explode(cells).alias("__cell")
    ).select(*keys.columns, F.col("__cell.r").alias("r"), F.col("__cell.c").alias("c"))
    joined = exploded.join(F.broadcast(sketch), on=["r", "c", *group_cols], how="left")
    return joined.groupBy(*keys.columns).agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("long").alias("cms_est")
    )


# ---------------------------------------------------------------------------
# Mergeable quantile sketch: deterministic base-2 log-histogram
# ---------------------------------------------------------------------------
#
# Exact rank quantiles (profiling.group_quantiles) need a full shuffle of the
# values; at 100 TB a monitoring pipeline wants the mergeable alternative: a
# log-spaced histogram whose buckets are pure integer functions of the value,
# so partial sketches combine map-side (sum of counts), shuffle one tiny row
# per (group, bucket), and UNION of inputs == merge of their sketches.
#
# Bucketing is the DDSketch idea made cross-engine-exact: values are taken in
# integer milli-units m = floor(value·1000); for m > 0 the bucket keeps the
# top 1+LOGHIST_SUB_BITS bits of m — bucket lower bound
# ``(m >> s) << s`` with ``s = bitlength(m) − 1 − SUB_BITS`` (0 when m is
# short enough to keep exactly).  Every step is integer arithmetic on BIGINT
# (bitlength via length(bin(x)), shifts), bit-identical in Spark and DuckDB —
# no log()/pow() edge-rounding hazard.  Negatives mirror through |m| with a
# negated bound; the bound is a monotone function of the value, so bucket
# order IS value order and quantiles read off a cumulative walk.  Relative
# error ≤ 2^−SUB_BITS (12.5% at the default 3 sub-bits) on the milli scale;
# bucket count is O(64·2^SUB_BITS) per group regardless of input size.

LOGHIST_SUB_BITS = 3
LOGHIST_UNIT = 1000


def loghist_bound(value: Column) -> Column:
    """The bucket representative (lower bound of |value| in milli-units,
    sign-mirrored) — a pure integer projection, NULL in → NULL out."""
    m = F.floor(value * LOGHIST_UNIT).cast("long")
    a = F.abs(m)
    shift = F.greatest(F.length(F.bin(a)) - F.lit(1 + LOGHIST_SUB_BITS), F.lit(0))
    # SQL shiftright/shiftleft accept a column-valued shift (the pyspark
    # wrappers insist on a literal int)
    bound = F.call_function("shiftleft", F.call_function("shiftright", a, shift), shift)
    return (F.when(m < 0, -bound).otherwise(bound)).cast("long")


def loghist_sketch(df: DataFrame, value_col: str, group_cols: list[str] | None = None) -> DataFrame:
    """(group…, bound, cnt) — one map-side-combined aggregation; NULL values
    are excluded (count them upstream if missingness matters).  NaN/±Inf are
    excluded too: Spark casts NaN→0L while DuckDB refuses the cast, so
    letting them through would silently corrupt the zero bucket on one
    engine and error on the other — dropping non-finite values keeps the
    sketch a pure function of the finite data on BOTH engines."""
    group_cols = group_cols or []
    c = F.col(value_col)
    if dict(df.dtypes).get(value_col) in ("float", "double"):
        df = df.filter(~F.isnan(c) & (F.abs(c) != float("inf")))
    return (
        df.filter(F.col(value_col).isNotNull())
        .select(*group_cols, loghist_bound(F.col(value_col)).alias("bound"))
        .groupBy(*group_cols, "bound")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def loghist_quantiles(
    sketch: DataFrame,
    percents: dict[str, int],
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Quantile estimates from a sketch: for each percent p the bound of the
    first bucket whose cumulative count reaches the type-1 lower rank
    ``(n−1)·p//100 + 1`` (the house rank convention, exact integers).

    The window runs over the SKETCH (≤ a few hundred rows per group), never
    the data — safe at any input scale.  Output: one row per group with a
    ``q_<name>`` BIGINT milli-unit column per requested percent.
    """
    from pyspark.sql import Window

    group_cols = group_cols or []
    w = Window.partitionBy(*[F.col(c) for c in group_cols]).orderBy("bound")
    cum = sketch.withColumn("__cum", F.sum("cnt").over(w)).withColumn(
        "__n", F.sum("cnt").over(Window.partitionBy(*[F.col(c) for c in group_cols]))
    )
    aggs = []
    for name, p in percents.items():
        if not 0 <= p <= 100:
            raise ValueError(f"percent {name}={p} out of [0, 100]")
        # cum ≥ floor((n−1)p/100)+1  ⟺  100·cum > (n−1)·p — pure BIGINT, no
        # division anywhere (the n~2^53 floor-of-double hazard never exists)
        hit = (F.col("__cum") * 100) > ((F.col("__n") - 1) * p)
        aggs.append(F.min(F.when(hit, F.col("bound"))).alias(f"q_{name}"))
    if group_cols:
        return cum.groupBy(*group_cols).agg(*aggs)
    return cum.agg(*aggs)
