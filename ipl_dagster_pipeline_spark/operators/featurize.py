"""Leakage-safe feature-vector assembly: standardization fit on the train
fold only, one-hot with an EXPLICIT domain, and the hashing trick for
high-cardinality categoricals.

This is the last mile of a feature-engineering pipeline: turning typed
columns into the fixed-width numeric feature columns a trainer consumes.
The three classic hazards it closes:

* **fit/transform leakage** — scaler statistics computed over ALL rows leak
  val/test distribution into training features.  ``standardize_fit`` takes
  the frame you give it (pass the TRAIN fold, selected by the deterministic
  ``sampling.hash_split``), and ``standardize_transform`` applies those
  frozen statistics to any frame — the same PIT discipline as
  ``encoding.target_encode_pit`` applied to dataset-level stats.
* **silent domain drift** — ``one_hot`` requires the category domain to be
  DECLARED (like the reference's explicit pivot domains / enum mappings,
  pipeline/assets/sharing.py form-factor classes); unseen values go to the
  ``{prefix}_other`` column instead of silently minting new feature columns
  that break schema stability between runs.
* **unbounded categorical width** — ``hash_bucket_onehot`` folds any
  cardinality into ``n_buckets`` indicator columns via the portable 60-bit
  md5 hash (identical assignment on any engine, any parallelism);
  ``hash_cross`` does the same for INTERACTION features whose joint domain
  is unboundable.

The exact-rank fits — quantile-bin edges (``quantile_bins_fit``), median
fill values (``impute_fit``), winsorization bounds (``clip_fit``) and named
elements (``quantile_fit_elements``) — are all calls of ONE rule,
`profiling._rank_elements`: rank in ``(value, key)`` order over the
distributed prefix sum and take the type-1 lower-rank ELEMENT by integer
arithmetic — never interpolated, so every fit is bit-identical cross-engine.
``impute_fit`` stacks its columns and ranks them in one pass.

Determinism contract (cross-engine exact): inputs are quantized to INTEGER
milli-units per row BEFORE aggregation, so fit statistics are exact BIGINTs
(sum and sum-of-squares; milli scaling keeps sumsq < 2^63 for values up to
~1e6 over 1e8 rows); the z-score is then a FIXED sequence of IEEE double
ops over those integers — bit-identical in any engine — rounded at the end.

Scale shape: fit is one map-side-combined global aggregation producing a
single tiny row; transform/one-hot/hashing are pure projections over a
broadcast of that row — zero extra shuffles, fully codegen'd, and the plan
is identical at any cluster size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ipl_dagster_pipeline_spark.operators.profiling import _rank_elements
from ipl_dagster_pipeline_spark.operators.text_dedup import portable_hash

MILLI = 1_000


def value_milli(col: Column) -> Column:
    """Exact-integer milli-unit representation fit statistics sum over."""
    return F.round(col.cast("double") * MILLI).cast("long")


def _stack(df: DataFrame, cols: list[str], *keep: str, cast: str | None = None) -> DataFrame:
    """``cols`` stacked into rows ``(__c, __v, *keep)`` — ``__c`` the column
    name, ``__v`` its value (cast to ``cast``, else Spark's common type of
    ``cols``) — by ONE explode of a struct array: a single scan for any
    number of columns."""
    def v(c: str) -> Column:
        return F.col(c).cast(cast) if cast else F.col(c)

    return df.select(
        F.explode(
            F.array(*[F.struct(F.lit(c).alias("__c"), v(c).alias("__v"), *keep) for c in cols])
        ).alias("__m")
    ).select("__m.*")


def standardize_fit(train: DataFrame, cols: list[str]) -> DataFrame:
    """One-row frame of frozen scaler statistics for ``cols``:
    ``n_<c>`` non-null count, ``s_<c>`` exact milli sum, ``q_<c>`` exact
    milli sum-of-squares (all BIGINT).  Pass the TRAIN fold only."""
    aggs = []
    for c in cols:
        v = value_milli(F.col(c))
        aggs += [
            F.count(v).alias(f"n_{c}"),
            F.coalesce(F.sum(v), F.lit(0)).cast("long").alias(f"s_{c}"),
            F.coalesce(F.sum(v * v), F.lit(0)).cast("long").alias(f"q_{c}"),
        ]
    return train.agg(*aggs)


def zscore_expr(c: str, decimals: int = 6) -> Column:
    """z = (v_milli − S/n) / sqrt(Q/n − (S/n)²) from the frozen integers —
    a fixed IEEE op sequence, identical cross-engine; degenerate fits
    (n = 0 or zero variance) yield 0.0 rather than NaN/±inf."""
    v = value_milli(F.col(c)).cast("double")
    # greatest(n, 1): ANSI mode raises on 0-divide even on the branch the
    # CASE discards; an empty fit lands in the n==0 arm regardless.
    n = F.greatest(F.col(f"n_{c}"), F.lit(1)).cast("double")
    mean = F.col(f"s_{c}").cast("double") / n
    var = F.col(f"q_{c}").cast("double") / n - mean * mean
    z = F.round((v - mean) / F.sqrt(var), decimals)
    return F.when((F.col(f"n_{c}") == 0) | (var <= 0), F.lit(0.0)).otherwise(z)


def standardize_transform(
    df: DataFrame, stats: DataFrame, cols: list[str], prefix: str = "z"
) -> DataFrame:
    """``df`` plus ``{prefix}_<c>`` z-score columns under the frozen stats
    (broadcast cross join of the single stats row; NULL in → NULL out)."""
    out = df.crossJoin(F.broadcast(stats))
    for c in cols:
        out = out.withColumn(f"{prefix}_{c}", zscore_expr(c))
    return out.drop(*[k for c in cols for k in (f"n_{c}", f"s_{c}", f"q_{c}")])


def one_hot(
    df: DataFrame, col: str, domain: list[str], prefix: str | None = None
) -> DataFrame:
    """Indicator columns ``{prefix}_<value>`` over the DECLARED domain plus
    ``{prefix}_other`` for anything outside it (NULL counts as other).
    Schema is a pure function of ``domain`` — never of the data."""
    p = prefix or col
    out = df
    for v in domain:
        out = out.withColumn(
            f"{p}_{v}", F.when(F.col(col) == v, F.lit(1)).otherwise(F.lit(0))
        )
    in_domain = F.col(col).isin(domain)
    out = out.withColumn(
        f"{p}_other", F.when(in_domain, F.lit(0)).otherwise(F.lit(1))
    )
    return out


def hash_bucket_onehot(
    df: DataFrame, col: str, n_buckets: int, seed: int = 11, prefix: str = "hb"
) -> DataFrame:
    """The hashing trick: indicator columns ``{prefix}_0 … {prefix}_{n−1}``
    from the portable hash of ``col`` — fixed width at ANY cardinality.
    NULL keys bucket on the ``<null>`` sentinel (deterministic, not
    dropped), matching ``sampling.split_bucket``."""
    b = F.pmod(
        portable_hash(F.coalesce(F.col(col).cast("string"), F.lit("<null>")), seed),
        F.lit(n_buckets),
    )
    out = df.withColumn("__hb", b)
    for i in range(n_buckets):
        out = out.withColumn(
            f"{prefix}_{i}", F.when(F.col("__hb") == i, F.lit(1)).otherwise(F.lit(0))
        )
    return out.drop("__hb")


def hash_cross(
    df: DataFrame,
    cols: list[str],
    n_buckets: int,
    seed: int = 13,
    out_col: str = "cross_bucket",
) -> DataFrame:
    """Hashed feature cross: one bucket index from the JOINT value of
    ``cols`` — the fixed-width stand-in for an interaction one-hot whose
    true domain (|A|×|B|×…) is unboundable.  Each component is rendered
    ``<name>=<value>`` and joined with an ASCII unit separator, so
    ``("a", "b|c")`` and ``("a|b", "c")`` cannot collide and NULL is a
    first-class category (``<null>`` sentinel, same as
    :func:`hash_bucket_onehot`).  Pure projection: no shuffle, any engine
    replays the md5 bucket exactly."""
    if len(cols) < 2:
        raise ValueError(f"hash_cross wants >= 2 columns, got {cols}")
    parts = [
        F.concat(
            F.lit(f"{c}="),
            F.coalesce(F.col(c).cast("string"), F.lit("<null>")),
        )
        for c in cols
    ]
    key = F.concat_ws("\x1f", *parts)
    return df.withColumn(out_col, F.pmod(portable_hash(key, seed), F.lit(n_buckets)))


def quantile_bins_fit(
    train: DataFrame,
    col: str,
    key_col: str,
    n_bins: int,
) -> DataFrame:
    """One-row frame of frozen bin edges ``be_<col>_1 … be_<col>_{n_bins-1}``
    — the exact type-1 lower-rank quantile ELEMENTS of ``col`` at ranks
    ``((n-1)*i) DIV n_bins + 1`` over the frame you pass (pass the TRAIN
    fold: same leakage discipline as :func:`standardize_fit`).

    Edges are selected data elements, never interpolated, so the fit is
    bit-identical on any engine for any ``n_bins`` (pure integer rank
    arithmetic; ``key_col`` breaks value ties so the selected element is
    deterministic at any parallelism).  Ranking is `profiling._rank_elements`
    over one global group — no one-task global window.  NULL values are
    excluded from the fit (they transform to NULL).
    An EMPTY fit yields a one-row frame of NULL edges; transform then maps
    everything to bin 0 (degenerate-fit convention of :func:`zscore_expr`).
    """
    if n_bins < 2:
        raise ValueError(f"n_bins must be >= 2, got {n_bins}")
    return _rank_elements(
        train.where(F.col(col).isNotNull()), [], col, key_col,
        {f"be_{col}_{i}": (i, n_bins) for i in range(1, n_bins)},
    ).drop("__n")


def quantile_bins_transform(
    df: DataFrame,
    edges: DataFrame,
    col: str,
    n_bins: int,
    out_col: str | None = None,
) -> DataFrame:
    """``df`` plus ``{out_col}`` ∈ [0, n_bins) — the count of frozen edges
    STRICTLY below the value (ties land in the lower bin), from a broadcast
    cross join of the one-row edges frame.  NULL in → NULL out; NULL edges
    (degenerate fit) contribute 0, so an empty fit maps everything to bin
    0.  Pure projection — zero shuffles."""
    out_col = out_col or f"qb_{col}"
    bin_expr: Column = F.lit(0)
    for i in range(1, n_bins):
        e = F.col(f"be_{col}_{i}")
        bin_expr = bin_expr + F.when(
            e.isNotNull() & (F.col(col) > e), F.lit(1)
        ).otherwise(F.lit(0))
    out = df.crossJoin(F.broadcast(edges)).withColumn(
        out_col,
        F.when(F.col(col).isNull(), F.lit(None).cast("int")).otherwise(
            bin_expr.cast("int")
        ),
    )
    return out.drop(*[f"be_{col}_{i}" for i in range(1, n_bins)])


def impute_fit(train: DataFrame, cols: list[str], key_col: str) -> DataFrame:
    """One-row frame of frozen median fill values ``imp_<c>`` for ``cols`` —
    fit on the frame you pass (the TRAIN fold), applied anywhere, like every
    fit in this module.

    Each value is the exact type-1 lower-rank median ELEMENT (the 2-bin
    edge of :func:`quantile_bins_fit` — integer rank arithmetic,
    deterministic at any parallelism), all columns in ONE ranking: the
    non-NULL values are stacked into ``(__c, __v, key)`` rows, ranked per
    column name, and folded back into ``imp_<c>`` in ``cols`` order, each
    cast back to its input type.  Same-typed columns rank in their own
    type; a mixed integral/floating set ranks as DOUBLE (Spark's common
    type), exact for integral values within ±2^53.  An empty or all-NULL
    fit leaves the fill value NULL (transform then keeps NULLs — nothing to
    impute FROM is a loud downstream signal, not a silent zero)."""
    stacked = _stack(train, cols, key_col).where(F.col("__v").isNotNull())
    med = _rank_elements(stacked, ["__c"], "__v", key_col, {"__med": (1, 2)})
    dtypes = {f.name: f.dataType for f in train.schema.fields}
    return med.agg(*[
        F.max(F.when(F.col("__c") == c, F.col("__med"))).cast(dtypes[c]).alias(f"imp_{c}")
        for c in cols
    ])


def impute_transform(df: DataFrame, fits: DataFrame, cols: list[str]) -> DataFrame:
    """``df`` with NULLs in ``cols`` replaced by the frozen fill values
    (broadcast cross join of the one-row fits frame).  A NULL fill value
    (degenerate fit) leaves the column untouched."""
    out = df.crossJoin(F.broadcast(fits))
    for c in cols:
        out = out.withColumn(c, F.coalesce(F.col(c), F.col(f"imp_{c}").cast("double")))
    return out.drop(*[f"imp_{c}" for c in cols])


def clip_fit(
    train: DataFrame,
    col: str,
    key_col: str,
    lo_percent: int = 1,
    hi_percent: int = 99,
) -> DataFrame:
    """One-row frame of frozen winsorization bounds ``clip_lo``/``clip_hi``
    — the exact lower-rank quantile ELEMENTS of ``col`` at the given
    integer percents (:func:`quantile_fit_elements`, so an empty fit is
    zero rows and :func:`clip_transform` raises)."""
    if not 0 <= lo_percent < hi_percent <= 100:
        raise ValueError(
            f"need 0 <= lo < hi <= 100, got lo={lo_percent} hi={hi_percent}"
        )
    return quantile_fit_elements(
        train, col, key_col, {"clip_lo": lo_percent, "clip_hi": hi_percent}
    )


def clip_transform(
    df: DataFrame, bounds: DataFrame, col: str, out_col: str | None = None
) -> DataFrame:
    """``df`` plus ``{out_col}`` = ``col`` winsorized into the frozen
    ``[clip_lo, clip_hi]`` — the standard outlier guard that, unlike
    dropping, keeps the row (its other features are still signal).  NULL in
    → NULL out; an empty-fit (no bounds row) is a loud error rather than a
    silent pass-through."""
    out_col = out_col or f"clipped_{col}"
    if bounds.count() != 1:
        raise ValueError("clip_transform needs exactly one bounds row (empty fit?)")
    # greatest/least SKIP nulls (both engines), which would clip a NULL value
    # to clip_lo — guard explicitly so NULL in → NULL out holds
    clipped = F.when(
        F.col(col).isNull(), F.lit(None).cast("double")
    ).otherwise(F.least(F.greatest(F.col(col), F.col("clip_lo")), F.col("clip_hi")))
    return (
        df.crossJoin(F.broadcast(bounds))
        .withColumn(out_col, clipped)
        .drop("clip_lo", "clip_hi")
    )


def quantile_fit_elements(
    train: DataFrame,
    col: str,
    key_col: str,
    percents: dict[str, int],
) -> DataFrame:
    """One-row frame of NAMED exact lower-rank quantile elements of ``col``
    — the shared single ranked pass behind median imputation AND
    winsorization bounds: pass ``{"imp_<col>": 50, "clip_lo": 5,
    "clip_hi": 95}``, persist the row, and feed it to both
    :func:`impute_transform` and :func:`clip_transform` (each drops only
    its own columns).  One ranking instead of one per fit — at 100 TB the
    ranked pass IS the fit cost.  The constant group makes an EMPTY fit
    zero rows, so :func:`clip_transform` raises on it."""
    return _rank_elements(
        train.where(F.col(col).isNotNull()).withColumn("__g", F.lit(0)), ["__g"], col, key_col,
        {name: (p, 100) for name, p in percents.items()},
    ).drop("__g", "__n")


def quantile_sketch_elements(
    train: DataFrame,
    col: str,
    percents: dict[str, int],
    unit: int = 1000,
) -> DataFrame:
    """One-row frame of SKETCH-based quantile estimates for ``col`` — the
    100 TB alternative to the exact rank-element fits.

    :func:`clip_fit` / :func:`impute_fit` rank every value through the keyed
    distributed prefix sum — exact, but a full shuffle of the fit column.
    This path builds the mergeable base-2 log-histogram
    (:func:`operators.sketches.loghist_sketch` — ONE map-side-combined
    aggregation, ≤ a few hundred register rows) and reads the requested
    percents off it, within 2^−3 relative error.  For a monitoring-grade
    winsorize/impute fit over a 100 TB column that tolerance is the right
    trade; the frozen artifact is identical in shape to the exact fits, so
    every downstream ``*_transform`` works unchanged.  Estimates come back
    in ``col``'s own units (milli bounds / ``unit`` — an exact
    integer-by-constant division, IEEE-identical cross-engine).
    """
    from .sketches import loghist_quantiles, loghist_sketch

    sk = loghist_sketch(train, col, [], unit=unit)
    q = loghist_quantiles(sk, percents, [])
    return q.select(*[(F.col(f"q_{n}") / unit).alias(n) for n in percents])


def clip_fit_sketch(
    train: DataFrame, col: str, lo_percent: int = 1, hi_percent: int = 99
) -> DataFrame:
    """Sketch-based winsorization bounds — drop-in for :func:`clip_fit`
    (same one-row ``clip_lo``/``clip_hi`` artifact, consumed by
    :func:`clip_transform`)."""
    if not 0 <= lo_percent < hi_percent <= 100:
        raise ValueError(f"need 0 <= lo < hi <= 100, got lo={lo_percent} hi={hi_percent}")
    return quantile_sketch_elements(train, col, {"clip_lo": lo_percent, "clip_hi": hi_percent})


def impute_fit_sketch(train: DataFrame, cols: list[str]) -> DataFrame:
    """Sketch-based median fill values — drop-in for
    :func:`impute_fit` (same one-row ``imp_<c>``
    artifact, consumed by :func:`impute_transform`).

    ONE scan of ``train`` for ALL columns: stack to ``(__c, __v)`` rows
    (the same :func:`_stack` as the exact median fit) and build every
    per-column log-histogram in a single grouped aggregation (the
    per-column loop it replaces scanned the train fold once per column).  The per-column quantile rows collapse back to the
    one-row artifact with a conditional aggregation — never a pivot
    collect, never a crossJoin chain."""
    from .sketches import LOGHIST_UNIT, loghist_quantiles, loghist_sketch

    unit = LOGHIST_UNIT
    sk = loghist_sketch(_stack(train, cols, cast="double"), "__v", ["__c"], unit=unit)
    q = loghist_quantiles(sk, {"med": 50}, ["__c"])
    return q.agg(
        *[
            (F.max(F.when(F.col("__c") == c, F.col("q_med"))) / unit).alias(f"imp_{c}")
            for c in cols
        ]
    )
