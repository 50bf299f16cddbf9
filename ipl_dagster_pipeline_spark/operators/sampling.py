"""Deterministic dataset splitting / sampling for training-data pipelines.

A training corpus needs train/val/test assignment that is (a) deterministic
across runs, engines, and cluster sizes, (b) a pure projection — no shuffle,
no RNG state, no sampleBy driver round-trip — and (c) stable under
repartitioning (``rand()`` and ``df.sample`` are neither engine-portable nor
re-run-stable).  The split key is the PORTABLE md5 hash (text_dedup.portable_
hash), so the DuckDB oracle reproduces the exact assignment bit-for-bit.

``hash_split`` buckets ``portable_hash(key) % granularity`` against cumulative
fraction boundaries; entity-keyed splits (e.g. conv_id) keep every row of an
entity in one fold — the leakage-safe way to split conversation data.

``sample_stratified`` generalizes the same construction to PER-STRATUM keep
fractions — the source-mixture-weighting step of a pretraining data recipe
(downsample an over-represented crawl source, keep all of a curated one)
with the same guarantees: pure projection, no RNG, identical sample at any
parallelism, replayable in ANSI SQL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .packing import with_keyed_cumsum
from .text_dedup import portable_hash

GRANULARITY = 10_000


def split_bucket(key: Column, seed: int = 7, granularity: int = GRANULARITY) -> Column:
    """Deterministic bucket in [0, granularity) from the portable hash.

    Null keys hash as the sentinel string ``<null>`` (not SQL-null): every
    null-keyed row lands deterministically in ONE fold instead of getting a
    null assignment that silently falls out of every split."""
    return F.pmod(
        portable_hash(F.coalesce(key.cast("string"), F.lit("<null>")), seed),
        F.lit(granularity),
    )


def hash_split(
    df: DataFrame,
    key_col: str,
    fractions: dict[str, float] | None = None,
    seed: int = 7,
    out_col: str = "split",
    granularity: int = GRANULARITY,
) -> DataFrame:
    """Assign each row to a named fold by hashing ``key_col``.

    Pure projection (codegen'd, zero shuffle); identical assignment at any
    parallelism, any engine.  Fractions must sum to 1 (validated).
    """
    fractions = fractions or {"train": 0.9, "val": 0.05, "test": 0.05}
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {total}")
    bucket = split_bucket(F.col(key_col), seed, granularity)
    expr = None
    acc = 0.0
    for name, frac in fractions.items():
        acc += frac
        bound = round(acc * granularity)
        cond = bucket < F.lit(bound)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    return df.withColumn(out_col, expr)


def sample_stratified(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    fractions: dict[str, float],
    default_fraction: float = 1.0,
    seed: int = 13,
    granularity: int = GRANULARITY,
) -> DataFrame:
    """Deterministic per-stratum sampling: keep a row iff its hash bucket is
    below its stratum's fraction boundary (source-mixture weighting).

    Unlike ``df.sampleBy`` this is a pure projection + filter: no RNG, no
    driver round-trip, the exact same rows survive at any parallelism and on
    any engine — so a mixture decision made at 100 TB is reproducible and
    auditable.  Fractions are exact to 1/granularity; strata absent from
    ``fractions`` keep ``default_fraction``.  The hash key should be the
    entity id (doc/conv), so resampling a stratum never splits an entity.
    """
    for name, frac in fractions.items():
        if not 0.0 <= frac <= 1.0:
            raise ValueError(f"fraction for stratum {name!r} must be in [0, 1], got {frac}")
    if not 0.0 <= default_fraction <= 1.0:
        raise ValueError(f"default_fraction must be in [0, 1], got {default_fraction}")
    bucket = split_bucket(F.col(key_col), seed, granularity)
    bound = F.lit(round(default_fraction * granularity))
    for name, frac in fractions.items():
        bound = F.when(F.col(strata_col) == name, F.lit(round(frac * granularity))).otherwise(bound)
    return df.filter(bucket < bound)


def sample_weighted(
    df: DataFrame,
    key_col: str,
    weight: Column,
    seed: int = 17,
    granularity: int = GRANULARITY,
) -> DataFrame:
    """Deterministic PER-ROW-weight sampling: keep a row with probability
    ``clamp(weight, 0, 1)`` — e.g. quality-score-proportional retention — by
    comparing the key's hash bucket to the row's own weight boundary.

    Same guarantees as :func:`sample_stratified` (pure projection + filter,
    no RNG, bit-identical at any parallelism/engine), generalized from a
    per-stratum constant to an arbitrary row-level weight expression.
    Monotone: raising a row's weight can only keep it kept.  The weight
    boundary is rounded to 1/granularity — keep weight expressions
    low-precision (exact in double) for cross-engine replay.
    """
    bucket = split_bucket(F.col(key_col), seed, granularity)
    w = F.least(F.greatest(weight, F.lit(0.0)), F.lit(1.0))
    bound = F.round(w * granularity).cast("long")
    return df.filter(bucket < bound)


def sample_temperature(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    alpha: float = 0.5,
    scale: float = 1.0,
    seed: int = 19,
    granularity: int = GRANULARITY,
) -> DataFrame:
    """Temperature-flattened mixture sampling: keep probability per stratum
    ∝ ``n_s^(alpha-1)``, normalized so the LARGEST stratum keeps ``scale`` —
    the standard multi-source rebalance (alpha=1 keeps proportions; alpha→0
    approaches uniform across strata; the multilingual-corpus flattening
    rule).  Upweighting beyond 1.0 clamps (this op THINS; pair with
    ``mixture_epochs`` to upsample small strata).

    Strata sizes come from one map-side-combined aggregation and broadcast
    back (strata-cardinality rows); the keep decision is
    :func:`sample_weighted`'s deterministic hash rule — pure projection +
    filter, reproducible at any parallelism.  NULL strata are real strata
    (eqNullSafe join).
    """
    if not 0.0 <= alpha <= 1.0:
        raise ValueError(f"alpha must be in [0, 1], got {alpha}")
    if not 0.0 < scale <= 1.0:
        raise ValueError(f"scale must be in (0, 1], got {scale}")
    counts = df.groupBy(F.col(strata_col).alias("__s2")).agg(F.count(F.lit(1)).alias("__n_s"))
    n_max = counts.agg(F.max("__n_s").alias("__n_max"))
    joined = (
        df.join(F.broadcast(counts), F.col(strata_col).eqNullSafe(F.col("__s2")))
        .drop("__s2")
        .crossJoin(F.broadcast(n_max))  # 1 row — a literal at scale
    )
    w = F.lit(scale) * F.pow(F.col("__n_s") / F.col("__n_max"), F.lit(alpha - 1.0))
    return sample_weighted(joined, key_col, w, seed, granularity).drop("__n_s", "__n_max")


def mixture_epochs(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    epochs: dict[str, float],
    default_epochs: float = 1.0,
    seed: int = 29,
    out_col: str = "epoch",
    granularity: int = GRANULARITY,
) -> DataFrame:
    """Mixture weighting with UPSAMPLING: repeat each row ``epochs[stratum]``
    times, where the epoch count may be fractional and greater than 1.

    The standard pretraining recipe (temperature-reweighted source mixtures)
    needs e.g. 2.3 epochs of a small curated source and 0.6 epochs of a crawl
    — in one deterministic pass: every row gets ``floor(e)`` copies plus one
    more iff its hash bucket falls below ``frac(e)``, so the EXPECTED mass is
    exact and the realized sample is bit-identical across engines, runs, and
    parallelism (no RNG).  Each copy carries an ``epoch`` index so downstream
    shuffling/packing can treat repeats as distinct examples.  Pure
    projection + explode: zero shuffle at any corpus size.
    """
    for name, e in epochs.items():
        if e < 0:
            raise ValueError(f"epochs for stratum {name!r} must be >= 0, got {e}")
    if default_epochs < 0:
        raise ValueError(f"default_epochs must be >= 0, got {default_epochs}")
    bucket = split_bucket(F.col(key_col), seed, granularity)

    def parts(e: float) -> tuple[int, int]:
        whole = int(e)
        return whole, round((e - whole) * granularity)

    dw, db = parts(default_epochs)
    whole_col, bound_col = F.lit(dw), F.lit(db)
    for name, e in epochs.items():
        w, b = parts(e)
        is_s = F.col(strata_col) == name
        whole_col = F.when(is_s, F.lit(w)).otherwise(whole_col)
        bound_col = F.when(is_s, F.lit(b)).otherwise(bound_col)
    n_copies = (whole_col + (bucket < bound_col).cast("int")).alias("__n")
    return (
        df.withColumn("__n", n_copies)
        .filter(F.col("__n") > 0)
        .withColumn(out_col, F.explode(F.sequence(F.lit(0), F.col("__n") - 1)))
        .drop("__n")
    )


def token_budget_select(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    token_col: str,
    budgets: dict[str, int],
    default_budget: int | None = None,
    seed: int = 31,
    cum_col: str = "cum_tokens",
    n_partitions: int | None = None,
) -> DataFrame:
    """Select a deterministic ≈``budget``-token subset per stratum: walk each
    stratum's rows in portable-hash order (a deterministic shuffle) and keep
    rows while the running token total stays within the stratum's budget.

    This is the "give me 50B tokens of crawl, 5B of code" step of a data
    recipe.  The running total is the hard part at scale: a naive
    ``Window.partitionBy(source)`` plans ONE task per source — a dominant
    source becomes a single straggler owning most of the corpus.  Uses the
    keyed two-phase distributed prefix sum instead (`with_keyed_cumsum`):
    per-(stratum, partition) local sums + a broadcast offset join, so skew in
    the stratum histogram never concentrates work.  Strata absent from
    ``budgets`` keep ``default_budget`` tokens (None = unlimited).
    """
    h = portable_hash(F.coalesce(F.col(key_col).cast("string"), F.lit("<null>")), seed)
    cum = with_keyed_cumsum(
        df.withColumn("__h", h),
        group_cols=[strata_col],
        order_cols=["__h", key_col],
        value_col=token_col,
        out_col=cum_col,
        n_partitions=n_partitions,
    )
    bound = F.lit(None).cast("long") if default_budget is None else F.lit(int(default_budget))
    for name, b in budgets.items():
        bound = F.when(F.col(strata_col) == name, F.lit(int(b))).otherwise(bound)
    return cum.filter(bound.isNull() | (F.col(cum_col) <= bound)).drop("__h")


def shuffle_shards(
    df: DataFrame,
    key_col: str,
    n_shards: int,
    seed: int = 37,
    pos_col: str = "shuffle_pos",
    shard_col: str = "shard",
    n_partitions: int | None = None,
) -> DataFrame:
    """Deterministic global corpus shuffle + balanced shard assignment.

    Training wants the corpus in a pseudo-random order, split into N
    equal-size shards, reproducibly.  Hash order IS the shuffle; the global
    position needs a corpus-wide row number, which a bare
    ``Window.orderBy(...)`` plans as a SINGLE-partition window.  Computed
    instead as a prefix sum of 1s over one global group
    (`with_keyed_cumsum` with no group columns: range partition + local row
    numbers + broadcast offsets).  ``shuffle_pos`` is
    the 0-based position in shuffled order; ``shard = pos % n_shards`` is
    round-robin, so shard sizes differ by at most one row — no
    hash-mod-imbalance.
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    h = portable_hash(F.coalesce(F.col(key_col).cast("string"), F.lit("<null>")), seed)
    pos = with_keyed_cumsum(
        df.withColumn("__h", h).withColumn("__one", F.lit(1)),
        group_cols=[],
        order_cols=["__h", key_col],
        value_col="__one",
        out_col="__rn",
        n_partitions=n_partitions,
    )
    return (
        pos.withColumn(pos_col, (F.col("__rn") - 1).cast("long"))
        .withColumn(shard_col, F.pmod(F.col(pos_col), F.lit(n_shards)).cast("int"))
        .drop("__h", "__one", "__rn")
    )


def sample_negatives(
    df: DataFrame,
    id_col: str,
    k: int,
    seed: int = 53,
    rank_col: str = "neg_rank",
    neg_prefix: str = "neg_",
    n_partitions: int | None = None,
) -> DataFrame:
    """K deterministic pseudo-random negatives per anchor row — the
    contrastive-training companion to the positive pairs the dedup family
    finds: one row per (anchor, rank 1..k) with ``{neg_prefix}{id_col}``
    drawn uniformly from the corpus by hash.

    How it scales (never an all-pairs join, never a driver-side corpus):

    1. every row gets a DENSE position 0..n−1 in hash order via the
       two-phase prefix sum over one global group (`with_keyed_cumsum` with
       no group columns — no single-partition window); the indexed frame is
       persisted and reused on both sides;
    2. each anchor expands to k candidates whose position is
       ``hash(id ':' rank) mod n`` — a pure projection;
    3. a self-collision (a row drawing itself) deterministically shifts to
       the next position (``(pos+1) mod n``), so a negative is NEVER the
       anchor;
    4. one equi-join on the dense position fetches the negative ids.

    Two ranks of one anchor may draw the same negative (standard for
    uniform negative sampling; dedupe downstream if the loss requires it).
    Identical output on any engine at any parallelism: positions are
    hash-ordered with the id as tie-break, candidates are pure hash
    arithmetic.  Requires ``n >= 2`` (raises otherwise) and distinct ids
    (duplicate ids would make "self" ambiguous).
    """
    from ipl_dagster_pipeline_spark.caching import tracked_persist

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    key = F.coalesce(F.col(id_col).cast("string"), F.lit("<null>"))
    indexed = with_keyed_cumsum(
        df.select(id_col)
        .withColumn("__h", portable_hash(key, seed))
        .withColumn("__one", F.lit(1)),
        group_cols=[],
        order_cols=["__h", id_col],
        value_col="__one",
        out_col="__rn",
        n_partitions=n_partitions,
    ).select(id_col, (F.col("__rn") - 1).cast("long").alias("__pos"))
    indexed = tracked_persist(indexed)
    n = indexed.count()
    if n < 2:
        raise ValueError(f"sample_negatives needs >= 2 rows, got {n}")
    cand = indexed.select(
        F.col(id_col),
        "__pos",
        F.explode(F.sequence(F.lit(1), F.lit(k))).alias(rank_col),
    )
    draw = F.pmod(
        portable_hash(
            F.concat(key, F.lit(":"), F.col(rank_col).cast("string")), seed
        ),
        F.lit(n),
    )
    cand = cand.withColumn(
        "__neg_pos",
        F.when(draw == F.col("__pos"), (draw + 1) % n).otherwise(draw).cast("long"),
    )
    negs = indexed.select(
        F.col("__pos").alias("__neg_pos"), F.col(id_col).alias(f"{neg_prefix}{id_col}")
    )
    return (
        cand.join(negs, "__neg_pos")
        .select(id_col, F.col(rank_col).cast("int").alias(rank_col), f"{neg_prefix}{id_col}")
    )


def sample_class_cap(
    df: DataFrame,
    class_col: str,
    cap: int,
    key_col: str,
    seed: int = 61,
    rank_col: str = "class_rank",
    n_partitions: int | None = None,
) -> DataFrame:
    """Class-balanced downsampling: keep at most ``cap`` rows per class,
    chosen as the first ``cap`` in deterministic hash order — the standard
    majority-class cap before training on skewed labels.

    The per-class rank rides the KEYED two-phase prefix sum
    (`with_keyed_cumsum`) — a dominant class (80% of the corpus) spans many
    partitions instead of serializing into one task, which is exactly the
    situation a class CAP exists for.  NULL class is a real group.  The
    kept set is stable under any parallelism AND under appends that only
    add rows hashing later (hash order is data-position-independent).
    ``rank_col`` (1-based within class) is kept for auditability.
    """
    if cap < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")
    key = F.coalesce(F.col(key_col).cast("string"), F.lit("<null>"))
    ranked = with_keyed_cumsum(
        df.withColumn("__h", portable_hash(key, seed)).withColumn("__one", F.lit(1)),
        group_cols=[class_col],
        order_cols=["__h", key_col],
        value_col="__one",
        out_col=rank_col,
        n_partitions=n_partitions,
    )
    return (
        ranked.where(F.col(rank_col) <= cap)
        .withColumn(rank_col, F.col(rank_col).cast("long"))
        .drop("__h", "__one")
    )
