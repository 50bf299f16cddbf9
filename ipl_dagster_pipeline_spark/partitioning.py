"""Explicit partitioning + skew handling (SURVEY §4 "physical strategies").

Spark's AQE handles post-shuffle skew splitting; these helpers add the
three things AQE cannot do:

* **hot-key detection** before an aggregation/window (sampled count — the
  plan-time analog of AQE's runtime stats),
* **salted two-phase aggregation** for hot keys: partial aggregate per
  (key, salt), then final merge — the classic map-side-combine rewrite, and
* **capped buckets** for equi self-joins (``capped_buckets``: a bucket of
  B rows emits B² pairs; the dropped row count is observable) — every LSH
  candidate join and n-gram inverted index caps through it.

Windows/sessionization over conv_id cannot be salted (they need the whole
conversation in order); for those, skew is bounded because conversations are
bounded.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .caching import tracked_persist
from .metrics import register_observation


def detect_hot_keys(
    df: DataFrame,
    key: str = "conv_id",
    sample_fraction: float = 0.01,
    hot_multiplier: float = 20.0,
    max_keys: int = 1000,
) -> list:
    """Sample-count keys and return those ``hot_multiplier``× above the mean.

    One cheap job over a sample (seeded — deterministic); returns at most
    ``max_keys`` key values for broadcast into `salt_hot_keys`.
    """
    sampled = df.sample(fraction=sample_fraction, seed=42) if sample_fraction < 1.0 else df
    counts = sampled.groupBy(key).count()
    stats = counts.agg(F.avg("count").alias("mean")).collect()[0]
    if stats["mean"] is None:
        return []
    cutoff = stats["mean"] * hot_multiplier
    rows = counts.filter(F.col("count") > cutoff).orderBy(F.col("count").desc()).limit(max_keys).collect()
    return [r[0] for r in rows]


def with_salt(
    df: DataFrame,
    key: str = "conv_id",
    n_salts: int = 16,
    hot_keys: list | None = None,
    salt_source: str = "turn_idx",
) -> DataFrame:
    """Add a ``salt`` column: 0 for normal keys, hash(salt_source) % n for hot
    keys — spreading each hot key over ``n_salts`` reducers."""
    if not hot_keys:
        return df.withColumn("salt", F.lit(0))
    is_hot = F.col(key).isin(list(hot_keys))
    return df.withColumn(
        "salt",
        F.when(is_hot, F.pmod(F.xxhash64(F.col(salt_source)), F.lit(n_salts)).cast("int")).otherwise(
            F.lit(0)
        ),
    )


def salted_agg(
    df: DataFrame,
    key: str,
    aggs: dict[str, Column],
    merges: dict[str, Column],
    n_salts: int = 16,
    hot_keys: list | None = None,
    salt_source: str = "turn_idx",
) -> DataFrame:
    """Two-phase aggregation with explicit salting of hot keys.

    ``aggs``   — partial aggregate exprs, keyed by output name, e.g.
                 {'cnt': F.count('*'), 'total': F.sum('x')}
    ``merges`` — final merge exprs over the partial columns, e.g.
                 {'cnt': F.sum('cnt'), 'total': F.sum('total')}

    Phase 1 groups by (key, salt) — hot keys fan out over n_salts reducers;
    phase 2 merges the ≤ n_salts partials per key (tiny).
    """
    salted = with_salt(df, key=key, n_salts=n_salts, hot_keys=hot_keys, salt_source=salt_source)
    partial = salted.groupBy(key, "salt").agg(*[e.alias(n) for n, e in aggs.items()])
    return partial.groupBy(key).agg(*[e.alias(n) for n, e in merges.items()])


def capped_buckets(
    frame: DataFrame, keys: list[str], cap: int, obs_name: str, dropped: str, total: str
) -> tuple[DataFrame, DataFrame]:
    """The two sides ``(observed, kept)`` of an equi self-join on ``keys``:
    ``frame``'s rows in buckets (``keys`` values) of at most ``cap`` rows.
    The Observation ``obs_name`` (``metrics.register_observation``) reports
    ``{dropped: rows in oversized buckets, total: all rows}`` after the
    consuming action — on the lineage row, inside a checkpointed stage.

    No separate aggregate job, anti-join or eager ``count()`` (which would
    re-run the upstream lineage mid-plan): a count window over ``keys``
    rides the shuffle the self-join needs anyway.  The SIZED frame is
    persisted (tracked) because both join sides read it and the upstream
    lineage must run once, not per side.  The count is observed ABOVE the cache on ONE branch: a
    CollectMetrics below an InMemoryRelation never reports, and one on both
    branches would collide on the observation name.

    ``dedup_index.MinHashIndex.add_batch`` keeps its own probe cap: it
    counts only the batch's ``__new`` rows of the stored ∪ new union, so
    sharing this helper would make it branch on its caller.
    """
    w = Window.partitionBy(*keys)
    sized = tracked_persist(frame.withColumn("__bsize", F.count(F.lit(1)).over(w)))
    small = F.col("__bsize") <= cap
    observed = sized.observe(
        register_observation(obs_name),
        F.sum((F.col("__bsize") > cap).cast("long")).alias(dropped),
        F.count(F.lit(1)).alias(total),
    )
    return observed.filter(small).drop("__bsize"), sized.filter(small).drop("__bsize")


_BYTE_SUFFIX = {"b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _parse_bytes(raw: str) -> int:
    """Spark byte-conf values: '134217728b', '128m', '1g', plain digits."""
    s = str(raw).strip().lower().removesuffix("b")
    mult = 1
    if s and s[-1] in _BYTE_SUFFIX:
        mult = _BYTE_SUFFIX[s[-1]]
        s = s[:-1]
    return int(s or "0") * mult or 134217728


_WIDE_OPS = (
    "Aggregate",
    "Window",
    "Join",
    "Deduplicate",
    "Distinct",
    "Repartition",
    "Sort",
    "Union",
    "InPandas",
    "InMemoryRelation",
)


def fan_out_scan(df: DataFrame, target: int | None = None) -> DataFrame:
    """Spread an under-split source across the session's cores before a
    heavy per-row map stage (shingle/k-gram explode, portable hashing,
    ``from_xml`` decode).

    A small single file — or a single parquet row group — scans as ONE
    task, so every pre-exchange map operator serializes on one core no
    matter how many the session has (r7 measurement at local[32]: the
    shingle explode ran 4× faster, the 30-gram hash probe 10×, once fanned
    out).  The repartition only fires when the plan's partition count is
    below the session's default parallelism: at real scale a large input
    already has thousands of splits and this is a NO-OP, while locally the
    round-robin exchange it adds moves only the raw source bytes (the
    guide's "fix input skew immediately after the read").  Keyless
    repartition is retry-deterministic (sortBeforeRepartition is on by
    default), and no caller's semantics depend on row order or placement.

    The probe derives the scan's split count FROM INPUT SIZE (optimizer
    statistics over ``spark.sql.files.maxPartitionBytes``) — a plan-time
    metadata call, no job, ~25 ms.  It is only consulted on NARROW plans:
    a wide plan's parallelism is already shuffle-driven (and under AQE,
    probing one would finalize/execute its stages).
    """
    spark = df.sparkSession
    target = target or spark.sparkContext.defaultParallelism
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
        if any(op in plan for op in _WIDE_OPS):
            return df
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        max_pb = _parse_bytes(spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b"))
    except Exception:  # a plan the probe cannot compile — leave as-is
        return df
    # size < target·maxPartitionBytes ⟺ the scan cannot fill `target` tasks
    return df.repartition(target) if size < target * max_pb else df


def skew_profile(df: DataFrame, key: str, top_n: int = 100) -> DataFrame:
    """The key-distribution diagnostic behind every salting/AQE decision:
    the top-``top_n`` heaviest keys with exact concentration numbers.

    Per key (descending count, key-value tie-break — fully deterministic):

    * ``cnt``        — row count (exact)
    * ``share_ppm``  — floor(cnt·1e6 / total_rows), exact integer ppm
    * ``rnk``        — 1-based heaviness rank
    * ``cum_ppm``    — floor(cumulative cnt·1e6 / total), "top-k keys own
      X% of the data" read directly off the row
    * ``hot_ratio``  — cnt / mean-per-key (= cnt·n_keys/total), 4 dp; the
      same multiplier ``detect_hot_keys`` thresholds on, here exact

    Scale shape: one map-side-combined count by key; the global sort is over
    the KEY frame (cardinality of the key, not the data) and is cut to
    ``top_n`` before the single-partition cumulative window touches it — the
    window sees ≤ top_n rows by construction.  NULL keys profile as a real
    key (they are often exactly the skew problem).
    """
    if top_n < 1:
        raise ValueError("skew_profile: top_n >= 1 required")
    counts = df.groupBy(F.col(key).alias("k")).agg(F.count(F.lit(1)).alias("cnt"))
    totals = counts.agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).alias("__total"),
        F.count(F.lit(1)).alias("__n_keys"),
    )
    top = (
        counts.orderBy(F.col("cnt").desc(), F.col("k").asc_nulls_first())
        .limit(top_n)
        .crossJoin(F.broadcast(totals))
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("k").asc_nulls_first())
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return top.select(
        F.col("k").alias(key),
        F.col("cnt").cast("long").alias("cnt"),
        F.expr("(cnt * 1000000) div __total").alias("share_ppm"),
        F.row_number().over(w).alias("rnk"),
        F.expr(
            "(sum(cnt) OVER (ORDER BY cnt DESC, k ASC NULLS FIRST "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000000) div __total"
        ).alias("cum_ppm"),
        F.round(F.col("cnt").cast("double") * F.col("__n_keys") / F.col("__total"), 4).alias(
            "hot_ratio"
        ),
    )


def morton_code(cols: list[Column], bits: int = 16) -> Column:
    """Z-order (Morton) interleave of N non-negative integer columns — the
    multi-dimensional layout key behind Iceberg/Delta Z-ordering.

    Range-partitioning on ONE column gives perfect file-level min/max
    pruning on that column and none on the others; interleaving the bits of
    several columns gives every interleaved column narrow per-file ranges,
    so a 100 TB scan with a predicate on ANY of them skips most files on
    footer statistics.  Pure integer bit arithmetic (``(x >> i & 1) <<
    (N·i + j)`` summed) — JVM-side, deterministic, and replayable in ANSI
    SQL for the value-hash oracle.  Inputs are clamped to ``[0, 2^bits)``;
    NULL in any column → NULL code (sorts last, keeping incomplete rows
    together).  ``N·bits`` must fit a BIGINT (≤ 62).
    """
    n = len(cols)
    if n * bits > 62:
        raise ValueError(f"{n} cols × {bits} bits = {n * bits} exceeds BIGINT range")
    cap = (1 << bits) - 1
    clamped = [F.least(F.greatest(c.cast("long"), F.lit(0)), F.lit(cap)) for c in cols]
    terms = []
    for i in range(bits):
        for j, c in enumerate(clamped):
            terms.append(F.shiftleft(F.shiftright(c, i).bitwiseAND(F.lit(1)), n * i + j))
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    # greatest/least SKIP NULLs on both engines (a NULL would silently clamp
    # to 0) — guard explicitly so NULL in → NULL out holds
    any_null = cols[0].isNull()
    for c in cols[1:]:
        any_null = any_null | c.isNull()
    return F.when(any_null, F.lit(None)).otherwise(out).cast("long")


def morton_sql(exprs: list[str], bits: int = 16) -> str:
    """The identical interleave as an ANSI-SQL string (oracle replay)."""
    n = len(exprs)
    clamped = [f"least(greatest(CAST({e} AS BIGINT), 0), {(1 << bits) - 1})" for e in exprs]
    terms = [
        f"((({c} >> {i}) & 1) << {n * i + j})"
        for i in range(bits)
        for j, c in enumerate(clamped)
    ]
    null_guard = " OR ".join(f"({e}) IS NULL" for e in exprs)
    return f"(CASE WHEN {null_guard} THEN NULL ELSE " + " + ".join(terms) + " END)"

