"""Feature queries over events: encodings, binning, vectors, decay, sketches, statistics, fits."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ipl_dagster_pipeline_spark.catalog.common import CatalogEntry, _duck_hash, _read
from ipl_dagster_pipeline_spark.catalog.sampling import _SPLIT_FRACS
from ipl_dagster_pipeline_spark.operators.chunking import chunk_token_windows
from ipl_dagster_pipeline_spark.operators.decay import decay_weights, with_decayed_counts
from ipl_dagster_pipeline_spark.operators.encoding import (
    TE_SMOOTHING,
    count_encode_fit,
    count_encode_transform,
    target_encode_pit,
)
from ipl_dagster_pipeline_spark.operators.featurize import (
    CROSS_SEED,
    HASH_ONEHOT_SEED,
    clip_fit_sketch,
    clip_transform,
    hash_bucket_onehot,
    hash_cross,
    impute_fit_sketch,
    impute_transform,
    one_hot,
    quantile_bins_fit,
    quantile_bins_transform,
    quantile_fit_elements,
    standardize_fit,
    standardize_transform,
)
from ipl_dagster_pipeline_spark.operators.sampling import CAP_SEED, hash_split, sample_class_cap
from ipl_dagster_pipeline_spark.operators.sketches import (
    CMS_D,
    CMS_ROW_OFFSET,
    CMS_SEED,
    CMS_W,
    HLL_M,
    HLL_NUMERATOR,
    HLL_SEED,
    HLL_SMALL_RANGE,
    cms_estimate,
    cms_merge,
    cms_sketch,
    hll_distinct,
    loghist_quantiles,
    loghist_sketch,
)
from ipl_dagster_pipeline_spark.operators.stats import (
    feature_psi,
    mutual_information,
    pairwise_correlations,
)
from ipl_dagster_pipeline_spark.operators.text_dedup import MINHASH_P
from ipl_dagster_pipeline_spark.operators.text_dedup import minhash_params as _mh_params
from ipl_dagster_pipeline_spark.operators.vectorize import tfidf_transform, vocab_fit
from ipl_dagster_pipeline_spark.operators.windows import with_rolling_quantiles
from ipl_dagster_pipeline_spark.partitioning import skew_profile


# ---------------------------------------------------------------------------
# batch 36 (round 5): leakage-safe target encoding — point-in-time expanding
# per-key label stats (strictly-earlier rows only) with empirical-Bayes
# smoothing.  The zero-temporal-leakage contract made into a feature
# operator: integer micro-unit label sums (exact, window-tree-independent),
# smoothed value derived from exact integers and rounded once at the end.
# ---------------------------------------------------------------------------


def q_event_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIT target-encode user_id by the event `value` label: each event sees
    only that user's STRICTLY earlier events (ts, event_id order) — its own
    label never feeds its own feature.  Prior = global mean of the same
    frame (backfill-over-closed-corpus mode; see operators/encoding.py for
    the live-scoring caveat)."""
    ev = _read(spark, sf_dir, "events")
    out = target_encode_pit(
        ev, key_col="user_id", label_col="value",
        order_cols=["ts", "event_id"],
    )
    return out.select("event_id", "user_id", "te_cnt", "te_sum_micro", "te_value")


SQL_TARGET_ENCODE = f"""
WITH lbl AS (
    SELECT event_id, user_id, ts,
           CAST(round(value * 1000000) AS BIGINT) AS lm
    FROM events
),
g AS (
    SELECT CAST(coalesce(sum(lm), 0) AS BIGINT) AS p_num,
           CAST(count(lm) AS BIGINT) AS p_den
    FROM lbl
),
w AS (
    SELECT event_id, user_id,
           CAST(coalesce(count(lm) OVER win, 0) AS BIGINT) AS te_cnt,
           CAST(coalesce(sum(lm) OVER win, 0) AS BIGINT) AS te_sum_micro
    FROM lbl
    WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT event_id, user_id, te_cnt, te_sum_micro,
       CAST(CAST(
           (CAST(te_sum_micro AS HUGEINT) * p_den + {TE_SMOOTHING} * CAST(p_num AS HUGEINT))
               * 1000000
           // (CAST(te_cnt + {TE_SMOOTHING} AS HUGEINT) * p_den * 1000000)
       AS BIGINT) AS DOUBLE) / 1000000.0 AS te_value
FROM w CROSS JOIN g
"""


# ---------------------------------------------------------------------------
# batch 37 (round 5): exponentially time-decayed activity features — exact
# integer decay arithmetic over a pre-aggregated (key, day) frame, exploded
# onto its contribution days and equi-joined back (never a per-row range
# self-join).  The decay curve is a Python-materialized integer literal
# table shared verbatim by the Spark plan and the oracle SQL.
# ---------------------------------------------------------------------------

_DK_HL, _DK_H, _DK_BITS = 7.0, 28, 16
_DK_WT = decay_weights(_DK_HL, _DK_H, _DK_BITS)


def q_event_decayed_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event recency-weighted user activity (half-life 7 d, horizon 28 d)
    over strictly-past days; NULL user stratum injected so the null-safe
    join-back is exercised by the value hash."""
    ev = _read(spark, sf_dir, "events").withColumn(
        "user_id",
        F.when(F.col("event_id") % 13 == 0, F.lit(None).cast("long")).otherwise(
            F.col("user_id")
        ),
    )
    out = with_decayed_counts(
        ev, "user_id", value_col="value",
        half_life_days=_DK_HL, horizon_days=_DK_H, scale_bits=_DK_BITS,
    )
    return out.select(
        "event_id", "user_id", "decayed_cnt_q", "decayed_cnt", "decayed_sum_q", "decayed_sum"
    )


_DK_WT_VALUES = ", ".join(f"({d}, {w})" for d, w in _DK_WT)
_DK_SCALE = 1 << _DK_BITS

SQL_DECAYED_FEATURES = f"""
WITH e AS (
    SELECT event_id,
           CASE WHEN event_id % 13 = 0 THEN NULL ELSE user_id END AS user_id,
           CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
           value
    FROM events
),
a AS (
    SELECT user_id, day, count(*) AS c,
           CAST(coalesce(sum(CAST(round(value * 1000000) AS BIGINT)), 0) AS BIGINT) AS s
    FROM e GROUP BY 1, 2
),
wt(delta, w) AS (VALUES {_DK_WT_VALUES}),
x AS (
    SELECT user_id, day + delta AS day,
           CAST(w AS HUGEINT) * c AS wc, CAST(w AS HUGEINT) * s AS ws
    FROM a CROSS JOIN wt
),
dec AS (SELECT user_id, day, sum(wc) AS qc, sum(ws) AS qs FROM x GROUP BY 1, 2)
SELECT e.event_id, e.user_id,
       CAST(coalesce(qc, 0) AS BIGINT) AS decayed_cnt_q,
       round(CAST(coalesce(qc, 0) AS BIGINT) / {_DK_SCALE}.0, 6) AS decayed_cnt,
       CAST(coalesce(qs, 0) AS BIGINT) AS decayed_sum_q,
       round(CAST(coalesce(qs, 0) AS BIGINT) / ({_DK_SCALE}.0 * 1000000.0), 6) AS decayed_sum
FROM e LEFT JOIN dec
  ON e.user_id IS NOT DISTINCT FROM dec.user_id AND e.day = dec.day
"""


# ---------------------------------------------------------------------------
# batch 38 (round 5): deterministic HyperLogLog distinct sketch — portable
# 60-bit-hash registers replayed bucket-by-bucket in the oracle (the
# approx_count_distinct capability, made engine-portable and mergeable);
# exact COUNT DISTINCT alongside for error visibility.
# ---------------------------------------------------------------------------


def q_event_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type: HLL estimate (64 buckets) + exact —
    the register frame is ≤ 64 rows per group however large the input."""
    ev = _read(spark, sf_dir, "events")
    est = hll_distinct(ev, ["event_type"], F.col("user_id")).alias("E")
    exact = (
        ev.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n_exact"))
        .alias("X")
    )
    return (
        est.join(exact, F.col("E.event_type").eqNullSafe(F.col("X.event_type")))
        .select("E.event_type", "hll_nonempty", "hll_z_scaled", "hll_est", "n_exact")
    )


SQL_HLL_USERS = f"""
WITH h AS (
    SELECT event_type,
           {_duck_hash(HLL_SEED, "CAST(user_id AS VARCHAR)")} AS h
    FROM events WHERE user_id IS NOT NULL
),
reg AS (
    SELECT event_type, h & {HLL_M - 1} AS bucket,
           max(CASE WHEN (h >> 6) = 0 THEN 55 ELSE 55 - length(bin(h >> 6)) END) AS m
    FROM h GROUP BY 1, 2
),
agg AS (
    SELECT event_type, CAST(count(*) AS BIGINT) AS hll_nonempty,
           CAST(sum(CAST(1 AS BIGINT) << (55 - m))
                + ({HLL_M} - count(*)) * (CAST(1 AS BIGINT) << 55) AS BIGINT) AS hll_z_scaled
    FROM reg GROUP BY 1
),
ex AS (
    SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
    FROM events WHERE user_id IS NOT NULL GROUP BY 1
)
SELECT agg.event_type, hll_nonempty, hll_z_scaled,
       round(CASE WHEN {HLL_NUMERATOR!r} / CAST(hll_z_scaled AS DOUBLE) <= {HLL_SMALL_RANGE!r}
                       AND {HLL_M} - hll_nonempty > 0
                  THEN {float(HLL_M)!r} * ln({float(HLL_M)!r} / ({HLL_M} - hll_nonempty))
                  ELSE {HLL_NUMERATOR!r} / CAST(hll_z_scaled AS DOUBLE) END,
             4) AS hll_est,
       n_exact
FROM agg JOIN ex ON agg.event_type IS NOT DISTINCT FROM ex.event_type
"""


# ---------------------------------------------------------------------------
# batch 41 (round 5): key-distribution skew profiler — the exact diagnostic
# behind the salting/AQE decisions (north rule: skew handled EXPLICITLY);
# global sort rides the key frame, the cumulative window sees <= top_n rows.
# ---------------------------------------------------------------------------

_SKEW_TOP_N = 50


def q_event_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 heaviest user_id keys in events with exact ppm concentration;
    a NULL-key stratum injected (null keys are OFTEN the skew problem, and
    the NULLS FIRST tie-break is the cross-engine trap this gates)."""
    ev = _read(spark, sf_dir, "events").withColumn(
        "user_id",
        F.when(F.col("event_id") % 13 == 0, F.lit(None).cast("long")).otherwise(
            F.col("user_id")
        ),
    )
    return skew_profile(ev, "user_id", top_n=_SKEW_TOP_N)


SQL_SKEW_PROFILE = f"""
WITH e AS (
    SELECT CASE WHEN event_id % 13 = 0 THEN NULL ELSE user_id END AS k FROM events
),
c AS (SELECT k, CAST(count(*) AS BIGINT) AS cnt FROM e GROUP BY 1),
t AS (
    SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) AS total,
           CAST(count(*) AS BIGINT) AS n_keys
    FROM c
),
top AS (SELECT k, cnt FROM c ORDER BY cnt DESC, k ASC NULLS FIRST LIMIT {_SKEW_TOP_N})
SELECT k AS user_id, cnt,
       (cnt * 1000000) // total AS share_ppm,
       CAST(row_number() OVER win AS INTEGER) AS rnk,
       (sum(cnt) OVER (win ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000000)
           // total AS cum_ppm,
       round(CAST(cnt AS DOUBLE) * n_keys / total, 4) AS hot_ratio
FROM top CROSS JOIN t
WINDOW win AS (ORDER BY cnt DESC, k ASC NULLS FIRST)
"""


# ---------------------------------------------------------------------------
# batch 42 (round 5): rolling interpolated quantiles (median/p25/p75 of the
# last k values per key) — Spark refuses percentile-over-frame, so the
# operator materializes the bounded frame with collect_list; the oracle
# replicates the SAME interpolation formula from a sorted list rather than
# trusting DuckDB's median() internals.
# ---------------------------------------------------------------------------

_RQ_K = 7
_RQ_PROBS = {"roll_med": 0.5, "roll_p25": 0.25, "roll_p75": 0.75}


def q_event_rolling_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _read(spark, sf_dir, "events")
    out = with_rolling_quantiles(
        ev, "value", _RQ_K, _RQ_PROBS, key="user_id", order=("ts", "event_id")
    )
    return out.select("event_id", "user_id", *_RQ_PROBS)


def _rq_sql_expr(p: float, alias: str) -> str:
    pos = f"(CAST(len(a) - 1 AS DOUBLE) * {p!r})"
    lo = f"CAST(floor({pos}) AS INTEGER)"
    frac = f"({pos} - {lo})"
    return (
        f"round(CASE WHEN len(a) = 0 THEN NULL "
        f"WHEN {frac} = 0.0 THEN a[{lo} + 1] "
        f"ELSE a[{lo} + 1] + (a[{lo} + 2] - a[{lo} + 1]) * {frac} END, 6) AS {alias}"
    )


SQL_ROLLING_QUANTILES = f"""
WITH fr AS (
    SELECT event_id, user_id,
           list_sort(list_filter(
               list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN {_RQ_K - 1} PRECEDING AND CURRENT ROW),
               x -> x IS NOT NULL)) AS a
    FROM events
)
SELECT event_id, user_id,
       {", ".join(_rq_sql_expr(p, name) for name, p in _RQ_PROBS.items())}
FROM fr
"""


# ---------------------------------------------------------------------------
# batch 43 (round 5): count-min frequency sketch — HLL's sibling for counts
# (sketches.py cms_*).  The Spark side builds TWO sketches over disjoint
# halves and SUM-merges them; the oracle builds one counter frame over the
# full input directly — equality of every probe IS the CMS merge law
# (counters are linear), replayed register-exactly in SQL.  Estimates are
# probed for the top-k exact keys and must satisfy est ≥ true (over-count
# only) — `over_cnt` makes the collision load visible per key.
# ---------------------------------------------------------------------------

_CMS_TOP = 24


def q_event_cms_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMS over event user_id occurrences: sketch two disjoint halves,
    SUM-merge, probe the top-24 exact keys.  Scale shape: each half's
    counter frame is ≤ d·w = 1024 rows (map-side combined), the merge is a
    1024-row groupBy, and the probe broadcasts the sketch — the raw events
    are scanned once per half and never shuffled by key."""
    ev = _read(spark, sf_dir, "events")
    half_a = cms_sketch(ev.where(F.col("event_id") % 2 == 0), [], F.col("user_id"))
    half_b = cms_sketch(ev.where(F.col("event_id") % 2 == 1), [], F.col("user_id"))
    sk = cms_merge(half_a, half_b)
    exact = (
        ev.where(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
    )
    top = exact.orderBy(F.col("exact_cnt").desc(), F.col("user_id")).limit(_CMS_TOP)
    est = cms_estimate(sk, top, "user_id", group_cols=[])
    return est.select(
        "user_id",
        "exact_cnt",
        "cms_est",
        (F.col("cms_est") - F.col("exact_cnt")).cast("long").alias("over_cnt"),
    ).orderBy("user_id")


def _cms_base_sql(expr: str) -> str:
    return (
        f"CAST(concat('0x', substring(md5(concat('{CMS_SEED}:', {expr})), 1, 15)) AS BIGINT)"
        f" % {MINHASH_P}"
    )


def _cms_row_sql(base: str, row: int) -> str:
    a, b = _mh_params(CMS_ROW_OFFSET + row)
    return f"(({base} * {a} + {b}) % {MINHASH_P}) % {CMS_W}"


SQL_CMS_USER_COUNTS = f"""
WITH base AS (
    SELECT {_cms_base_sql('CAST(user_id AS VARCHAR)')} AS b
    FROM events WHERE user_id IS NOT NULL
),
cells AS (
    {" UNION ALL ".join(f"SELECT {i} AS r, {_cms_row_sql('b', i)} AS c FROM base" for i in range(CMS_D))}
),
counters AS (SELECT r, c, CAST(count(*) AS BIGINT) AS cnt FROM cells GROUP BY 1, 2),
exact AS (
    SELECT user_id, CAST(count(*) AS BIGINT) AS exact_cnt,
           {_cms_base_sql('CAST(user_id AS VARCHAR)')} AS kb
    FROM events WHERE user_id IS NOT NULL GROUP BY 1
    ORDER BY exact_cnt DESC, user_id LIMIT {_CMS_TOP}
),
probe AS (
    {" UNION ALL ".join(f"SELECT user_id, exact_cnt, {i} AS r, {_cms_row_sql('kb', i)} AS c FROM exact" for i in range(CMS_D))}
),
est AS (
    SELECT p.user_id, p.exact_cnt,
           CAST(min(coalesce(t.cnt, 0)) AS BIGINT) AS cms_est
    FROM probe p LEFT JOIN counters t ON p.r = t.r AND p.c = t.c
    GROUP BY 1, 2
)
SELECT user_id, exact_cnt, cms_est,
       CAST(cms_est - exact_cnt AS BIGINT) AS over_cnt
FROM est ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# batch 44 (round 5): leakage-safe feature-vector assembly (featurize.py) —
# the scaler is FIT on the train fold only (frozen exact-integer milli
# stats), TRANSFORMED over every fold, composed with explicit-domain one-hot
# and the hashing trick.  A NULL stratum is injected into `value` so the
# gate covers NULL propagation through fit (skipped) and transform
# (NULL out).  The z-score is a fixed IEEE op sequence over exact BIGINTs —
# replayed verbatim in the oracle.
# ---------------------------------------------------------------------------

_FV_DOMAIN = ["click", "error", "purchase", "signup", "view"]
_FV_NUM = ["value", "plen", "hour"]
_FV_FRACS = {"train": 0.8, "val": 0.1, "test": 0.1}
_FV_HB = 8


def q_event_feature_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width trainer-ready feature columns from events: z-scores under
    train-fold-frozen stats, declared-domain one-hot of event_type, 8-bucket
    hashed user indicator.  Scale shape: one tiny global agg (fit) broadcast
    into pure projections — zero key shuffles."""
    ev = _read(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.when(F.col("event_id") % 17 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("value"))
        .alias("value"),
        F.length("props").cast("double").alias("plen"),
        F.hour(F.col("ts").cast("timestamp")).cast("double").alias("hour"),
    )
    ev = hash_split(ev, "event_id", fractions=_FV_FRACS, out_col="fold")
    stats = standardize_fit(ev.where(F.col("fold") == "train"), _FV_NUM)
    out = standardize_transform(ev, stats, _FV_NUM)
    out = one_hot(out, "event_type", _FV_DOMAIN, prefix="oh")
    out = hash_bucket_onehot(out, "user_id", _FV_HB)
    return out.select(
        "event_id",
        "fold",
        *[f"z_{c}" for c in _FV_NUM],
        *[f"oh_{v}" for v in _FV_DOMAIN],
        "oh_other",
        *[f"hb_{i}" for i in range(_FV_HB)],
    )


def _fv_z_sql(c: str) -> str:
    vm = f"CAST(round({c} * 1000) AS BIGINT)"
    n = f"CAST(greatest(n_{c}, 1) AS DOUBLE)"
    mean = f"(CAST(s_{c} AS DOUBLE) / {n})"
    var = f"(CAST(q_{c} AS DOUBLE) / {n} - {mean} * {mean})"
    return (
        f"CASE WHEN n_{c} = 0 OR {var} <= 0 THEN 0.0 "
        f"ELSE round((CAST({vm} AS DOUBLE) - {mean}) / sqrt({var}), 6) END AS z_{c}"
    )


SQL_FEATURE_VECTORS = f"""
WITH ev AS (
    SELECT event_id, user_id, event_type,
           CASE WHEN event_id % 17 = 0 THEN NULL ELSE value END AS value,
           CAST(length(props) AS DOUBLE) AS plen,
           CAST(hour(ts) AS DOUBLE) AS hour,
           CAST(concat('0x', substring(md5(concat('7:', CAST(event_id AS VARCHAR))), 1, 15)) AS BIGINT)
               % 10000 AS bucket
    FROM events
),
f AS (
    SELECT *, CASE WHEN bucket < 8000 THEN 'train'
                   WHEN bucket < 9000 THEN 'val'
                   ELSE 'test' END AS fold
    FROM ev
),
st AS (
    SELECT
        {", ".join(
            f"count(CAST(round({c} * 1000) AS BIGINT)) AS n_{c}, "
            f"CAST(coalesce(sum(CAST(round({c} * 1000) AS BIGINT)), 0) AS BIGINT) AS s_{c}, "
            f"CAST(coalesce(sum(CAST(round({c} * 1000) AS BIGINT) * CAST(round({c} * 1000) AS BIGINT)), 0) AS BIGINT) AS q_{c}"
            for c in _FV_NUM
        )}
    FROM f WHERE fold = 'train'
)
SELECT event_id, fold,
       {", ".join(_fv_z_sql(c) for c in _FV_NUM)},
       {", ".join(f"CASE WHEN event_type = '{v}' THEN 1 ELSE 0 END AS oh_{v}" for v in _FV_DOMAIN)},
       CASE WHEN event_type IN ({", ".join(repr(v) for v in _FV_DOMAIN)}) THEN 0 ELSE 1 END AS oh_other,
       {", ".join(
           f"CASE WHEN CAST(concat('0x', substring(md5(concat('{HASH_ONEHOT_SEED}:', coalesce(CAST(user_id AS VARCHAR), '<null>'))), 1, 15)) AS BIGINT) % {_FV_HB} = {i} THEN 1 ELSE 0 END AS hb_{i}"
           for i in range(_FV_HB)
       )}
FROM f CROSS JOIN st
"""


# ---------------------------------------------------------------------------
# batch 45 (round 5): frozen-edge quantile binning (exact type-1 rank
# elements fit on the train fold only), hashed feature crosses, and
# fixed-size overlapping token-window chunking (documents → training
# windows).  All three are pure integer/string determinism — the oracles
# replay rank selection, the md5 bucket, and the slicing arithmetic
# verbatim.  NULL strata are injected (value, text) so the gate covers the
# exclusion rules (NULL value: out of fit, NULL bin; NULL text: no chunks).
# ---------------------------------------------------------------------------

_QB_BINS = 8
_XC_BUCKETS = 16
_CHUNK, _CHUNK_OVERLAP = 32, 8


def q_event_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe discretization: 8-bin edges frozen on the train fold's
    non-null values (exact lower-rank quantile elements via the keyed
    distributed prefix-sum ranking), applied to every fold.  Scale shape:
    one ranked pass over the train fold collapsing to a single edges row,
    then a broadcast pure projection."""
    ev = _read(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("event_id") % 17 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("value"))
        .alias("value"),
    )
    ev = hash_split(ev, "event_id", fractions=_FV_FRACS, out_col="fold")
    edges = quantile_bins_fit(
        ev.where(F.col("fold") == "train"), "value", "event_id", _QB_BINS
    )
    out = quantile_bins_transform(ev, edges, "value", _QB_BINS)
    return out.select("event_id", "fold", "qb_value")


SQL_QUANTILE_BINS = f"""
WITH ev AS (
    SELECT event_id,
           CASE WHEN event_id % 17 = 0 THEN NULL ELSE value END AS value,
           CAST(concat('0x', substring(md5(concat('7:', CAST(event_id AS VARCHAR))), 1, 15)) AS BIGINT)
               % 10000 AS bucket
    FROM events
),
f AS (
    SELECT *, CASE WHEN bucket < 8000 THEN 'train'
                   WHEN bucket < 9000 THEN 'val'
                   ELSE 'test' END AS fold
    FROM ev
),
tr AS (
    SELECT value, row_number() OVER (ORDER BY value ASC, event_id ASC) AS r
    FROM f WHERE fold = 'train' AND value IS NOT NULL
),
n AS (SELECT count(*) AS c FROM tr),
edges AS (
    SELECT {", ".join(
        f"max(CASE WHEN r = ((c - 1) * {i}) // {_QB_BINS} + 1 THEN value END) AS e_{i}"
        for i in range(1, _QB_BINS)
    )}
    FROM tr CROSS JOIN n
)
SELECT event_id, fold,
       CASE WHEN value IS NULL THEN NULL ELSE CAST(
           {" + ".join(
               f"(CASE WHEN e_{i} IS NOT NULL AND value > e_{i} THEN 1 ELSE 0 END)"
               for i in range(1, _QB_BINS)
           )} AS INTEGER) END AS qb_value
FROM f CROSS JOIN edges
"""


def q_event_hash_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed interaction feature: event_type × hour-of-day folded into 16
    buckets by the portable 60-bit hash of the '<name>=<value>' rendering —
    fixed width at any joint cardinality, NULL a first-class category.
    Pure projection: zero shuffles at any scale."""
    ev = _read(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("event_id") % 19 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("event_type"))
        .alias("event_type"),
        F.hour(F.col("ts").cast("timestamp")).cast("int").alias("hour"),
    )
    return hash_cross(ev, ["event_type", "hour"], _XC_BUCKETS)


SQL_HASH_CROSS = f"""
WITH ev AS (
    SELECT event_id,
           CASE WHEN event_id % 19 = 0 THEN NULL ELSE event_type END AS event_type,
           CAST(hour(ts) AS INTEGER) AS hour
    FROM events
)
SELECT event_id, event_type, hour,
       CAST(concat('0x', substring(md5(concat('{CROSS_SEED}:',
                concat('event_type=', coalesce(event_type, '<null>')),
                chr(31),
                concat('hour=', coalesce(CAST(hour AS VARCHAR), '<null>')))), 1, 15)) AS BIGINT)
           % {_XC_BUCKETS} AS cross_bucket
FROM ev
"""


def q_doc_token_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents → fixed-size overlapping training windows (32 tokens,
    stride 24): integer start arithmetic + end-clipped slice, NULL text
    yields no windows.  One posexplode, zero shuffles."""
    docs = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 13 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return chunk_token_windows(
        docs, chunk_size=_CHUNK, overlap=_CHUNK_OVERLAP
    )


SQL_TOKEN_CHUNKS = f"""
WITH d AS (
    SELECT doc_id, string_split(text, ' ') AS toks
    FROM documents
    WHERE doc_id % 13 <> 0 AND text IS NOT NULL
),
s AS (
    SELECT doc_id, toks, len(toks) AS n,
           unnest(generate_series(1, len(toks), {_CHUNK - _CHUNK_OVERLAP})) AS start_tok
    FROM d
)
SELECT doc_id,
       CAST((start_tok - 1) // {_CHUNK - _CHUNK_OVERLAP} AS INTEGER) AS chunk_idx,
       start_tok,
       CAST(least({_CHUNK}, n - start_tok + 1) AS INTEGER) AS n_chunk_tokens,
       array_to_string(toks[start_tok : start_tok + {_CHUNK} - 1], ' ') AS chunk_text
FROM s
"""


# ---------------------------------------------------------------------------
# batch 46 (round 5): frozen-fit categorical frequency encoding and
# frozen-vocabulary sparse TF-IDF — the remaining two fit/transform
# families (featurize scales numerics; these cover categoricals and text).
# Pure-integer determinism throughout (ppm frequencies, rational integer
# IDF — no log, no float division before the final values).  NULL strata
# injected: event_type NULL is a first-class fit category; NULL text
# vectorizes to zero sparse rows.
# ---------------------------------------------------------------------------

_VOCAB_SIZE = 64


def q_event_count_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency encoding of event_type fit on the train fold only: exact
    BIGINT counts + integer ppm frequencies, joined back null-safely (NULL
    is a category; unseen-at-fit encodes as 0).  Scale shape: one map-side
    hash agg for the fit, one AQE-planned join for the transform."""
    ev = _read(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("event_id") % 19 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("event_type"))
        .alias("event_type"),
    )
    ev = hash_split(ev, "event_id", fractions=_FV_FRACS, out_col="fold")
    fit = count_encode_fit(ev.where(F.col("fold") == "train"), "event_type")
    return count_encode_transform(ev, fit, "event_type").select(
        "event_id", "fold", "event_type", "ce_cnt", "ce_ppm"
    )


SQL_COUNT_ENCODING = """
WITH ev AS (
    SELECT event_id,
           CASE WHEN event_id % 19 = 0 THEN NULL ELSE event_type END AS event_type,
           CAST(concat('0x', substring(md5(concat('7:', CAST(event_id AS VARCHAR))), 1, 15)) AS BIGINT)
               % 10000 AS bucket
    FROM events
),
f AS (
    SELECT event_id, event_type,
           CASE WHEN bucket < 8000 THEN 'train'
                WHEN bucket < 9000 THEN 'val'
                ELSE 'test' END AS fold
    FROM ev
),
fit AS (
    SELECT event_type, CAST(count(*) AS BIGINT) AS cnt
    FROM f WHERE fold = 'train' GROUP BY event_type
),
tot AS (SELECT count(*) AS total FROM f WHERE fold = 'train')
SELECT f.event_id, f.fold, f.event_type,
       CAST(coalesce(fit.cnt, 0) AS BIGINT) AS ce_cnt,
       CAST(coalesce((fit.cnt * 1000000) // tot.total, 0) AS BIGINT) AS ce_ppm
FROM f CROSS JOIN tot
LEFT JOIN fit ON f.event_type IS NOT DISTINCT FROM fit.event_type
"""


def q_doc_tfidf_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF rows under a 64-term vocabulary FROZEN on the train
    fold (df-rank with a total tie-break; global rank rides the keyed
    distributed prefix sum, never a one-task window).  Weights are the
    pure-integer rarity product — no log, bit-identical cross-engine.
    NULL-text stratum vectorizes to zero rows."""
    docs = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 13 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    docs = hash_split(docs, "doc_id", fractions=_SPLIT_FRACS, out_col="fold")
    vocab = vocab_fit(docs.where(F.col("fold") == "train"), _VOCAB_SIZE)
    return tfidf_transform(docs, vocab)


SQL_TFIDF_VECTORS = f"""
WITH d AS (
    SELECT doc_id,
           CASE WHEN doc_id % 13 = 0 THEN NULL ELSE text END AS text,
           CAST(concat('0x', substring(md5(concat('7:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
               % 10000 AS bucket
    FROM documents
),
f AS (
    SELECT doc_id, text,
           CASE WHEN bucket < 9000 THEN 'train'
                WHEN bucket < 9500 THEN 'val'
                ELSE 'test' END AS fold
    FROM d
),
tok AS (
    SELECT doc_id, term
    FROM (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS term FROM f)
    WHERE term <> ''
),
dfc AS (
    SELECT term, CAST(count(*) AS BIGINT) AS df_docs
    FROM (SELECT DISTINCT t.doc_id, t.term
          FROM tok t JOIN f ON t.doc_id = f.doc_id AND f.fold = 'train')
    GROUP BY term
),
nf AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_fit_docs FROM f WHERE fold = 'train'),
vocab AS (
    SELECT term, CAST(row_number() OVER (ORDER BY df_docs DESC, term ASC) AS INTEGER) AS term_idx,
           df_docs
    FROM dfc
    QUALIFY term_idx <= {_VOCAB_SIZE}
),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY doc_id, term)
SELECT tf.doc_id, vocab.term_idx, tf.term, tf.tf,
       CAST(tf.tf * (((nf.n_fit_docs + 1) * 1000000) // (vocab.df_docs + 1)) AS BIGINT) AS weight
FROM tf JOIN vocab USING (term) CROSS JOIN nf
"""


# ---------------------------------------------------------------------------
# batch 47 (round 5): feature-selection statistics — exact-integer pairwise
# Pearson correlation (one global agg, literal pair explosion) and
# contingency-table mutual information (milli-nat quantization before the
# sum, single input scan).  The oracles replay the exact integer sufficient
# statistics and the fixed IEEE op sequence verbatim.
# ---------------------------------------------------------------------------

_CORR_COLS = ["value", "plen", "hour"]


def q_event_feature_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson r over the assembled numeric features (milli-exact
    sufficient statistics, pairwise NULL deletion — the injected NULL value
    stratum exercises it).  ONE map-side-combined global aggregation."""
    ev = _read(spark, sf_dir, "events").select(
        F.when(F.col("event_id") % 17 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("value"))
        .alias("value"),
        F.length("props").cast("double").alias("plen"),
        F.hour(F.col("ts").cast("timestamp")).cast("double").alias("hour"),
    )
    return pairwise_correlations(ev, _CORR_COLS)


def _corr_pair_sql(a: str, b: str) -> str:
    va = f"CAST(round({a} * 1000) AS BIGINT)"
    vb = f"CAST(round({b} * 1000) AS BIGINT)"
    both = f"({a} IS NOT NULL AND {b} IS NOT NULL)"
    stats = f"""
    SELECT CAST(count(CASE WHEN {both} THEN 1 END) AS BIGINT) AS n_pair,
           CAST(coalesce(sum(CASE WHEN {both} THEN CAST({va} AS HUGEINT) END), 0) AS HUGEINT) AS sx,
           CAST(coalesce(sum(CASE WHEN {both} THEN CAST({vb} AS HUGEINT) END), 0) AS HUGEINT) AS sy,
           CAST(coalesce(sum(CASE WHEN {both} THEN CAST({va} AS HUGEINT) * CAST({va} AS HUGEINT) END), 0) AS HUGEINT) AS sxx,
           CAST(coalesce(sum(CASE WHEN {both} THEN CAST({vb} AS HUGEINT) * CAST({vb} AS HUGEINT) END), 0) AS HUGEINT) AS syy,
           CAST(coalesce(sum(CASE WHEN {both} THEN CAST({va} AS HUGEINT) * CAST({vb} AS HUGEINT) END), 0) AS HUGEINT) AS sxy
    FROM ev"""
    return f"""
SELECT '{a}' AS col_a, '{b}' AS col_b, n_pair,
       CASE WHEN CAST(n_pair AS HUGEINT) * sxx - sx * sx <= 0
              OR CAST(n_pair AS HUGEINT) * syy - sy * sy <= 0 THEN 0.0
            ELSE round(
                CAST(CAST(n_pair AS HUGEINT) * sxy - sx * sy AS DOUBLE)
                / sqrt(CAST(CAST(n_pair AS HUGEINT) * sxx - sx * sx AS DOUBLE)
                       * CAST(CAST(n_pair AS HUGEINT) * syy - sy * sy AS DOUBLE)), 6)
       END AS r
FROM ({stats})"""


SQL_FEATURE_CORRELATIONS = f"""
WITH ev AS (
    SELECT CASE WHEN event_id % 17 = 0 THEN NULL ELSE value END AS value,
           CAST(length(props) AS DOUBLE) AS plen,
           CAST(hour(ts) AS DOUBLE) AS hour
    FROM events
)
{" UNION ALL ".join(_corr_pair_sql(a, b) for a, b in [("value", "plen"), ("value", "hour"), ("plen", "hour")])}
"""


def q_event_type_hour_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between event_type (NULL stratum injected — NULL
    is a real category) and hour-of-day: exact contingency integers, cell
    surprisals quantized to milli-nats before the order-independent sum.
    One shuffle on the cell key; marginals derive from the persisted cells."""
    ev = _read(spark, sf_dir, "events").select(
        F.when(F.col("event_id") % 19 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("event_type"))
        .alias("event_type"),
        F.hour(F.col("ts").cast("timestamp")).cast("int").alias("hour"),
    )
    return mutual_information(ev, "event_type", "hour")


SQL_TYPE_HOUR_MI = """
WITH ev AS (
    SELECT CASE WHEN event_id % 19 = 0 THEN NULL ELSE event_type END AS event_type,
           CAST(hour(ts) AS INTEGER) AS hour
    FROM events
),
cells AS (
    SELECT event_type, hour, CAST(count(*) AS BIGINT) AS c_xy
    FROM ev GROUP BY event_type, hour
),
mx AS (SELECT event_type, CAST(sum(c_xy) AS BIGINT) AS c_x FROM cells GROUP BY event_type),
my AS (SELECT hour, CAST(sum(c_xy) AS BIGINT) AS c_y FROM cells GROUP BY hour),
tot AS (SELECT CAST(sum(c_xy) AS BIGINT) AS n FROM cells),
terms AS (
    SELECT c_xy * CAST(round(ln(CAST(c_xy AS DOUBLE) * CAST(n AS DOUBLE)
                                / (CAST(c_x AS DOUBLE) * CAST(c_y AS DOUBLE))) * 1000) AS BIGINT) AS t
    FROM cells
    JOIN mx ON cells.event_type IS NOT DISTINCT FROM mx.event_type
    JOIN my ON cells.hour IS NOT DISTINCT FROM my.hour
    CROSS JOIN tot
)
SELECT (SELECT n FROM tot) AS n_rows,
       CAST(coalesce(sum(t), 0) AS BIGINT) AS mi_mnats_scaled,
       round(CAST(coalesce(sum(t), 0) AS DOUBLE) / (1000.0 * (SELECT n FROM tot)), 6) AS mi
FROM terms
"""


# ---------------------------------------------------------------------------
# batch 49 (round 5): PSI feature-drift monitor — frozen-edge quantile bins
# fit on the train fold, exact ppm bin fractions with a deterministic 1-ppm
# floor, per-bin (e−a)·milli-nat terms as exact BIGINTs.  NULL values form
# the bin −1 (missingness drift is drift).  Oracle replays edges, binning,
# floors, and the milli-nat quantization verbatim.
# ---------------------------------------------------------------------------


def q_event_value_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI terms of `value` between the train fold (reference) and the test
    fold (serving stand-in), 8 frozen train-fit bins + the NULL bin.  Scale
    shape: one ranked pass for edges, pure-projection binning, bin-key aggs
    — bins, not rows, reach the final join."""
    ev = _read(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("event_id") % 17 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("value"))
        .alias("value"),
    )
    ev = hash_split(ev, "event_id", fractions=_FV_FRACS, out_col="fold")
    return feature_psi(
        ev.where(F.col("fold") == "train"),
        ev.where(F.col("fold") == "test"),
        "value",
        "event_id",
        n_bins=_QB_BINS,
    )


_PSI_BIN_EXPR = "CASE WHEN value IS NULL THEN -1 ELSE " + " + ".join(
    f"(CASE WHEN e_{i} IS NOT NULL AND value > e_{i} THEN 1 ELSE 0 END)"
    for i in range(1, 8)
) + " END"

SQL_VALUE_PSI = f"""
WITH ev AS (
    SELECT event_id,
           CASE WHEN event_id % 17 = 0 THEN NULL ELSE value END AS value,
           CAST(concat('0x', substring(md5(concat('7:', CAST(event_id AS VARCHAR))), 1, 15)) AS BIGINT)
               % 10000 AS bucket
    FROM events
),
f AS (
    SELECT *, CASE WHEN bucket < 8000 THEN 'train'
                   WHEN bucket < 9000 THEN 'val'
                   ELSE 'test' END AS fold
    FROM ev
),
tr AS (
    SELECT value, row_number() OVER (ORDER BY value ASC, event_id ASC) AS r
    FROM f WHERE fold = 'train' AND value IS NOT NULL
),
n AS (SELECT count(*) AS c FROM tr),
edges AS (
    SELECT {", ".join(
        f"max(CASE WHEN r = ((c - 1) * {i}) // 8 + 1 THEN value END) AS e_{i}"
        for i in range(1, 8)
    )}
    FROM tr CROSS JOIN n
),
be AS (SELECT {_PSI_BIN_EXPR} AS bin FROM f CROSS JOIN edges WHERE fold = 'train'),
ba AS (SELECT {_PSI_BIN_EXPR} AS bin FROM f CROSS JOIN edges WHERE fold = 'test'),
ce AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_exp FROM be GROUP BY bin),
ca AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_act FROM ba GROUP BY bin),
j AS (
    SELECT coalesce(ce.bin, ca.bin) AS bin,
           coalesce(n_exp, 0) AS n_exp, coalesce(n_act, 0) AS n_act
    FROM ce FULL OUTER JOIN ca ON ce.bin = ca.bin
),
tot AS (SELECT (SELECT coalesce(sum(n_exp), 0) FROM ce) AS te,
               (SELECT coalesce(sum(n_act), 0) FROM ca) AS ta),
ppm AS (
    SELECT bin, n_exp, n_act,
           greatest((n_exp * 1000000) // greatest(te, 1), 1) AS e_ppm,
           greatest((n_act * 1000000) // greatest(ta, 1), 1) AS a_ppm
    FROM j CROSS JOIN tot
)
SELECT CAST(bin AS INTEGER) AS bin, n_exp, n_act,
       CAST(e_ppm AS BIGINT) AS e_ppm, CAST(a_ppm AS BIGINT) AS a_ppm,
       CAST((e_ppm - a_ppm)
            * CAST(round(ln(CAST(e_ppm AS DOUBLE) / CAST(a_ppm AS DOUBLE)) * 1000) AS BIGINT)
        AS BIGINT) AS psi_term_scaled
FROM ppm
"""


# ---------------------------------------------------------------------------
# batch 50 (round 5): class-balanced downsampling — at most `cap` rows per
# class in deterministic hash order, ranked by the KEYED distributed prefix
# sum (a dominant class spans many partitions; that skew is exactly why the
# cap exists).  NULL class is a real group.  Oracle = per-class
# row_number() over the identical (hash, key) order.
# ---------------------------------------------------------------------------

_CAP_N = 300


def q_event_class_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep ≤300 events per event_type (NULL stratum is a real class) in
    deterministic hash order — majority-class capping for skewed labels."""
    ev = _read(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("event_id") % 19 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("event_type"))
        .alias("event_type"),
    )
    return sample_class_cap(ev, "event_type", _CAP_N, "event_id")


SQL_CLASS_BALANCE = f"""
WITH ev AS (
    SELECT event_id,
           CASE WHEN event_id % 19 = 0 THEN NULL ELSE event_type END AS event_type
    FROM events
),
r AS (
    SELECT event_id, event_type,
           row_number() OVER (
               PARTITION BY event_type
               ORDER BY {_duck_hash(CAP_SEED, "coalesce(CAST(event_id AS VARCHAR), '<null>')")} ASC,
                        event_id ASC) AS class_rank
    FROM ev
)
SELECT event_id, event_type, CAST(class_rank AS BIGINT) AS class_rank
FROM r WHERE class_rank <= {_CAP_N}
"""


# ---------------------------------------------------------------------------
# batch 51 (round 5): frozen-fit imputation + winsorization — median fill
# (exact lower-rank element) and p5/p95 clipping bounds fit on the TRAIN
# fold, applied to every fold.  The oracle replays both rank selections and
# the coalesce/least/greatest chain verbatim.
# ---------------------------------------------------------------------------


def q_event_imputed_clipped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Impute NULL values with the train-fold exact median element, then
    winsorize into the train-fold [p5, p95] elements — the standard
    preprocessing pair under the frozen-fit discipline.  Scale shape: two
    ranked passes over the train fold collapsing to one-row frames, then a
    broadcast pure projection."""
    ev = _read(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("event_id") % 17 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("value"))
        .alias("value"),
    )
    ev = hash_split(ev, "event_id", fractions=_FV_FRACS, out_col="fold")
    train = ev.where(F.col("fold") == "train")
    # ONE ranked pass fits the median AND both clip bounds (the ranking is
    # the fit cost); the persisted one-row frame feeds both transforms
    from ipl_dagster_pipeline_spark.caching import tracked_persist

    fit = tracked_persist(quantile_fit_elements(
        train, "value", "event_id",
        {"imp_value": 50, "clip_lo": 5, "clip_hi": 95},
    ))
    out = ev.withColumn("value_raw", F.col("value"))
    out = impute_transform(out, fit.select("imp_value"), ["value"])
    out = clip_transform(out, fit.select("clip_lo", "clip_hi"), "value", out_col="value_clip")
    return out.select(
        "event_id", "fold", "value_raw",
        F.col("value").alias("value_filled"), "value_clip",
    )


SQL_IMPUTED_CLIPPED = """
WITH ev AS (
    SELECT event_id,
           CASE WHEN event_id % 17 = 0 THEN NULL ELSE value END AS value,
           CAST(concat('0x', substring(md5(concat('7:', CAST(event_id AS VARCHAR))), 1, 15)) AS BIGINT)
               % 10000 AS bucket
    FROM events
),
f AS (
    SELECT event_id, value,
           CASE WHEN bucket < 8000 THEN 'train'
                WHEN bucket < 9000 THEN 'val'
                ELSE 'test' END AS fold
    FROM ev
),
tr AS (
    SELECT value, row_number() OVER (ORDER BY value ASC, event_id ASC) AS r
    FROM f WHERE fold = 'train' AND value IS NOT NULL
),
n AS (SELECT count(*) AS c FROM tr),
fit AS (
    SELECT max(CASE WHEN r = ((c - 1) * 1) // 2 + 1 THEN value END) AS imp,
           max(CASE WHEN r = ((c - 1) * 5) // 100 + 1 THEN value END) AS clip_lo,
           max(CASE WHEN r = ((c - 1) * 95) // 100 + 1 THEN value END) AS clip_hi
    FROM tr CROSS JOIN n
)
SELECT event_id, fold, value AS value_raw,
       coalesce(value, imp) AS value_filled,
       least(greatest(coalesce(value, imp), clip_lo), clip_hi) AS value_clip
FROM f CROSS JOIN fit
"""


# ---------------------------------------------------------------------------
# batch 52 (round 5): wide→long feature melt (unpivot) — the reshape between
# the trainer's wide feature table and the long (entity, feature, value)
# layout feature stores and monitoring systems consume.  Spark's native
# unpivot (Catalyst Expand: one pass, zero shuffles, rows × n_features
# output); the oracle is the equivalent UNION ALL.  NULLs are RETAINED
# (includeNulls) — a missing feature value is a fact the long layout must
# carry, not a dropped row.
# ---------------------------------------------------------------------------

_MELT_COLS = ["value", "plen", "hour"]


def q_event_feature_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide → long reshape of the numeric feature columns: one output row
    per (event, feature) with NULLs kept.  Pure one-pass Expand projection —
    no shuffle at any scale."""
    ev = _read(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("event_id") % 17 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("value"))
        .alias("value"),
        F.length("props").cast("double").alias("plen"),
        F.hour(F.col("ts").cast("timestamp")).cast("double").alias("hour"),
    )
    return ev.unpivot(
        ids=["event_id"],
        values=_MELT_COLS,
        variableColumnName="feature",
        valueColumnName="feature_value",
    )


SQL_FEATURE_MELT = f"""
WITH ev AS (
    SELECT event_id,
           CASE WHEN event_id % 17 = 0 THEN NULL ELSE value END AS value,
           CAST(length(props) AS DOUBLE) AS plen,
           CAST(hour(ts) AS DOUBLE) AS hour
    FROM events
)
{" UNION ALL ".join(
    f"SELECT event_id, '{c}' AS feature, {c} AS feature_value FROM ev"
    for c in _MELT_COLS
)}
"""


# ---------------------------------------------------------------------------
# batch 54 (round 6): mergeable quantile sketch — deterministic base-2
# log-histogram (operators/sketches.py).  Exact rank quantiles shuffle every
# value; the 100 TB monitoring path is a sketch whose buckets are pure
# integer functions of the value (milli-units, bitlength via bin(), shifts),
# so partials combine map-side and UNION of inputs == merge of sketches
# (tested).  Bucket math is BIGINT-only — no log()/pow() cross-engine
# edge-rounding hazard — so both the register frame and the quantile reads
# value-hash against the DuckDB replay.  Catalog-only (gate stays at 50).
# ---------------------------------------------------------------------------


def q_event_value_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch itself: (event_type, bound, cnt) — one map-side-combined
    aggregation, ≤ a few hundred rows per group at ANY input size."""
    ev = _read(spark, sf_dir, "events")
    return loghist_sketch(ev, "value", ["event_type"])


def q_event_sketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p95/p99 per event_type read off the sketch: cumulative walk over
    the tiny register frame (window over the sketch, never the data); pure
    BIGINT rank comparison 100·cum > (n−1)·p — no division anywhere."""
    ev = _read(spark, sf_dir, "events")
    sk = loghist_sketch(ev, "value", ["event_type"])
    return loghist_quantiles(sk, {"p50": 50, "p95": 95, "p99": 99}, ["event_type"])


SQL_VALUE_SKETCH = """
WITH m AS (
    SELECT event_type, CAST(floor(value * 1000) AS BIGINT) AS m
    FROM events WHERE value IS NOT NULL
),
s AS (
    SELECT event_type, m,
           greatest(length(bin(abs(m))) - 4, 0) AS sh
    FROM m
),
b AS (
    SELECT event_type,
           CASE WHEN m < 0 THEN -((abs(m) >> sh) << sh)
                ELSE (abs(m) >> sh) << sh END AS bound
    FROM s
)
SELECT event_type, bound, CAST(count(*) AS BIGINT) AS cnt
FROM b GROUP BY event_type, bound
"""

SQL_SKETCH_QUANTILES = """
WITH m AS (
    SELECT event_type, CAST(floor(value * 1000) AS BIGINT) AS m
    FROM events WHERE value IS NOT NULL
),
s AS (
    SELECT event_type, m, greatest(length(bin(abs(m))) - 4, 0) AS sh FROM m
),
sk AS (
    SELECT event_type,
           CASE WHEN m < 0 THEN -((abs(m) >> sh) << sh)
                ELSE (abs(m) >> sh) << sh END AS bound,
           CAST(count(*) AS BIGINT) AS cnt
    FROM s GROUP BY 1, 2
),
c AS (
    SELECT event_type, bound, cnt,
           sum(cnt) OVER (PARTITION BY event_type ORDER BY bound) AS cum,
           sum(cnt) OVER (PARTITION BY event_type) AS n
    FROM sk
)
SELECT event_type,
       min(CASE WHEN cum * 100 > (n - 1) * 50 THEN bound END) AS q_p50,
       min(CASE WHEN cum * 100 > (n - 1) * 95 THEN bound END) AS q_p95,
       min(CASE WHEN cum * 100 > (n - 1) * 99 THEN bound END) AS q_p99
FROM c GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# batch 58 (round 6): SKETCH-based frozen fits — the 100 TB path for the
# impute/winsorize family.  The exact fits rank every value through the
# distributed prefix sum (a full shuffle of the fit column); the sketch fits
# read median and clip bounds off the mergeable base-2 log-histogram (ONE
# map-side-combined aggregation) within 2^-3 relative error, and freeze an
# artifact of the SAME shape, so impute_transform / clip_transform work
# unchanged.  The oracle replays the full sketch: bucket math,
# division-free rank walk, and transforms.
# ---------------------------------------------------------------------------


def q_event_imputed_clipped_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-impute + p5/p95 winsorize under SKETCH-based frozen fits:
    (event_id, value_raw, value_filled, value_clip)."""
    ev = _read(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("event_id") % 17 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("value"))
        .alias("value"),
    )
    imputer = impute_fit_sketch(ev, ["value"])
    clips = clip_fit_sketch(ev, "value", 5, 95)
    out = ev.withColumn("value_raw", F.col("value"))
    out = impute_transform(out, imputer, ["value"])
    out = clip_transform(out, clips, "value", out_col="value_clip")
    return out.select("event_id", "value_raw", F.col("value").alias("value_filled"), "value_clip")


SQL_IMPUTED_CLIPPED_SKETCH = """
WITH ev AS (
    SELECT event_id,
           CASE WHEN event_id % 17 = 0 THEN NULL ELSE value END AS value
    FROM events
),
m AS (
    SELECT CAST(floor(value * 1000) AS BIGINT) AS m FROM ev
    WHERE value IS NOT NULL AND NOT isnan(value) AND NOT isinf(value)
),
s AS (SELECT m, greatest(length(bin(abs(m))) - 4, 0) AS sh FROM m),
sk AS (
    SELECT CASE WHEN m < 0 THEN -((abs(m) >> sh) << sh)
                ELSE (abs(m) >> sh) << sh END AS bound,
           CAST(count(*) AS BIGINT) AS cnt
    FROM s GROUP BY 1
),
c AS (
    SELECT bound, cnt,
           sum(cnt) OVER (ORDER BY bound) AS cum,
           sum(cnt) OVER () AS n
    FROM sk
),
fit AS (
    SELECT min(CASE WHEN cum * 100 > (n - 1) * 50 THEN bound END) / 1000 AS imp,
           min(CASE WHEN cum * 100 > (n - 1) * 5  THEN bound END) / 1000 AS clip_lo,
           min(CASE WHEN cum * 100 > (n - 1) * 95 THEN bound END) / 1000 AS clip_hi
    FROM c
)
SELECT event_id, value AS value_raw,
       coalesce(value, imp) AS value_filled,
       CASE WHEN coalesce(value, imp) IS NULL THEN NULL
            ELSE least(greatest(coalesce(value, imp), clip_lo), clip_hi) END AS value_clip
FROM ev CROSS JOIN fit
"""


CATALOG: dict[str, CatalogEntry] = {
    "event_target_encode": (q_event_target_encode, SQL_TARGET_ENCODE),
    "event_decayed_features": (q_event_decayed_features, SQL_DECAYED_FEATURES),
    "event_hll_users": (q_event_hll_users, SQL_HLL_USERS),
    "event_skew_profile": (q_event_skew_profile, SQL_SKEW_PROFILE),
    "event_rolling_quantiles": (q_event_rolling_quantiles, SQL_ROLLING_QUANTILES),
    "event_cms_user_counts": (q_event_cms_user_counts, SQL_CMS_USER_COUNTS),
    "event_feature_vectors": (q_event_feature_vectors, SQL_FEATURE_VECTORS),
    "event_quantile_bins": (q_event_quantile_bins, SQL_QUANTILE_BINS),
    "event_hash_cross": (q_event_hash_cross, SQL_HASH_CROSS),
    "doc_token_chunks": (q_doc_token_chunks, SQL_TOKEN_CHUNKS),
    "event_count_encoding": (q_event_count_encoding, SQL_COUNT_ENCODING),
    "doc_tfidf_vectors": (q_doc_tfidf_vectors, SQL_TFIDF_VECTORS),
    "event_feature_correlations": (q_event_feature_correlations, SQL_FEATURE_CORRELATIONS),
    "event_type_hour_mi": (q_event_type_hour_mi, SQL_TYPE_HOUR_MI),
    "event_value_psi": (q_event_value_psi, SQL_VALUE_PSI),
    "event_class_balance": (q_event_class_balance, SQL_CLASS_BALANCE),
    "event_imputed_clipped": (q_event_imputed_clipped, SQL_IMPUTED_CLIPPED),
    "event_feature_melt": (q_event_feature_melt, SQL_FEATURE_MELT),
    "event_value_sketch": (q_event_value_sketch, SQL_VALUE_SKETCH),
    "event_sketch_quantiles": (q_event_sketch_quantiles, SQL_SKETCH_QUANTILES),
    "event_imputed_clipped_sketch": (q_event_imputed_clipped_sketch, SQL_IMPUTED_CLIPPED_SKETCH),
}
