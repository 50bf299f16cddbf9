"""Feature-selection statistics: exact-integer pairwise correlation and
mutual information.

The last step before a trainer consumes an assembled feature frame
(`operators/featurize.py`) is usually PRUNING it: drop one of every highly
correlated numeric pair, drop categoricals carrying no information about
the label.  Both statistics here follow the repo's determinism contract so
they can gate on a value-hash oracle:

* **Pearson correlation** — inputs are quantized to INTEGER milli-units
  per row, so the five sufficient statistics (n, Σx, Σy, Σx², Σy², Σxy)
  are EXACT (DECIMAL(38,0): a milli value ≤10⁹ keeps every product
  < 10¹⁸/row, far inside 38 digits at any corpus size).  The final
  ``r = (n·Σxy − Σx·Σy) / sqrt((n·Σx² − Σx²)·(n·Σy² − Σy²))`` is a FIXED
  sequence of IEEE ops over those exact integers — identical on any
  engine — rounded once at 6 dp.  Zero-variance columns yield r = 0.0.
* **Mutual information** — contingency counts are exact integers; each
  cell's ``ln(c_xy·n / (c_x·c_y))`` is quantized to INTEGER milli-nats
  and multiplied by the exact cell count BEFORE summation (the
  `operators/lm.py` trick), so the reduction is order-independent and
  bit-identical cross-engine.  ``mi = Σ(c_xy·mnats) / (1000·n)`` nats,
  rounded at 6 dp.

Scale shape: correlation is ONE global map-side-combined aggregation over
pure projections — no key shuffle, output is p·(p−1)/2 literal rows.
MI is one hash aggregation on the (x, y) cell key (cells, not rows, reach
the reducers) plus two broadcast-sized marginal frames joined back on the
cell frame — NULL is a first-class category throughout (eqNullSafe /
IS NOT DISTINCT FROM).
"""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ipl_dagster_pipeline_spark.operators.featurize import value_milli

DEC = "decimal(38,0)"


def pairwise_correlations(df: DataFrame, cols: list[str]) -> DataFrame:
    """One row per unordered column pair: ``col_a``, ``col_b``, ``n_pair``
    (rows where BOTH are non-NULL — pairwise deletion) and ``r`` (Pearson
    correlation of the milli-quantized values, 6 dp; 0.0 for degenerate
    pairs).  One global aggregation; the pair explosion is a literal
    ``p·(p−1)/2``-row projection of the single stats row."""
    if len(cols) < 2:
        raise ValueError(f"pairwise_correlations wants >= 2 columns, got {cols}")
    pairs = list(combinations(cols, 2))
    aggs = []
    for a, b in pairs:
        va, vb = value_milli(F.col(a)), value_milli(F.col(b))
        both = va.isNotNull() & vb.isNotNull()
        xa = F.when(both, va).cast(DEC)
        xb = F.when(both, vb).cast(DEC)
        tag = f"{a}__{b}"
        aggs += [
            F.count(F.when(both, F.lit(1))).cast("long").alias(f"n_{tag}"),
            F.coalesce(F.sum(xa), F.lit(0).cast(DEC)).alias(f"sx_{tag}"),
            F.coalesce(F.sum(xb), F.lit(0).cast(DEC)).alias(f"sy_{tag}"),
            F.coalesce(F.sum(xa * xa), F.lit(0).cast(DEC)).alias(f"sxx_{tag}"),
            F.coalesce(F.sum(xb * xb), F.lit(0).cast(DEC)).alias(f"syy_{tag}"),
            F.coalesce(F.sum(xa * xb), F.lit(0).cast(DEC)).alias(f"sxy_{tag}"),
        ]
    stats = df.agg(*aggs)
    rows = []
    for a, b in pairs:
        tag = f"{a}__{b}"
        n = F.col(f"n_{tag}").cast(DEC)
        num = (n * F.col(f"sxy_{tag}") - F.col(f"sx_{tag}") * F.col(f"sy_{tag}")).cast(
            "double"
        )
        d1 = (n * F.col(f"sxx_{tag}") - F.col(f"sx_{tag}") * F.col(f"sx_{tag}")).cast(
            "double"
        )
        d2 = (n * F.col(f"syy_{tag}") - F.col(f"sy_{tag}") * F.col(f"sy_{tag}")).cast(
            "double"
        )
        r = F.when((d1 <= 0) | (d2 <= 0), F.lit(0.0)).otherwise(
            F.round(num / F.sqrt(d1 * d2), 6)
        )
        rows.append(
            F.struct(
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                F.col(f"n_{tag}").alias("n_pair"),
                r.alias("r"),
            )
        )
    return stats.select(F.explode(F.array(*rows)).alias("p")).select("p.*")


def mutual_information(
    df: DataFrame, x_col: str, y_col: str
) -> DataFrame:
    """One row: ``n_rows`` (BIGINT), ``mi_mnats_scaled`` (BIGINT — the
    exact, order-independent Σ c_xy·round(1000·ln(c_xy·n/(c_x·c_y))),
    the determinism anchor) and ``mi`` (= scaled / (1000·n), 6 dp, nats).
    NULL values in either column form real categories.  An empty frame
    yields one row of zeros.

    The input is scanned ONCE: the contingency cells are persisted and the
    total and both marginals derive from that (cells-sized, broadcast-small)
    frame, never from a second pass over the data."""
    from ipl_dagster_pipeline_spark.caching import tracked_persist

    cells = tracked_persist(
        df.groupBy(x_col, y_col).agg(F.count(F.lit(1)).alias("c_xy"))
    )
    mx = cells.groupBy(x_col).agg(F.sum("c_xy").alias("c_x"))
    my = cells.groupBy(y_col).agg(F.sum("c_xy").alias("c_y"))
    n = cells.agg(F.coalesce(F.sum("c_xy"), F.lit(0))).collect()[0][0]
    if n == 0:
        return df.sparkSession.createDataFrame(
            [(0, 0, 0.0)], "n_rows long, mi_mnats_scaled long, mi double"
        )
    j = cells.join(
        F.broadcast(mx.withColumnRenamed(x_col, "__mx")),
        on=cells[x_col].eqNullSafe(F.col("__mx")),
    ).join(
        F.broadcast(my.withColumnRenamed(y_col, "__my")),
        on=cells[y_col].eqNullSafe(F.col("__my")),
    )
    mnats = F.round(
        F.log(
            (F.col("c_xy").cast("double") * F.lit(float(n)))
            / (F.col("c_x").cast("double") * F.col("c_y").cast("double"))
        )
        * 1000
    ).cast("long")
    agg = j.agg(
        F.coalesce(F.sum(F.col("c_xy") * mnats), F.lit(0)).cast("long").alias(
            "mi_mnats_scaled"
        )
    )
    return agg.select(
        F.lit(n).cast("long").alias("n_rows"),
        "mi_mnats_scaled",
        F.round(F.col("mi_mnats_scaled").cast("double") / F.lit(1000.0 * n), 6).alias(
            "mi"
        ),
    )


def feature_psi(
    expected: DataFrame,
    actual: DataFrame,
    col: str,
    key_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Population Stability Index terms of ``col`` between an EXPECTED frame
    (the train fold / reference window) and an ACTUAL frame (the serving
    window) — the standard production monitor for "did this feature's
    distribution move?".

    One row per bin: ``bin`` (−1 = NULL values — missingness drift is
    drift), exact counts ``n_exp``/``n_act``, exact integer ppm fractions
    (floored at 1 ppm so empty bins stay finite — the conventional PSI
    epsilon, made deterministic), and ``psi_term_scaled`` =
    ``(e_ppm − a_ppm) · round(1000·ln(e_ppm/a_ppm))`` — an exact BIGINT, so
    ``PSI = Σ psi_term_scaled / 10⁹`` is order-independent and
    bit-identical cross-engine.

    Bins are the frozen-edge quantile bins FIT ON EXPECTED ONLY
    (`featurize.quantile_bins_fit` — exact type-1 rank elements), so the
    reference's own distribution is ~uniform across bins and the index
    reacts to the actual frame's movement.  Scale shape: one ranked pass
    over expected for the edges, then pure-projection binning + one
    bin-key aggregation per side (bins, not rows, reach the join)."""
    from ipl_dagster_pipeline_spark.caching import tracked_persist
    from ipl_dagster_pipeline_spark.operators.featurize import (
        quantile_bins_fit,
        quantile_bins_transform,
    )

    # persist the one-row edges artifact: BOTH bin_counts sides cross-join
    # it, and unpersisted each side re-ran the whole ranked fit pass (r7)
    edges = tracked_persist(quantile_bins_fit(expected, col, key_col, n_bins))

    def bin_counts(df: DataFrame, out: str) -> DataFrame:
        binned = quantile_bins_transform(df, edges, col, n_bins, out_col="__qb")
        return (
            binned.select(F.coalesce(F.col("__qb"), F.lit(-1)).alias("bin"))
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias(out))
        )

    ce = bin_counts(expected, "n_exp")
    ca = bin_counts(actual, "n_act")
    j = (
        ce.join(ca, "bin", "full_outer")
        .withColumn("n_exp", F.coalesce(F.col("n_exp"), F.lit(0)).cast("long"))
        .withColumn("n_act", F.coalesce(F.col("n_act"), F.lit(0)).cast("long"))
    )
    te = ce.agg(F.coalesce(F.sum("n_exp"), F.lit(0)).alias("__te"))
    ta = ca.agg(F.coalesce(F.sum("n_act"), F.lit(0)).alias("__ta"))
    j = j.crossJoin(F.broadcast(te)).crossJoin(F.broadcast(ta))
    e_ppm = F.greatest(
        F.expr("CAST((n_exp * 1000000) DIV greatest(__te, 1) AS BIGINT)"), F.lit(1)
    )
    a_ppm = F.greatest(
        F.expr("CAST((n_act * 1000000) DIV greatest(__ta, 1) AS BIGINT)"), F.lit(1)
    )
    j = j.withColumn("e_ppm", e_ppm).withColumn("a_ppm", a_ppm)
    mnats = F.round(
        F.log(F.col("e_ppm").cast("double") / F.col("a_ppm").cast("double")) * 1000
    ).cast("long")
    return j.select(
        F.col("bin").cast("int").alias("bin"),
        "n_exp",
        "n_act",
        "e_ppm",
        "a_ppm",
        ((F.col("e_ppm") - F.col("a_ppm")) * mnats).cast("long").alias("psi_term_scaled"),
    )
