"""spark-submit entrypoint: trainer-ready feature preparation.

    spark-submit --py-files ipl_dagster_pipeline_spark.zip jobs/trainer_prep.py \
        --input /root/testdata/sf0.01 --output /tmp/ipl_trainer [--force]

The fit/transform discipline as a CHECKPOINTED pipeline: every frozen
artifact (scaler statistics, bin edges, frequency-encoding table) is its
own atomically committed stage — they are exactly what a serving system
must load to reproduce training-time features, so they are durable,
lineage-tracked snapshots, not recomputable plan fragments.  Rerun =
resume: a completed fit is never refit (which would silently move the
frozen statistics under the trainer).

Stages, one ``CheckpointedPipeline.run`` graph: ``folds`` first, then every
fit plus ``psi`` and ``corr`` at the same time, ``features`` once the five
fits have committed:

    folds     events + derived numerics (value/plen/hour) + deterministic
              hash fold (train/val/test)
    imputer   train-fold median fill values (featurize.impute_fit)
    clips     train-fold p1/p99 winsorization bounds (clip_fit)
    scaler    train-fold exact-integer milli stats (featurize.standardize_fit)
    edges     train-fold frozen quantile-bin edges (quantile_bins_fit)
    cefit     train-fold frequency-encoding table (count_encode_fit)
    features  every fold transformed under the frozen artifacts: impute →
              winsorize → z-scores, bin index, one-hot, hashed user
              buckets, count encoding — the table a trainer reads
    psi       per-numeric-column PSI terms train → test (drift monitor;
              exact milli-nat BIGINT terms)
    corr      pairwise feature correlations (exact sufficient statistics)
    balanced  (with --class-cap N) ≤N training rows per event_type in
              deterministic hash order

Every stage prints rows + order-insensitive checksum from lineage; a rerun
prints identical numbers (test_jobs.py asserts it).
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from functools import reduce

from pyspark.sql import functions as F

from ipl_dagster_pipeline_spark.checkpoint import CheckpointedPipeline
from ipl_dagster_pipeline_spark.metrics import stage_totals
from ipl_dagster_pipeline_spark.operators.encoding import (
    count_encode_fit,
    count_encode_transform,
)
from ipl_dagster_pipeline_spark.operators.featurize import (
    clip_fit,
    clip_transform,
    hash_bucket_onehot,
    impute_fit,
    impute_transform,
    one_hot,
    quantile_bins_fit,
    quantile_bins_transform,
    standardize_fit,
    standardize_transform,
)
from ipl_dagster_pipeline_spark.operators.sampling import hash_split, sample_class_cap
from ipl_dagster_pipeline_spark.operators.stats import (
    feature_psi,
    pairwise_correlations,
)
from ipl_dagster_pipeline_spark.session import get_spark

NUM_COLS = ["value", "plen", "hour"]
TYPE_DOMAIN = ["click", "error", "purchase", "signup", "view"]
N_BINS = 8
HB_BUCKETS = 8


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", default="/root/testdata/sf0.01")
    ap.add_argument("--output", default="/tmp/ipl_trainer")
    ap.add_argument("--force", action="store_true", help="recompute all stages")
    ap.add_argument("--class-cap", type=int, default=0,
                    help="cap training rows per event_type (0 = skip the stage)")
    args = ap.parse_args()

    spark = get_spark(app_name="ipl-trainer-prep")
    events = spark.read.parquet(os.path.join(args.input, "events.parquet"))
    pipe = CheckpointedPipeline(spark, args.output, force=args.force)

    def folds():
        ev = events.select(
            "event_id",
            "user_id",
            "event_type",
            F.col("value").cast("double").alias("value"),
            F.length("props").cast("double").alias("plen"),
            F.hour(F.col("ts").cast("timestamp")).cast("double").alias("hour"),
        )
        return hash_split(ev, "event_id", out_col="fold")

    def _train(folds):
        return folds.where(F.col("fold") == "train")

    def features(folds, imputer, clips, scaler, edges, cefit):
        out = impute_transform(folds, imputer, NUM_COLS)
        out = clip_transform(out, clips, "value", out_col="value_winsor")
        out = standardize_transform(out, scaler, NUM_COLS)
        out = quantile_bins_transform(out, edges, "value", N_BINS)
        out = one_hot(out, "event_type", TYPE_DOMAIN, prefix="oh")
        out = hash_bucket_onehot(out, "user_id", HB_BUCKETS)
        out = count_encode_transform(out, cefit, "event_type")
        return out

    def psi(folds):
        test = folds.where(F.col("fold") == "test")
        parts = [
            feature_psi(_train(folds), test, c, "event_id", n_bins=N_BINS)
            .withColumn("feature", F.lit(c))
            for c in NUM_COLS
        ]
        return reduce(lambda a, b: a.unionByName(b), parts)

    stages = dict(
        folds=folds,
        imputer=lambda folds: impute_fit(_train(folds), NUM_COLS, "event_id"),
        clips=lambda folds: clip_fit(_train(folds), "value", "event_id", 1, 99),
        scaler=lambda folds: standardize_fit(_train(folds), NUM_COLS),
        edges=lambda folds: quantile_bins_fit(_train(folds), "value", "event_id", N_BINS),
        cefit=lambda folds: count_encode_fit(_train(folds), "event_type"),
        features=features,
        psi=psi,
        corr=lambda folds: pairwise_correlations(folds, NUM_COLS),
    )
    if args.class_cap:
        stages["balanced"] = lambda folds: sample_class_cap(
            _train(folds), "event_type", args.class_cap, "event_id"
        )
    out = pipe.run(**stages)

    totals = stage_totals(pipe.lineage_path)
    for stage in pipe.completed_stages():
        rows, checksum = totals.get(stage, (0, 0))
        print(f"stage={stage} rows={rows} checksum={checksum}")
    worst = (
        out["psi"].groupBy("feature")
        .agg((F.sum("psi_term_scaled") / F.lit(1e9)).alias("psi"))
        .orderBy(F.desc("psi"))
        .collect()
    )
    print("psi by feature:", {r["feature"]: round(r["psi"], 6) for r in worst})
    n_feat = len([c for c in out["features"].columns if c not in ("event_id", "user_id", "event_type", "fold")])
    print(f"feature table: {totals['features'][0]} rows x {n_feat} feature cols")


if __name__ == "__main__":
    main()
