"""spark-submit entrypoint: the END-TO-END pretraining-data preparation run.

    spark-submit --py-files ipl_dagster_pipeline_spark.zip jobs/pretrain_prep.py \
        --input /root/testdata/sf0.01 --output /tmp/ipl_pretrain [--force]

One CheckpointedPipeline stage graph over the full suite — the Spark analog
of the reference's whole-asset-graph run (pipeline/__init__.py:26-58: every
asset materialized under one Definitions graph, resumable per asset).  All
12 stages are declared in one ``CheckpointedPipeline.run`` call; each names
its inputs by its parameter names, and stages whose inputs have committed
run at the same time, as the reference's multiprocess executor runs
independent assets:

    index_pairs → groups ─┐
    exact ────────────────┼→ curated → budget → mixture ─┬→ imputer ─┐
    stats → gate ─────────┘                              ├→ clips ───┼→ features
                                                         └→ scaler ──┘

Every stage is an atomic snapshot commit with a lineage row.  When a stage
fails, no new stage starts, the running ones finish their commits, and the
error is raised; a rerun resumes from every committed stage.  The
incremental dedup index's own batch-id idempotence makes the index stage
crash-safe BETWEEN its internal batches too.  ``index_pairs`` is the
longest branch, so it sets the pace of the first half of the run.

Stages:

    index_pairs  incremental MinHash-LSH near-dup index built in TWO batches
                 (the daily-cadence path, operators/dedup_index.py): verified
                 pairs across batches; a replayed batch-id is a no-op
    exact        exact-duplicate groups (md5 fingerprint, keep-min-id)
    stats        token counts + quality scores + language id + REAL-BPE token
                 counts + corpus-bigram-LM surprisal per candidate doc
    gate         Gopher-style quality flags + eval-set contamination flags
                 (k-gram hash semi-join against the held-out benchmark docs)
                 + the LM surprisal bound — flags kept as columns, kill
                 counts reportable per rule
    groups       connected components over the index's pair graph
    curated      gate-passing exact-keeper docs minus near-dup redundancy
                 (keeper re-keyed to the min SURVIVING member per component)
    budget       per-source running-total cap in REAL BPE tokens
                 (deterministic hash-order walk, distributed prefix sum)
    mixture      temperature-style source mixture via deterministic
                 fractional epochs + train/val/test hash fold + balanced
                 round-robin shuffle shards
    imputer/clips/scaler
                 frozen fits on the TRAIN fold of the doc numerics
                 (n_ws_tokens, alpha_ratio, bits_per_bigram — the LM score
                 is NULL for <2-word docs, so the imputer earns its keep)
    features     every fold transformed under the frozen fits: impute →
                 winsorize → z-score — the table a trainer reads

The benchmark (eval) split is carved deterministically from the input
(doc_id % 97 == 0) — those docs are the contamination probe set and never
enter the corpus.  Rerun = resume; --force recomputes everything.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from pyspark.sql import functions as F

from ipl_dagster_pipeline_spark.checkpoint import CheckpointedPipeline
from ipl_dagster_pipeline_spark.metrics import stage_totals
from ipl_dagster_pipeline_spark.operators.cleaning import (
    contamination_flags,
    curate_keepers,
    quality_gate,
)
from ipl_dagster_pipeline_spark.operators.dedup_index import MinHashIndex
from ipl_dagster_pipeline_spark.operators.featurize import (
    clip_fit,
    clip_transform,
    impute_fit,
    impute_transform,
    standardize_fit,
    standardize_transform,
)
from ipl_dagster_pipeline_spark.operators.graph import duplicate_groups
from ipl_dagster_pipeline_spark.operators.lm import with_bigram_surprisal
from ipl_dagster_pipeline_spark.operators.sampling import (
    hash_split,
    mixture_epochs,
    shuffle_shards,
    token_budget_select,
)
from ipl_dagster_pipeline_spark.operators.text_dedup import exact_dedup
from ipl_dagster_pipeline_spark.operators.tokenizer import with_bpe_token_counts
from ipl_dagster_pipeline_spark.operators.textstats import (
    with_lang_id,
    with_quality_scores,
    with_token_counts,
)
from ipl_dagster_pipeline_spark.session import get_spark

NUM_COLS = ["n_ws_tokens", "alpha_ratio", "bits_per_bigram"]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", default="/root/testdata/sf0.01")
    ap.add_argument("--output", default="/tmp/ipl_pretrain")
    ap.add_argument("--force", action="store_true", help="recompute all stages")
    ap.add_argument("--jaccard", type=float, default=0.5)
    ap.add_argument("--min-alpha-ratio", type=float, default=0.5)
    ap.add_argument("--max-bits-per-bigram", type=float, default=14.0,
                    help="LM gate: drop docs whose bigram cross-entropy exceeds this")
    ap.add_argument("--token-budget", type=int, default=100_000,
                    help="per-source BPE-token cap (deterministic hash-order walk)")
    ap.add_argument("--curated-epochs", type=float, default=1.0,
                    help="mixture epochs for every source (fractional ok; "
                         "sources can be weighted individually in code)")
    ap.add_argument("--shards", type=int, default=4)
    args = ap.parse_args()

    spark = get_spark(app_name="ipl-pretrain-prep")
    docs = spark.read.parquet(os.path.join(args.input, "documents.parquet"))
    # held-out eval split: contamination probe set, never enters the corpus
    benchmark = docs.filter(F.col("doc_id") % 97 == 0)
    candidates = docs.filter(F.col("doc_id") % 97 != 0)

    pipe = CheckpointedPipeline(spark, args.output, force=args.force)

    # -- incremental dedup index (two daily-cadence batches) ---------------
    def index_pairs():
        index_root = os.path.join(args.output, "_minhash_index")
        if args.force:
            # the index's own batch-id idempotence would otherwise return the
            # stale committed pairs — --force must rebuild the index as well
            import shutil

            shutil.rmtree(index_root, ignore_errors=True)
        idx = MinHashIndex(index_root, threshold=args.jaccard)
        # batch-id idempotence makes a crash between these two calls safe:
        # the rerun replays b_even as a no-op and resumes at b_odd
        idx.add_batch(candidates.filter(F.col("doc_id") % 2 == 0), "b_even")
        idx.add_batch(candidates.filter(F.col("doc_id") % 2 == 1), "b_odd")
        return idx.all_pairs(spark)

    def stats():
        s = with_lang_id(with_quality_scores(with_token_counts(candidates)))
        return with_bigram_surprisal(with_bpe_token_counts(s))

    def gate(stats):
        g = quality_gate(stats, min_alpha_ratio=args.min_alpha_ratio)
        # 30-char grams (the catalog convention): long enough that only real
        # overlap fires, not the shared small vocabulary of short snippets
        contam = contamination_flags(candidates, benchmark, k=30)  # (doc_id, contaminated)
        g = g.join(contam, "doc_id", "left").withColumn(
            "contaminated", F.coalesce(F.col("contaminated"), F.lit(False))
        )
        return g.withColumn(
            "passes_lm",
            F.col("bits_per_bigram").isNull()
            | (F.col("bits_per_bigram") <= args.max_bits_per_bigram),
        )

    def curated(gate, exact, groups):
        eligible = gate.filter(
            F.col("passes_quality") & ~F.col("contaminated") & F.col("passes_lm")
        )
        return curate_keepers(
            eligible, exact, groups, min_alpha_ratio=args.min_alpha_ratio
        )

    def budget(curated):
        return token_budget_select(
            curated, "source", "doc_id", "n_bpe_tokens",
            budgets={}, default_budget=args.token_budget,
        )

    def mixture(budget):
        mixed = mixture_epochs(
            budget, "source", "doc_id", epochs={}, default_epochs=args.curated_epochs
        )
        folded = hash_split(mixed, "doc_id", out_col="fold")
        # each (doc, epoch) copy is a distinct training example for sharding
        keyed = folded.withColumn(
            "example_id", F.concat_ws(":", F.col("doc_id").cast("string"), F.col("epoch"))
        )
        return shuffle_shards(keyed, "example_id", args.shards)

    # -- frozen fits (never refit on resume) + trainer feature table -------
    def _numeric(df):
        return df.select(
            "doc_id", "epoch", "fold", "shard",
            *[F.col(c).cast("double").alias(c) for c in NUM_COLS],
        )

    def _train(mixture):
        return _numeric(mixture.where(F.col("fold") == "train"))

    def features(mixture, imputer, clips, scaler):
        out = impute_transform(_numeric(mixture), imputer, NUM_COLS)
        out = clip_transform(out, clips, "n_ws_tokens", out_col="n_ws_tokens_winsor")
        return standardize_transform(out, scaler, NUM_COLS)

    out = pipe.run(
        index_pairs=index_pairs,
        groups=lambda index_pairs: duplicate_groups(index_pairs),
        exact=lambda: exact_dedup(candidates),
        stats=stats,
        gate=gate,
        curated=curated,
        budget=budget,
        mixture=mixture,
        imputer=lambda mixture: impute_fit(_train(mixture), NUM_COLS, "doc_id"),
        clips=lambda mixture: clip_fit(_train(mixture), "n_ws_tokens", "doc_id", 1, 99),
        scaler=lambda mixture: standardize_fit(_train(mixture), NUM_COLS),
        features=features,
    )

    totals = stage_totals(pipe.lineage_path)
    stage_rows = {}
    for stage in pipe.completed_stages():
        rows, checksum = totals.get(stage, (0, 0))
        stage_rows[stage] = rows
        print(f"stage={stage} rows={rows} checksum={checksum}")
    folds = {r["fold"]: r["n"] for r in out["mixture"].groupBy("fold").agg(F.count("*").alias("n")).collect()}
    n_features = stage_rows["features"]
    print(f"mixture folds: {folds}")
    print(f"trainer table: {n_features} rows")

    # K4 web-asset publish: the run summary as an atomic JSON + .gz sibling
    # (the reference publishes JSON web assets from pipeline outputs,
    # resources/webasset_io_manager.py) — a dashboard reads this, not parquet
    from ipl_dagster_pipeline_spark.io import publish_web_asset

    publish_web_asset(
        os.path.join(args.output, "_webassets", "run_summary.json"),
        content={
            "stages": stage_rows,
            "mixture_folds": folds,
            "trainer_rows": n_features,
            "params": {
                "jaccard": args.jaccard,
                "token_budget": args.token_budget,
                "shards": args.shards,
                "max_bits_per_bigram": args.max_bits_per_bigram,
            },
        },
    )


if __name__ == "__main__":
    main()
