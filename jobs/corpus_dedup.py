"""spark-submit entrypoint: end-to-end training-corpus curation.

    spark-submit --py-files ipl_dagster_pipeline_spark.zip jobs/corpus_dedup.py \
        --input /root/testdata/sf0.01 --output /tmp/ipl_corpus [--force]

Checkpointed stages, one ``CheckpointedPipeline.run`` graph (atomic snapshot
commit + lineage per stage; rerun = resume; ``stats``, ``exact`` and
``pairs → groups`` run at the same time, then ``curated``):

    stats      token counts + quality scores + language ID per doc
    exact      exact-dup groups (md5 fingerprint, keep-min-id)
    pairs      MinHash-LSH near-dup candidate pairs, Jaccard-verified
    groups     connected components over the pair graph → (member, keeper)
    curated    keeper docs only, quality-filtered, with a deterministic
               train/val/test fold — the publishable training corpus
    sharded    (with --shards N) deterministic global shuffle position +
               round-robin shard per doc, for balanced training shards

``--token-budget N`` caps each source at N tokens (deterministic hash-order
walk under the keyed distributed prefix sum) before the fold split;
``--bpe`` meters that budget in real merges-table BPE tokens;
``--max-bits-per-bigram X`` adds the corpus-bigram-LM quality gate.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from pyspark.sql import functions as F

from ipl_dagster_pipeline_spark.checkpoint import CheckpointedPipeline
from ipl_dagster_pipeline_spark.metrics import stage_totals
from ipl_dagster_pipeline_spark.operators.cleaning import curate_keepers
from ipl_dagster_pipeline_spark.operators.graph import duplicate_groups
from ipl_dagster_pipeline_spark.operators.sampling import (
    hash_split,
    shuffle_shards,
    token_budget_select,
)
from ipl_dagster_pipeline_spark.operators.text_dedup import exact_dedup, minhash_lsh_dedup
from ipl_dagster_pipeline_spark.operators.textstats import (
    with_lang_id,
    with_quality_scores,
    with_token_counts,
)
from ipl_dagster_pipeline_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", default="/root/testdata/sf0.01")
    ap.add_argument("--output", default="/tmp/ipl_corpus")
    ap.add_argument("--force", action="store_true", help="recompute all stages")
    ap.add_argument("--jaccard", type=float, default=0.5)
    ap.add_argument("--min-alpha-ratio", type=float, default=0.5)
    ap.add_argument("--token-budget", type=int, default=0,
                    help="per-source token cap applied before the fold split (0 = unlimited)")
    ap.add_argument("--bpe", action="store_true",
                    help="meter the token budget in REAL BPE tokens "
                         "(operators/tokenizer.py) instead of whitespace tokens")
    ap.add_argument("--max-bits-per-bigram", type=float, default=0.0,
                    help="drop docs whose corpus-bigram-LM cross-entropy exceeds this "
                         "bound (operators/lm.py; 0 = no LM gate).  High = improbable "
                         "word transitions: gibberish / mixed boilerplate")
    ap.add_argument("--shards", type=int, default=0,
                    help="emit a sharded stage with shuffle position + shard id (0 = skip)")
    args = ap.parse_args()

    spark = get_spark(app_name="ipl-corpus-dedup")
    docs = spark.read.parquet(os.path.join(args.input, "documents.parquet"))
    pipe = CheckpointedPipeline(spark, args.output, force=args.force)

    def stats():
        s = with_lang_id(with_quality_scores(with_token_counts(docs)))
        if args.bpe:
            from ipl_dagster_pipeline_spark.operators.tokenizer import with_bpe_token_counts

            s = with_bpe_token_counts(s)
        if args.max_bits_per_bigram:
            from ipl_dagster_pipeline_spark.operators.lm import with_bigram_surprisal

            s = with_bigram_surprisal(s)
        return s

    def curated(stats, exact, groups):
        # eligibility first (exact keeper + quality), then near-dup keepers
        # re-keyed to surviving members — see cleaning.curate_keepers
        kept = curate_keepers(stats, exact, groups, min_alpha_ratio=args.min_alpha_ratio)
        if args.max_bits_per_bigram:
            # LM gate: keep docs with plausible word transitions (NULL score =
            # <2 words — those pass; the length gates own that case)
            kept = kept.filter(
                F.col("bits_per_bigram").isNull()
                | (F.col("bits_per_bigram") <= args.max_bits_per_bigram)
            )
        if args.token_budget:
            kept = token_budget_select(
                kept, "source", "doc_id",
                "n_bpe_tokens" if args.bpe else "n_ws_tokens",
                budgets={}, default_budget=args.token_budget,
            )
        return hash_split(kept, "doc_id")

    stages = dict(
        stats=stats,
        exact=lambda: exact_dedup(docs),
        pairs=lambda: minhash_lsh_dedup(docs, threshold=args.jaccard),
        groups=lambda pairs: duplicate_groups(pairs),
        curated=curated,
    )
    if args.shards:
        stages["sharded"] = lambda curated: shuffle_shards(curated, "doc_id", args.shards)
    out = pipe.run(**stages)

    totals = stage_totals(pipe.lineage_path)
    for stage in pipe.completed_stages():
        rows, checksum = totals.get(stage, (0, 0))
        print(f"stage={stage} rows={rows} checksum={checksum}")
    folds = {r["split"]: r["n"] for r in out["curated"].groupBy("split").agg(F.count("*").alias("n")).collect()}
    print(f"curated corpus folds: {folds}")


if __name__ == "__main__":
    main()
