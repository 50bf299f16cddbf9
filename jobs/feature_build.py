"""spark-submit entrypoint: end-to-end checkpointed feature build.

    spark-submit --py-files ipl_dagster_pipeline_spark.zip jobs/feature_build.py \
        --input /root/testdata/sf0.1 --output /tmp/ipl_out [--resume]

Stages, one ``CheckpointedPipeline.run`` graph (each an atomic snapshot
commit + lineage append; ``convert`` and ``tool_dim`` run at the same time; a
rerun resumes from the last committed stage — kill it mid-run and start again
to see):

    convert   events parquet → transcripts (schema-enforced)
    tool_dim  dim snapshots
    features  as-of join + lag/rolling/backfill + sessionize (PIT-correct)
    sessions  per-session rollup
    publish   day-partitioned parquet (idempotent dynamic partition overwrite)
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from ipl_dagster_pipeline_spark.checkpoint import CheckpointedPipeline
from ipl_dagster_pipeline_spark.io import write_day_partitioned
from ipl_dagster_pipeline_spark.metrics import stage_totals
from ipl_dagster_pipeline_spark.plans.features import build_session_features, build_turn_features
from ipl_dagster_pipeline_spark.session import get_spark
from ipl_dagster_pipeline_spark.sources.transcripts import (
    tool_dim_from_events,
    transcripts_from_events,
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", default="/root/testdata/sf0.01")
    ap.add_argument("--output", default="/tmp/ipl_feature_build")
    ap.add_argument("--force", action="store_true", help="recompute all stages")
    ap.add_argument("--gap-seconds", type=int, default=1800)
    args = ap.parse_args()

    spark = get_spark(app_name="ipl-feature-build")
    pipe = CheckpointedPipeline(spark, args.output, force=args.force)

    out = pipe.run(
        convert=lambda: transcripts_from_events(spark, args.input),
        tool_dim=lambda: tool_dim_from_events(spark, args.input),
        features=lambda convert, tool_dim: build_turn_features(
            convert, tool_dim, gap_seconds=args.gap_seconds
        ),
        sessions=lambda features: build_session_features(features),
    )

    publish_dir = os.path.join(args.output, "publish")
    write_day_partitioned(out["features"], publish_dir)

    totals = stage_totals(pipe.lineage_path)
    for stage in pipe.completed_stages():
        rows, checksum = totals.get(stage, (0, 0))
        print(f"stage={stage} rows={rows} checksum={checksum}")
    print(f"published → {publish_dir}")


if __name__ == "__main__":
    main()
