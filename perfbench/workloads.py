"""The benchmark's workloads.

Each workload generates its parquet inputs from the seed and scans them
once (``generate``), runs one closed-loop iteration (``iterate``), names
the package functions a traced iteration wraps (``wrap``), adds the
per-layer counts only it can see (``layer_counts``) and checks its outputs
(``checks``).  The program under test receives only the generated parquet.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from corpus import write_documents
from tracer import MB, dir_stats


def span(tracer, layer: str, name: str):
    return tracer.span(layer, name) if tracer is not None else contextlib.nullcontext()


def write_region(path: str) -> None:
    """A five-row table: ``bench.fresh_session`` warms each new context by
    scanning ``region.parquet`` in the input directory."""
    os.makedirs(path, exist_ok=True)
    names = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    pq.write_table(
        pa.table({"r_regionkey": list(range(5)), "r_name": names}),
        os.path.join(path, "region.parquet"),
    )


def digest(df, cols: list[str]) -> tuple[int, int]:
    """(rows, order-insensitive hash sum) over ``cols`` rendered as strings."""
    h = F.xxhash64(*[F.col(c).cast("string") for c in cols]).cast("decimal(38,0)")
    row = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).first()
    return int(row["n"]), int(row["h"] or 0)


class FeatureQuery:
    """The interactive read path: feature operators forced to the ``noop``
    sink, with no checkpoint, io or lineage work."""

    name = "feature_query"
    warm = True

    def __init__(self, tiny: bool) -> None:
        self.params = {
            "n_convs": 50 if tiny else 150,
            "turns_per_conv": 80,
            "hot_conv_fraction": 0.001,
            "hot_multiplier": 20,
            "tool_days": 40,
        }
        p = self.params
        self.n_hot = max(1, int(p["n_convs"] * p["hot_conv_fraction"]))
        self.rows = (p["n_convs"] - self.n_hot) * p["turns_per_conv"] + self.n_hot * p[
            "turns_per_conv"
        ] * p["hot_multiplier"]
        self.hot_keys: list = []

    def generate(self, spark, inp: str, seed: int) -> None:
        from ipl_dagster_pipeline_spark.sources.transcripts import (
            synthesize_tool_dim,
            synthesize_transcripts,
        )

        p = self.params
        synthesize_transcripts(
            spark,
            n_convs=p["n_convs"],
            turns_per_conv=p["turns_per_conv"],
            seed=seed,
            hot_conv_fraction=p["hot_conv_fraction"],
            hot_multiplier=p["hot_multiplier"],
        ).write.parquet(os.path.join(inp, "transcripts.parquet"))
        synthesize_tool_dim(spark, seed=seed, n_days=p["tool_days"]).write.parquet(
            os.path.join(inp, "tool_dim.parquet")
        )
        self.transcripts = spark.read.parquet(os.path.join(inp, "transcripts.parquet"))
        self.dim = spark.read.parquet(os.path.join(inp, "tool_dim.parquet"))
        self.transcripts.count()
        self.dim.count()

    def _calls(self):
        from ipl_dagster_pipeline_spark.operators.asof import (
            asof_join_broadcast_range,
            asof_join_cogrouped,
        )
        from ipl_dagster_pipeline_spark.operators.sessionize import (
            session_aggregates,
            sessionize,
            sessionize_grouped,
        )
        from ipl_dagster_pipeline_spark.operators.windows import with_rolling_range
        from ipl_dagster_pipeline_spark.partitioning import salted_agg

        t, dim = self.transcripts, self.dim
        return [
            ("operators.asof.broadcast_range", lambda: asof_join_broadcast_range(t, dim, key="tool")),
            ("operators.asof.cogrouped", lambda: asof_join_cogrouped(t, dim, key="tool")),
            ("operators.sessionize.window", lambda: sessionize(t)),
            ("operators.sessionize.grouped", lambda: sessionize_grouped(t)),
            (
                "operators.windows.rolling_range",
                lambda: with_rolling_range(
                    t.withColumn("text_len", F.length("text")), "text_len", 3600, "chars"
                ),
            ),
            ("operators.sessionize.aggregates", lambda: session_aggregates(sessionize(t))),
            (
                "partitioning.salted_agg",
                lambda: salted_agg(
                    t,
                    "conv_id",
                    {"turns": F.count(F.lit(1)), "chars": F.sum(F.length("text"))},
                    {"turns": F.sum("turns"), "chars": F.sum("chars")},
                    hot_keys=self.hot_keys,
                ),
            ),
        ]

    def detect_hot_keys(self) -> None:
        from ipl_dagster_pipeline_spark.partitioning import detect_hot_keys

        # 10% sample, 5x the mean: the generator's hot convs have 20x
        self.hot_keys = detect_hot_keys(
            self.transcripts, "conv_id", sample_fraction=0.1, hot_multiplier=5.0
        )

    def iterate(self, spark, out: str, tracer, force) -> None:
        with span(tracer, "job", "job.feature_query"):
            with span(tracer, "partitioning", "partitioning.detect_hot_keys"):
                self.detect_hot_keys()
            for name, build in self._calls():
                with span(tracer, name.rsplit(".", 1)[0], name):
                    df = build()
                    with span(tracer, "action", "action.force"):
                        force(df)

    def wrap(self, tracer) -> None:
        """Every call is already a span of the benchmark's own."""

    def layer_counts(self, spark, out: str) -> dict[str, float]:
        hot = {f"c{i}" for i in range(self.n_hot)}
        return {"partitioning.hot_key_recall": len(hot & set(self.hot_keys)) / len(hot)}

    def checks(self, spark, out: str, seed: int, state_dir: str) -> dict[str, bool]:
        """Each operator against its twin or a plain recount; these run
        the same operators as an iteration, so they double as the warm-up."""
        self.detect_hot_keys()
        calls = dict(self._calls())
        t = self.transcripts
        n = self.rows
        key = ["conv_id", "turn_idx", "session_id"]
        matched = ["conv_id", "turn_idx", "matched_effective_from", "tool_category", "cost_weight"]

        def matched_digest(df):
            return digest(df.filter(F.col("matched_effective_from").isNotNull()), matched)

        bcast = calls["operators.asof.broadcast_range"]()
        cogrp = calls["operators.asof.cogrouped"]()
        plain = t.groupBy("conv_id").agg(
            F.count(F.lit(1)).alias("turns"), F.sum(F.length("text")).alias("chars")
        )
        aggs = calls["operators.sessionize.aggregates"]()
        hot = {f"c{i}" for i in range(self.n_hot)}
        return {
            "input_rows": t.count() == n,
            "sessionize_matches_grouped": digest(calls["operators.sessionize.window"](), key)
            == digest(calls["operators.sessionize.grouped"](), key),
            "asof_strategies_agree": bcast.count() == n
            and cogrp.count() == n
            and matched_digest(bcast) == matched_digest(cogrp),
            "rolling_range_rows": calls["operators.windows.rolling_range"]().count() == n,
            "session_aggregates_cover_turns": aggs.agg(F.sum("n_turns")).first()[0] == n,
            "salted_agg_matches_plain": digest(
                calls["partitioning.salted_agg"](), ["conv_id", "turns", "chars"]
            )
            == digest(plain, ["conv_id", "turns", "chars"]),
            "hot_keys_found": set(self.hot_keys) == hot,
        }


PRETRAIN_STAGES = (
    "index_pairs", "exact", "stats", "gate", "groups", "curated", "budget",
    "mixture", "imputer", "clips", "scaler", "features",
)


class PretrainPrep:
    """``jobs/pretrain_prep.py``'s ``main`` with ``--force`` into a fresh
    output: many small commits, the MinHash index, mapInPandas budget."""

    name = "pretrain_prep"
    warm = False

    def __init__(self, tiny: bool) -> None:
        self.params = {
            "n_docs": 120 if tiny else 400,
            "near_dup_share": 0.1,
            "eval_overlap_share": 0.05,
            "sources": 20,
            "token_budget": 600,
            "shards": 4,
        }
        self.rows = self.params["n_docs"]

    def generate(self, spark, inp: str, seed: int) -> None:
        p = self.params
        write_documents(
            inp,
            n_docs=p["n_docs"],
            seed=seed,
            near_dup_share=p["near_dup_share"],
            eval_overlap_share=p["eval_overlap_share"],
            sources=p["sources"],
        )
        self.inp = inp
        spark.read.parquet(os.path.join(inp, "documents.parquet")).count()

    def iterate(self, spark, out: str, tracer, force) -> None:
        import jobs.pretrain_prep as job

        argv = [
            "pretrain_prep.py", "--input", self.inp, "--output", out, "--force",
            "--token-budget", str(self.params["token_budget"]),
            "--shards", str(self.params["shards"]),
        ]
        saved = sys.argv
        sys.argv = argv
        try:
            # the job's own report goes to stderr: stdout ends with the result
            with contextlib.redirect_stdout(sys.stderr), span(tracer, "job", "job.pretrain_prep"):
                job.main()
        finally:
            sys.argv = saved

    def wrap(self, tracer) -> None:
        import jobs.pretrain_prep  # noqa: F401 — imported so its names get wrapped too
        from ipl_dagster_pipeline_spark import caching, metrics, partitioning
        from ipl_dagster_pipeline_spark.checkpoint import CheckpointedPipeline
        from ipl_dagster_pipeline_spark.io import SnapshotTable
        from ipl_dagster_pipeline_spark.operators.dedup_index import MinHashIndex

        def commit_stats(snap_id, args):
            table = args[0]
            manifest = next(m for m in table.snapshots() if m["snapshot_id"] == snap_id)
            size, files = dir_stats(manifest["data_dir"])
            return {"bytes": size, "files": files}

        tracer.wrap(CheckpointedPipeline, "stage", "checkpoint", name=lambda a: f"checkpoint.{a[1]}")
        tracer.wrap(SnapshotTable, "commit", "io", "io.commit", after=commit_stats)
        tracer.wrap(MinHashIndex, "add_batch", "dedup_index", "dedup_index.add_batch")
        tracer.wrap_function(metrics, "append_lineage", "metrics", "metrics.lineage")
        tracer.wrap_function(metrics, "total_from_lineage", "metrics", "metrics.reconcile")
        tracer.wrap_function(caching, "tracked_persist", "caching", "caching.tracked_persist")
        tracer.wrap_function(partitioning, "fan_out_scan", "partitioning", "partitioning.fan_out_scan")

    def layer_counts(self, spark, out: str) -> dict[str, float]:
        from ipl_dagster_pipeline_spark.metrics import total_from_lineage

        lineage = os.path.join(out, "_lineage")
        return {
            "io.stored_mb": dir_stats(out)[0] / MB,
            "metrics.lineage_rows": spark.read.parquet(lineage).count(),
            "dedup_index.pairs": total_from_lineage(spark, lineage, "index_pairs")[0],
        }

    def checks(self, spark, out: str, seed: int, state_dir: str) -> dict[str, bool]:
        """Lineage totals equal a recount of every committed snapshot, and
        the per-stage checksums equal those of earlier runs of this seed.

        Both sides are one query each: the reconcile of
        ``metrics.total_from_lineage`` (latest snapshot per stage) for all
        stages at once, and the lineage row checksum over a union of every
        stage's committed snapshot."""
        from functools import reduce

        from ipl_dagster_pipeline_spark.checkpoint import CheckpointedPipeline

        pipe = CheckpointedPipeline(spark, out)
        stages = pipe.completed_stages()
        lin = spark.read.parquet(pipe.lineage_path)
        latest = lin.groupBy("stage").agg(F.max("snapshot_id").alias("snapshot_id"))
        totals = lin.join(latest, ["stage", "snapshot_id"]).groupBy("stage").agg(
            F.sum("row_count").alias("rows"), F.sum("checksum").alias("checksum")
        )
        lineage = {r["stage"]: [int(r["rows"]), int(r["checksum"])] for r in totals.collect()}

        def recount(stage: str):
            df = pipe.table(stage).read(spark)
            row_crc = F.crc32(F.to_json(F.struct(*[F.col(c) for c in df.columns])).cast("binary"))
            return df.agg(F.lit(stage).alias("stage"), F.count(F.lit(1)), F.sum(row_crc))

        committed = {
            r[0]: [int(r[1]), int(r[2] or 0)]
            for r in reduce(lambda a, b: a.union(b), map(recount, stages)).collect()
        }
        result = {"all_stages_committed": sorted(stages) == sorted(PRETRAIN_STAGES)}
        for stage in stages:
            result[f"lineage_matches_snapshot.{stage}"] = lineage.get(stage) == committed[stage]
        # the first run of a seed records its checksums; later runs compare
        os.makedirs(state_dir, exist_ok=True)
        tag = hashlib.sha1(json.dumps(self.params, sort_keys=True).encode()).hexdigest()[:10]
        path = os.path.join(state_dir, f"{self.name}-seed{seed}-{tag}.json")
        if os.path.exists(path):
            with open(path) as fh:
                result["checksums_match_earlier_runs"] = json.load(fh) == lineage
        else:
            with open(path, "w") as fh:
                json.dump(lineage, fh)
        return result


WORKLOADS = {w.name: w for w in (FeatureQuery, PretrainPrep)}
