"""Dump, or compare, the normalized query plans of a checkout.

The repeatable "same plan" proof for refactors that must not change what
Spark runs: every catalog query (``__spark_entry__.all_queries()``, 133 at
the time of writing) plus direct calls of the text operators that
``jobs/pretrain_prep.py`` and the dedup/LM families use, of the
exact-rank fits and prefix sums it runs (no catalog query calls
``impute_fit`` or ``clip_fit``), and of the frames that a bootstrap plus one
``plans.incremental.incremental_update`` write, each dumped as its optimized
logical plan and its executed (pre-AQE) physical plan.

Usage::

    python scripts/plan_digest.py <root> <out.json> <sf_dir>
    python scripts/plan_digest.py --compare <a.json> <b.json> [--rename old=new ...]

Dump mode imports the package from ``<root>`` (any checkout, e.g. a clone
of a parent commit) and reads the fixture tables from ``<sf_dir>`` (the
sf0.01 directory the oracle gate uses) on a fixed ``local[4]`` session, so
two dumps differ only where the code differs.  Plans are normalized before
they are written: expression ids (``#123``), exchange plan ids, lambda
variable ids (``x_12``), the counter suffix of every observation name
(``CollectMetrics lsh_dropped_7`` → ``lsh_dropped_N``, operator caps and
``metrics.observe_stage`` alike) and observation dataframe ids, snapshot
directory suffixes, and directories under the system temp dir are replaced
by stable placeholders.  Every persisted frame is released after each
entry, so no entry's plan reads another entry's cache.

Compare mode prints a unified diff per differing plan and a summary line.
``--rename old=new`` accepts a documented internal column rename: a plan
that differs is compared again with the attribute ``old`` renamed to
``new`` in ``<a.json>``, and counts as identical if that makes it equal
(plans that are equal as dumped are never renamed).  It exits 1 when any
plan differs.  The dump takes a few minutes at sf0.01;
it is a tool, not part of the test suite.

One entry is not deterministic: ``op.minhash_index.add_batch.0.pairs``
(its ``optimized`` and ``executed`` plans) flips the probe self-join of the
cached band frame between ``BuildLeft`` and ``BuildRight`` across dumps of
the same tree, an AQE choice inside the nested cached plan.  A same-plan
proof therefore dumps the parent twice: a difference on that entry counts
only if the change differs from both parent dumps.
"""

from __future__ import annotations

import difflib
import json
import os
import re
import shutil
import sys
import tempfile
import traceback

LAMBDA_RE = re.compile(r"\b([xyz])_\d+\b")  # PySpark names lambda parameters x_12, y_13, ...
EXPR_ID_RE = re.compile(r"#\d+L?")
PLAN_ID_RE = re.compile(r"plan_id=\d+")
TMP_RE = re.compile(re.escape(tempfile.gettempdir()) + r"/[^/\]\s,]+")
SNAPSHOT_RE = re.compile(r"\bsnap-(\d+)-[0-9a-f]{8}\b")
# CollectMetrics <prefix>_<n>, [<metrics>], <dataframe id>
OBS_NAME_RE = re.compile(r"(CollectMetrics \w+)_\d+\b")
OBS_ID_RE = re.compile(r"^(\s*(?:[:+|-]\s*)*CollectMetrics .*), \d+$", re.M)


def normalize(plan: str) -> str:
    out = SNAPSHOT_RE.sub(r"snap-\1-X", TMP_RE.sub("<tmp>", plan))
    out = OBS_NAME_RE.sub(r"\1_N", out)
    out = EXPR_ID_RE.sub("#N", out)
    out = PLAN_ID_RE.sub("plan_id=N", out)
    out = OBS_ID_RE.sub(r"\1, N", out)
    return LAMBDA_RE.sub(r"\1_N", out)


def _operator_calls(spark, sf_dir: str, tmp: str):
    """(name, thunk) pairs for direct operator calls; a thunk returns a list
    of (suffix, DataFrame) so one call may contribute several plans."""
    from pyspark.sql import functions as F

    from ipl_dagster_pipeline_spark import io as io_mod
    from ipl_dagster_pipeline_spark.operators import (
        cleaning,
        featurize,
        lm,
        packing,
        sampling,
        similarity,
        text_dedup,
        tokenizer,
    )
    from ipl_dagster_pipeline_spark.operators.dedup_index import MinHashIndex

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    cand = docs.filter(F.col("doc_id") % 97 != 0)
    # three numeric fit columns: long, double, and long with NULLs
    num = docs.select(
        "doc_id",
        "n_chars",
        (F.col("n_chars") / 7).alias("r"),
        F.when(F.col("doc_id") % 5 != 0, F.length("text")).alias("l"),
    )

    def one(fn, *a, **kw):
        return lambda: [("", fn(*a, **kw))]

    def index_batches():
        # add_batch commits; capture each committed frame's plan on entry
        captured = []
        real = io_mod.SnapshotTable.commit

        def capture(self, df, *a, **kw):
            captured.append((f"{os.path.basename(self.root)}", df))
            return real(self, df, *a, **kw)

        io_mod.SnapshotTable.commit = capture
        try:
            idx = MinHashIndex(os.path.join(tmp, "index"), threshold=0.5)
            idx.add_batch(cand.filter(F.col("doc_id") % 2 == 0), "b_even")
            idx.add_batch(cand.filter(F.col("doc_id") % 2 == 1), "b_odd")
        finally:
            io_mod.SnapshotTable.commit = real
        return [(f"{i}.{name}", df) for i, (name, df) in enumerate(captured)]

    def incremental():
        # bootstrap, one late batch, one update: capture every parquet
        # write's frame, named by the table it lands in
        from pyspark.sql.readwriter import DataFrameWriter

        from ipl_dagster_pipeline_spark.plans.features import build_turn_features
        from ipl_dagster_pipeline_spark.plans.incremental import (
            incremental_update,
            write_feature_buckets,
        )
        from ipl_dagster_pipeline_spark.sources.transcripts import (
            tool_dim_from_events,
            transcripts_from_events,
        )

        work = os.path.join(tmp, "incremental")
        captured = []
        real = DataFrameWriter.parquet

        def capture(self, path, *a, **kw):
            captured.append((os.path.relpath(path, work).split(os.sep)[0], self._df))
            return real(self, path, *a, **kw)

        DataFrameWriter.parquet = capture
        try:
            t = transcripts_from_events(spark, sf_dir)
            dim = tool_dim_from_events(spark, sf_dir)
            tbl = io_mod.SnapshotTable(os.path.join(work, "transcripts"))
            snap = tbl.commit(t)
            write_feature_buckets(build_turn_features(t, dim), os.path.join(work, "features"))
            late = t.filter((F.col("turn_idx") == 1) & (F.xxhash64("conv_id") % 16 == 0)).select(
                "conv_id",
                (F.col("turn_idx") + 10_000).alias("turn_idx"),
                "role",
                "text",
                "tool",
                (F.col("ts") + F.expr("INTERVAL 1 DAY")).alias("ts"),
            )
            tbl.commit(late, mode="append")
            incremental_update(spark, tbl, dim, os.path.join(work, "features"), since_snapshot_id=snap)
        finally:
            DataFrameWriter.parquet = real
        return [(f"{i}.{name}", df) for i, (name, df) in enumerate(captured)]

    return [
        ("exact_dedup", one(text_dedup.exact_dedup, cand)),
        ("shingles", one(text_dedup.shingles, docs)),
        ("positional_kgram_hashes", one(text_dedup.positional_kgram_hashes, docs)),
        ("winnow_fingerprints", one(text_dedup.winnow_fingerprints, docs)),
        ("simhash", one(text_dedup.simhash, docs)),
        ("minhash_lsh_dedup", one(text_dedup.minhash_lsh_dedup, docs)),
        ("ngram_jaccard_pairs", one(text_dedup.ngram_jaccard_pairs, docs, max_df=50)),
        ("overlap_pairs", one(text_dedup.overlap_pairs, docs, max_df=50)),
        ("contamination_flags", one(cleaning.contamination_flags, cand, bench, k=30)),
        ("fuzzy_contamination_pairs", one(cleaning.fuzzy_contamination_pairs, cand, bench)),
        ("with_bpe_token_counts", one(tokenizer.with_bpe_token_counts, cand)),
        ("with_bigram_surprisal", one(lm.with_bigram_surprisal, cand)),
        ("doc_bigrams", one(lm.doc_bigrams, docs)),
        ("source_kl_divergence", one(lm.source_kl_divergence, docs)),
        ("pmi_collocations", one(lm.pmi_collocations, docs)),
        ("near_dup_pairs_lsh", one(similarity.near_dup_pairs_lsh, emb)),
        ("minhash_index.add_batch", index_batches),
        ("incremental_update", incremental),
        ("impute_fit", one(featurize.impute_fit, num, ["n_chars", "r", "l"], "doc_id")),
        ("clip_fit", one(featurize.clip_fit, num, "r", "doc_id", 1, 99)),
        ("quantile_bins_fit", one(featurize.quantile_bins_fit, num, "n_chars", "doc_id", 8)),
        ("shuffle_shards", one(sampling.shuffle_shards, docs, "doc_id", 8)),
        ("pack_sequences", one(packing.pack_sequences, docs.withColumnRenamed("n_chars", "n_tokens"), 512)),
    ]


def dump(root: str, out_path: str, sf_dir: str) -> None:
    sys.path.insert(0, os.path.abspath(root))
    import __spark_entry__ as entry_mod
    from ipl_dagster_pipeline_spark.caching import release_tracked
    from ipl_dagster_pipeline_spark.session import get_spark

    spark = get_spark(app_name="plan-digest", master="local[4]", shuffle_partitions=8)
    tmp = tempfile.mkdtemp(prefix="plan-digest-")
    entries = [
        (f"catalog.{name}", (lambda fn=fn: [("", fn(spark, sf_dir))]))
        for name, fn in entry_mod.all_queries().items()
    ]
    entries += [(f"op.{name}", thunk) for name, thunk in _operator_calls(spark, sf_dir, tmp)]
    out: dict[str, dict[str, str]] = {}
    for name, thunk in entries:
        try:
            frames = thunk()
            for suffix, df in frames:
                qe = df._jdf.queryExecution()
                key = f"{name}.{suffix}" if suffix else name
                out[key] = {
                    "optimized": normalize(qe.optimizedPlan().toString()),
                    "executed": normalize(qe.executedPlan().toString()),
                }
        except Exception:  # record the failure as the entry's plan
            out[name] = {"error": traceback.format_exc(limit=3)}
        release_tracked(blocking=True)
        print(f"{name}: {'ERROR' if 'error' in out.get(name, {}) else 'ok'}", flush=True)
    shutil.rmtree(tmp, ignore_errors=True)
    with open(out_path, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(f"{len(out)} plans -> {out_path}")


def _rename(plan: str, renames: list[tuple[str, str]]) -> str:
    for old, new in renames:
        plan = re.sub(rf"(?<![\w.]){re.escape(old)}#N", f"{new}#N", plan)
    return plan


def compare(a_path: str, b_path: str, renames: list[tuple[str, str]]) -> int:
    with open(a_path) as fh:
        a = json.load(fh)
    with open(b_path) as fh:
        b = json.load(fh)
    differing, renamed = [], []
    for key in sorted(set(a) | set(b)):
        if key not in a or key not in b:
            print(f"== {key}: only in {'b' if key not in a else 'a'}")
            differing.append(key)
            continue
        for part in sorted(set(a[key]) | set(b[key])):
            left, right = a[key].get(part, ""), b[key].get(part, "")
            if left == right:
                continue
            if renames and _rename(left, renames) == right:
                renamed.append(f"{key} [{part}]")
                continue
            differing.append(f"{key} [{part}]")
            print(f"== {key} [{part}]")
            diff = difflib.unified_diff(
                _rename(left, renames).splitlines(), right.splitlines(), "a", "b", n=1, lineterm=""
            )
            for line in diff:
                print(line)
    for name in renamed:
        print(f"identical after renames: {name}")
    print(
        f"{len(set(a) | set(b))} entries, {len(renamed)} plan(s) identical after renames, "
        f"{len(differing)} differing plan(s)"
    )
    return 1 if differing else 0


def main(argv: list[str]) -> int:
    if argv and argv[0] == "--compare":
        paths = [x for x in argv[1:] if "=" not in x and x != "--rename"]
        renames = [tuple(x.split("=", 1)) for x in argv[1:] if "=" in x]
        return compare(paths[0], paths[1], renames)
    if len(argv) != 3:
        print(__doc__)
        return 2
    dump(*argv)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
