"""Partitioning/salting, lineage metrics, checkpoint resume, snapshot IO."""

from __future__ import annotations

import ast
import os
import pathlib
import string

import pyspark.sql.functions as F
import pytest

from ipl_dagster_pipeline_spark.checkpoint import CheckpointedPipeline
from ipl_dagster_pipeline_spark.io import SnapshotTable, write_day_partitioned
from ipl_dagster_pipeline_spark.metrics import (
    append_lineage,
    observe_stage,
    stage_totals,
    total_from_lineage,
)
from ipl_dagster_pipeline_spark.partitioning import (
    detect_hot_keys,
    salted_agg,
    with_salt,
)


def test_detect_hot_keys_finds_planted_skew(spark):
    from ipl_dagster_pipeline_spark.sources.transcripts import synthesize_transcripts

    df = synthesize_transcripts(spark, n_convs=50, turns_per_conv=10, seed=3, hot_conv_fraction=0.02, hot_multiplier=100)
    hot = detect_hot_keys(df, sample_fraction=1.0, hot_multiplier=5.0)
    assert "c0" in hot


def test_salted_agg_matches_plain_agg(small_transcripts):
    hot = ["c0", "c1"]
    got = (
        salted_agg(
            small_transcripts,
            key="conv_id",
            aggs={"cnt": F.count("*"), "chars": F.sum(F.length("text"))},
            merges={"cnt": F.sum("cnt"), "chars": F.sum("chars")},
            n_salts=8,
            hot_keys=hot,
        )
        .orderBy("conv_id")
        .toPandas()
    )
    exp = (
        small_transcripts.groupBy("conv_id")
        .agg(F.count("*").alias("cnt"), F.sum(F.length("text")).alias("chars"))
        .orderBy("conv_id")
        .toPandas()
    )
    assert got["cnt"].tolist() == exp["cnt"].tolist()
    assert got["chars"].tolist() == exp["chars"].tolist()


def test_salt_spreads_hot_key(small_transcripts):
    salted = with_salt(small_transcripts, hot_keys=["c0"], n_salts=8)
    n_salts_hot = salted.filter("conv_id = 'c0'").select("salt").distinct().count()
    n_salts_cold = salted.filter("conv_id = 'c5'").select("salt").distinct().count()
    assert n_salts_hot > 1 and n_salts_cold == 1


def test_lineage_reconciles_total(spark, small_transcripts, tmp_path):
    """The same frame committed at 1 and at 7 partitions through
    CheckpointedPipeline.stage: identical lineage totals (the checksum is
    order- and partitioning-insensitive), one lineage row per commit, and
    the manifest's per-file footer rows sum to the same count."""
    pipe = CheckpointedPipeline(spark, str(tmp_path / "ckpt"))
    pipe.stage("one", lambda: small_transcripts.coalesce(1))
    pipe.stage("seven", lambda: small_transcripts.repartition(7))
    totals = stage_totals(pipe.lineage_path)
    n = small_transcripts.count()
    assert totals["one"] == totals["seven"] and totals["one"][0] == n
    assert total_from_lineage(spark, pipe.lineage_path, "seven") == totals["seven"]
    lin = spark.read.parquet(pipe.lineage_path).collect()
    assert sorted(r.stage for r in lin) == ["one", "seven"]
    assert {r.partition_id for r in lin} == {-1}
    for stage, n_files in (("one", 1), ("seven", 7)):
        files = pipe.table(stage).snapshots()[-1]["files"]
        assert len(files) == n_files and sum(f["rows"] for f in files) == n


def test_append_lineage_enforces_schema(spark, tmp_path):
    """A drifted lineage producer fails at the write boundary."""
    import pytest

    path = str(tmp_path / "lineage")
    with pytest.raises(ValueError, match="snapshot_id"):
        append_lineage([{"stage": "s", "partition_id": -1, "row_count": 1, "checksum": 0}], path)
    append_lineage(
        [{"stage": "s", "snapshot_id": 3, "partition_id": -1, "row_count": 2, "checksum": 5, "x": 1}],
        path,
    )
    assert total_from_lineage(spark, path, "s") == (2, 5)


def test_observe_stage_counts(small_transcripts):
    df, obs = observe_stage(small_transcripts, "obs_test")
    df.write.mode("overwrite").format("noop").save()
    assert obs.get["rows"] == small_transcripts.count()


def test_snapshot_table_atomic_commit_and_incremental(spark, tmp_path):
    tbl = SnapshotTable(str(tmp_path / "t"))
    s1 = tbl.commit(spark.range(10).toDF("id"))
    s2 = tbl.commit(spark.range(10, 15).toDF("id"))
    assert tbl.current_snapshot_id() == s2 == s1 + 1
    assert tbl.read(spark).count() == 5
    assert tbl.read(spark, snapshot_id=s1).count() == 10
    assert tbl.read_incremental(spark, start_snapshot_id=s1).count() == 5


def test_snapshot_expiration_keeps_reachable_chain(spark, tmp_path):
    """expire_snapshots keeps every ancestor a kept append chain walks
    through — reads of kept snapshots are identical before/after — and
    deletes unreferenced manifests AND data dirs."""
    import os

    import pytest

    tbl = SnapshotTable(str(tmp_path / "t"))
    s1 = tbl.commit(spark.range(5).toDF("id"))                      # overwrite (dead base)
    s2 = tbl.commit(spark.range(10).toDF("id"))                     # overwrite (live base)
    s3 = tbl.commit(spark.range(10, 12).toDF("id"), mode="append")  # append on s2
    before = sorted(r.id for r in tbl.read(spark).collect())
    stats = tbl.expire_snapshots(keep_last=1)  # keep s3 → s2 retained via chain
    assert stats["expired_manifests"] == 1 and stats["deleted_dirs"] == 1
    assert sorted(r.id for r in tbl.read(spark).collect()) == before
    assert sorted(r.id for r in tbl.read(spark, snapshot_id=s3).collect()) == before
    with pytest.raises(FileNotFoundError):
        tbl._manifest(s1)
    # only the two referenced data dirs remain on disk
    dirs = [d for d in os.listdir(tbl.root) if d.startswith("snap-")]
    assert len(dirs) == 2
    # the expired base cannot resurrect: next commit gets a fresh id
    s4 = tbl.commit(spark.range(3).toDF("id"), mode="append")
    assert s4 == s3 + 1


def test_snapshot_compaction_preserves_contents_and_chains(spark, tmp_path):
    """compact() rewrites an append chain into one balanced overwrite
    snapshot: identical contents, fewer files, and post-compaction appends +
    incremental reads chain off it normally."""
    import glob

    tbl = SnapshotTable(str(tmp_path / "t"))
    tbl.commit(spark.range(0, 20).repartition(6).toDF("id"))
    for lo in (20, 30, 40):
        tbl.commit(spark.range(lo, lo + 10).repartition(4).toDF("id"), mode="append")
    before = sorted(r.id for r in tbl.read(spark).collect())
    files_before = len(glob.glob(str(tmp_path / "t" / "snap-*" / "*.parquet")))
    sc = tbl.compact(spark, target_files=2)
    assert sorted(r.id for r in tbl.read(spark).collect()) == before
    files_now = len(glob.glob(tbl._manifest(sc)["data_dir"] + "/*.parquet"))
    assert files_now == 2 < files_before
    # incremental crossing the compaction → conservative full state
    assert tbl.read_incremental(spark, start_snapshot_id=sc - 1).count() == len(before)
    # appends after compaction chain off it; incremental from the compaction
    # snapshot returns exactly the new rows
    tbl.commit(spark.range(50, 55).toDF("id"), mode="append")
    assert sorted(
        r.id for r in tbl.read_incremental(spark, start_snapshot_id=sc).collect()
    ) == list(range(50, 55))
    assert tbl.read(spark).count() == len(before) + 5
    # expiration after compaction drops the whole pre-compaction chain
    stats = tbl.expire_snapshots(keep_last=2)
    assert stats["expired_manifests"] == 4
    assert tbl.read(spark).count() == len(before) + 5


def test_snapshot_tags_survive_expiry(spark, tmp_path):
    """Scalar- and list-valued meta tags are answered from the live
    manifests (value -> snapshot id) and, once expired, from _tags.json
    (value -> None)."""
    tbl = SnapshotTable(str(tmp_path / "t"))
    s1 = tbl.commit(spark.range(3).toDF("id"), meta={"batch_id": "b1", "files": ["f1", "f2"]})
    s2 = tbl.commit(spark.range(3).toDF("id"), mode="append", meta={"batch_id": "b2"})
    s3 = tbl.commit(spark.range(3).toDF("id"), meta={"batch_id": "b3", "files": ["f3"]})
    assert tbl.tags("batch_id") == {"b1": s1, "b2": s2, "b3": s3}
    assert tbl.tags("files") == {"f1": s1, "f2": s1, "f3": s3}
    assert tbl.tags("absent") == {}
    assert tbl.expire_snapshots(keep_last=1)["expired_manifests"] == 2
    assert tbl.tags("batch_id") == {"b1": None, "b2": None, "b3": s3}
    assert tbl.tags("files") == {"f1": None, "f2": None, "f3": s3}
    # a second expiry folds into, never over, the earlier record
    s4 = tbl.commit(spark.range(3).toDF("id"), meta={"batch_id": "b4"})
    tbl.expire_snapshots(keep_last=1)
    assert tbl.tags("batch_id") == {"b1": None, "b2": None, "b3": None, "b4": s4}


@pytest.mark.parametrize("failing_delete", [0, 1])
def test_snapshot_tags_complete_when_expiry_stops_part_way(
    spark, tmp_path, monkeypatch, failing_delete
):
    """Expiry folds the tags before it deletes any manifest: a delete that
    fails part way (at the first or the second expired manifest) loses no
    tag, and a second expiry finishes the job."""
    tbl = SnapshotTable(str(tmp_path / "t"))
    for i in range(3):
        tbl.commit(spark.range(3).toDF("id"), meta={"batch_id": f"b{i}"})
    real_remove = os.remove
    deletes = []

    def fail_one_manifest(path):
        if os.path.dirname(path) == tbl.manifest_dir:
            deletes.append(path)
            if len(deletes) == failing_delete + 1:
                raise OSError("interrupted")
        real_remove(path)

    monkeypatch.setattr(os, "remove", fail_one_manifest)
    with pytest.raises(OSError, match="interrupted"):
        tbl.expire_snapshots(keep_last=1)
    monkeypatch.setattr(os, "remove", real_remove)
    assert set(tbl.tags("batch_id")) == {"b0", "b1", "b2"}
    assert tbl.expire_snapshots(keep_last=1)["expired_manifests"] == 2 - failing_delete
    assert [m["meta"]["batch_id"] for m in tbl.snapshots()] == ["b2"]
    assert tbl.tags("batch_id") == {"b0": None, "b1": None, "b2": tbl.current_snapshot_id()}


def test_index_add_batch_reads_each_tables_tags_once(spark, tmp_path, monkeypatch):
    """One add_batch lists each index table's manifests for tags at most
    once — on a first batch, on a probing batch and on a replay."""
    from collections import Counter

    from ipl_dagster_pipeline_spark.operators.dedup_index import MinHashIndex

    calls: Counter = Counter()
    for method in ("snapshots", "tags"):
        real = getattr(SnapshotTable, method)

        def counted(self, *a, _real=real, **kw):
            calls[os.path.basename(self.root)] += 1
            return _real(self, *a, **kw)

        monkeypatch.setattr(SnapshotTable, method, counted)
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta {i % 3} eta theta") for i in range(12)],
        "doc_id long, text string",
    )
    idx = MinHashIndex(str(tmp_path / "idx"))
    for lo, batch_id in ((0, "b1"), (6, "b2"), (6, "b2")):
        calls.clear()
        idx.add_batch(docs.filter(F.col("doc_id").between(lo, lo + 5)), batch_id).count()
        assert calls and max(calls.values()) == 1, (batch_id, calls)


def test_checkpoint_resume_skips_committed(spark, small_transcripts, tmp_path):
    root = str(tmp_path / "ckpt")
    calls = {"n": 0}

    def compute():
        calls["n"] += 1
        return small_transcripts

    pipe = CheckpointedPipeline(spark, root)
    a = pipe.stage("convert", compute)
    assert calls["n"] == 1 and a.count() == small_transcripts.count()

    # simulate restart: new pipeline object, same root → stage not recomputed
    pipe2 = CheckpointedPipeline(spark, root)
    b = pipe2.stage("convert", compute)
    assert calls["n"] == 1 and b.count() == small_transcripts.count()
    assert pipe2.completed_stages() == ["convert"]
    # lineage was appended exactly once
    rows, _ = total_from_lineage(spark, pipe2.lineage_path, "convert")
    assert rows == small_transcripts.count()


def test_dynamic_partition_overwrite_is_idempotent(spark, small_transcripts, tmp_path):
    path = str(tmp_path / "days")
    write_day_partitioned(small_transcripts, path)
    before = spark.read.parquet(path).count()
    # rewrite only one day — other days must survive (dynamic overwrite)
    one_day = small_transcripts.filter(F.to_date("ts") == F.lit("2024-01-01"))
    assert one_day.count() > 0
    write_day_partitioned(one_day, path)
    after = spark.read.parquet(path).count()
    assert after == before
    assert len([d for d in os.listdir(path) if d.startswith("day=")]) > 1


def test_driver_contract_consistency():
    """The exported gate is EXACTLY 50 entries (the driver checks the first
    50 in insertion order), previously-unchecked capability classes first.
    Round 4: every gate entry has a value-hash oracle — zero rows-only rows
    (the learned-k-means ANN parity union stays catalog-only; the pinned
    deterministic IVF quantizer took its gate slot).  The un-merged catalog
    stays a superset for bench/debugging."""
    import __spark_entry__ as em

    qs, oracles = em.queries(), em.oracle_sql()
    assert set(oracles) <= set(qs), set(oracles) - set(qs)
    assert set(qs) - set(oracles) == set()  # 50/50 fully value-hashed
    assert len(qs) == 50 and len(oracles) == 50
    assert list(qs) == em.DRIVER_QUERY_ORDER
    # round-6 rotations #3+#4: the round-5 catalog-only classes AND every
    # operator born this round lead the gate — no capability class has ever
    # shipped ungated
    assert list(qs)[:16] == [
        "event_value_sketch",
        "event_sketch_quantiles",
        "emb_ann_recall",
        "doc_fuzzy_contamination",
        "event_morton_layout",
        "incident_xml_pipeline",
        "doc_containment_pairs",
        "doc_pmi_collocations",
        "event_feature_correlations",
        "event_type_hour_mi",
        "doc_negative_pairs",
        "event_value_psi",
        "event_class_balance",
        "event_imputed_clipped",
        "event_feature_melt",
        "geo_route_lengths",
    ]
    # every demotion (rounds 4+5, both round-5 rotations) stays
    # catalog-checked (--all), and its capability remains transitively
    # inside gated queries (see the DRIVER_QUERY_ORDER comment for the
    # per-entry mapping)
    for demoted in (
        "scalar_functions", "json_extract_props", "emb_cosine_topk", "emb_near_dup_pairs",
        "doc_token_budget", "doc_length_quantiles", "doc_stratified_sample", "doc_hash_split",
        "doc_quality_gate", "doc_top_terms", "q1_pricing_summary", "pivot_order_status",
        "temporal_filter", "media_resize_images",
        "doc_mixture_epochs", "doc_shuffle_shards", "emb_lsh_topk_oracle",
        "doc_winnow_fingerprints", "doc_collapse_repeats", "explode_default_record",
        "union_entities", "q5_revenue_enriched", "doc_exact_dedup", "doc_simhash",
        "lag_lead_features", "rolling_features",
        # rotation #3 demotions (round 6)
        "incident_pipeline", "doc_bm25", "doc_length_histogram",
        "doc_weighted_sample", "turn_context_windows", "dim_scd2_history",
        "events_rollup_daily", "doc_pii_redact", "media_sample_frames",
        "doc_contamination", "doc_pack_sequences", "user_event_stats",
        "prefer_first_lang", "doc_textstats", "emb_near_dup_lsh", "event_funnel",
        # rotation #4 demotions (round 6): held a gate row during this round
        "event_cms_user_counts", "event_hash_cross", "source_unigram_kl",
        "doc_temperature_sample", "event_skew_profile",
    ):
        assert demoted not in qs and demoted in em.all_queries() and demoted in em.all_oracle_sql()
    # every merged-away original is still runnable via the full catalog
    all_qs, all_oracles = em.all_queries(), em.all_oracle_sql()
    assert set(qs) <= set(all_qs) and set(oracles) <= set(all_oracles)
    # rows-only catalog entries: exactly the approximate/learned ANN family
    assert set(all_qs) - set(all_oracles) == {
        "emb_lsh_topk", "emb_ivf_topk", "emb_ann_parity"
    }
    assert len(all_qs) == 133 and len(all_oracles) == 130


def test_no_per_row_python_udfs():
    """North rule: vectorized pandas/Arrow UDFs only — no row-at-a-time
    Python UDFs anywhere in the engine or the driver contract."""
    import pathlib

    roots = [pathlib.Path("ipl_dagster_pipeline_spark"), pathlib.Path("__spark_entry__.py")]
    files = [p for r in roots for p in ([r] if r.is_file() else r.rglob("*.py"))]
    assert files
    for f in files:
        t = f.read_text()
        assert "F.udf(" not in t and "@F.udf" not in t and "udf.register" not in t, f


# Package definitions that nothing outside tests/ reaches, kept on purpose.
REACHABILITY_ALLOW: dict[str, str] = {}


def _used_names(node) -> set[str]:
    """Identifiers ``node`` mentions: names, attribute names, and the
    original name of each ``import … as`` alias."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias) and n.asname:
            out.add(n.name)
    return out


def _constants(node) -> list[str]:
    """The names a module-level assignment binds (``X = …``, ``X: T = …``,
    ``A, B = …``); none for other statements."""
    if isinstance(node, ast.Assign):
        targets = node.targets
    elif isinstance(node, ast.AnnAssign):
        targets = [node.target]
    else:
        return []
    return [
        n.id for t in targets for n in ast.walk(t)
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)
    ]


def _reached(defs: dict, names: set[str], roots: set[str]) -> set[str]:
    """Qualnames reachable by name from ``names`` and the ``roots``.  A
    top-level definition or constant is reached when its name is used; a
    method when its class is reached and its name is used (dunders:
    always)."""
    names, hit = set(names), set()
    for q in roots:
        hit.add(q)
        names |= defs[q][2]
    grew = True
    while grew:
        grew = False
        for q, (name, cls, body_names) in defs.items():
            if q in hit:
                continue
            dunder = name.startswith("__") and name.endswith("__")
            if (cls is None or cls in hit) and (name in names or (cls and dunder)):
                hit.add(q)
                names |= body_names
                grew = True
    return hit


def _package_modules(root: pathlib.Path) -> dict[str, ast.Module]:
    """Every package module's AST, by dotted name below the package."""
    pkg = root / "ipl_dagster_pipeline_spark"
    out = {}
    for f in sorted(pkg.rglob("*.py")):
        parts = f.relative_to(pkg).with_suffix("").parts
        out[".".join(parts[:-1] if parts[-1] == "__init__" else parts)] = ast.parse(f.read_text())
    return out


def _program_in(text: str) -> ast.Module | None:
    """The AST of a Python program held in a string (a ``str.format``
    template's fields read as a name), or None: a string counts when it
    parses and imports something, so SQL and prose stay out."""
    try:
        text = "".join(
            lit + ("_field" if f is not None else "") for lit, f, _, _ in string.Formatter().parse(text)
        )
    except ValueError:
        pass  # not a format template: parse it as it stands
    try:
        tree = ast.parse(text)
    except (SyntaxError, ValueError):
        return None
    return tree if any(isinstance(n, (ast.Import, ast.ImportFrom)) for n in ast.walk(tree)) else None


def _entry_modules(root: pathlib.Path) -> list[ast.Module]:
    """What runs the package from outside it: ``jobs/``, ``scripts/``, the
    non-test files of ``perfbench/``, ``bench*.py`` and
    ``__spark_entry__.py`` — and the programs these hold in strings (the
    subprocess snippets of ``scripts/bench_scaling.py``)."""
    files = sorted(root.glob("bench*.py")) + [root / "__spark_entry__.py"]
    for d in ("jobs", "scripts", "perfbench"):
        files += [p for p in sorted((root / d).rglob("*.py")) if not p.name.startswith("test_")]
    trees = [ast.parse(f.read_text()) for f in files]
    held = [
        _program_in(n.value)
        for t in trees
        for n in ast.walk(t)
        if isinstance(n, ast.Constant) and isinstance(n.value, str)
    ]
    return trees + [t for t in held if t is not None]


def test_no_test_only_definitions():
    """Ratchet on the engine's surface: every top-level definition, method
    and module-level constant of the package must be reachable, by name,
    from what runs outside the tests — ``jobs/``, ``scripts/``, the non-test
    files of ``perfbench/``, ``bench.py``, ``bench_extra.py``,
    ``__spark_entry__.py``, every ``catalog/`` definition and the package's
    module-level code (a constant's own name excluded: binding it is not a
    use) — or be on ``REACHABILITY_ALLOW`` with a reason.  A stale
    allow-list entry (gone, or now reached) fails too.  AST only, no
    Spark."""
    root = pathlib.Path(__file__).resolve().parents[1]
    defs: dict[str, tuple[str, str | None, set[str]]] = {}  # qualname → (name, class, names used)
    names: set[str] = set()
    roots: set[str] = set()
    for mod, tree in _package_modules(root).items():
        in_catalog = mod.split(".")[0] == "catalog"
        for node in tree.body:
            consts = [c for c in _constants(node) if not c.startswith("__")]
            if consts:  # the value runs on import; the binding is no use
                names |= _used_names(node) - set(consts)
                for c in consts:
                    defs[f"{mod}.{c}"] = (c, None, set())
                    if in_catalog:
                        roots.add(f"{mod}.{c}")
                continue
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names |= _used_names(node)  # module-level code runs on import
                continue
            # decorators, defaults and bases are evaluated on import too
            if isinstance(node, ast.ClassDef):
                on_import = node.bases + node.keywords
                own = [s for s in node.body if not isinstance(s, (ast.FunctionDef, ast.AsyncFunctionDef))]
            else:
                on_import = node.args.defaults + [d for d in node.args.kw_defaults if d]
                own = [node]
            for n in on_import + node.decorator_list:
                names |= _used_names(n)
            q = f"{mod}.{node.name}"
            defs[q] = (node.name, None, set().union(*map(_used_names, own)))
            for m in node.body if isinstance(node, ast.ClassDef) else ():
                if isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    defs[f"{q}.{m.name}"] = (m.name, q, _used_names(m))
            if in_catalog:
                roots.add(q)
    for tree in _entry_modules(root):
        names |= _used_names(tree)

    reached = _reached(defs, names, roots)
    stale = sorted(q for q in REACHABILITY_ALLOW if q not in defs or q in reached)
    assert stale == [], f"stale REACHABILITY_ALLOW entries (gone or now reached): {stale}"

    reached = _reached(defs, names, roots | set(REACHABILITY_ALLOW))
    test_names = set().union(*(_used_names(ast.parse(p.read_text())) for p in (root / "tests").glob("*.py")))
    by_tests = _reached(defs, names | test_names, roots | set(REACHABILITY_ALLOW))
    dead = sorted(
        f"{q} ({'tests only' if q in by_tests else 'no caller'})" for q in defs if q not in reached
    )
    assert dead == [], (
        "package definitions nothing outside tests/ reaches — delete them, or "
        f"add them to REACHABILITY_ALLOW with a reason: {dead}"
    )


# Defaulted parameters that no caller outside tests/ sets to another value,
# kept on purpose: "module.function(param)" → reason.
OPTIONS_ALLOW: dict[str, str] = {
    "io.SnapshotTable.read(snapshot_id)": "time travel to a retained snapshot, what expiry "
    "and compaction must keep readable (test_infra, test_lineage)",
    "operators.dimensions.merge_upsert(delete_col)": "MERGE INTO's delete arm; without it "
    "the dim_merge_upsert plan loses its false __del column and changes",
    "operators.encoding.target_encode_pit(prior)": "the train-fold prior for scoring rows "
    "outside the fitted frame (the module's leakage caveat)",
    "operators.featurize.clip_fit(lo_percent)": "winsorization percent: both jobs pass 1 "
    "explicitly as their policy, tests fit other percents",
    "operators.featurize.clip_fit(hi_percent)": "winsorization percent: both jobs pass 99 "
    "explicitly as their policy, tests fit other percents",
    "operators.sessionize.sessionize(gap_seconds)": "the session gap of gap sessionization; "
    "build_turn_features(gap_seconds), set by the feature_build CLI, mirrors it",
    "operators.sessionize.sessionize_grouped(gap_seconds)": "the session gap, as on sessionize",
    "partitioning.detect_hot_keys(key)": "the frozen benchmark (perfbench/workloads.py) "
    "passes 'conv_id' positionally",
}


def _literal(node: ast.expr):
    """A comparable form of a literal argument; a fresh object (equal to
    nothing) for any other expression."""
    try:
        value = ast.literal_eval(node)
    except (ValueError, TypeError, SyntaxError, MemoryError, RecursionError):
        return object()
    return type(value), value


def _defaulted_params(modules: dict[str, ast.Module]) -> dict[str, list[tuple[str, str, ast.expr, int | None]]]:
    """Call name → ``(option, param, default, positional index)`` for every
    defaulted parameter of a top-level function, method or constructor
    (``ClassName(...)`` is a call of ``__init__``).  ``option`` reads
    ``module.function(param)``; the index skips a method's ``self``, and is
    None for a keyword-only parameter."""
    out: dict[str, list] = {}
    for mod, tree in modules.items():
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                fns = [(f"{mod}.{node.name}", node.name, node, 0)]
            elif isinstance(node, ast.ClassDef):
                fns = [
                    (
                        f"{mod}.{node.name}.{m.name}",
                        node.name if m.name == "__init__" else m.name,
                        m,
                        0 if any(getattr(d, "id", None) == "staticmethod" for d in m.decorator_list) else 1,
                    )
                    for m in node.body
                    if isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef))
                ]
            else:
                continue
            for q, called_as, fn, bound in fns:
                a = fn.args
                pos = a.posonlyargs + a.args
                first = len(pos) - len(a.defaults)
                sites = out.setdefault(called_as, [])
                for i, (p, d) in enumerate(zip(pos[first:], a.defaults)):
                    sites.append((f"{q}({p.arg})", p.arg, d, first + i - bound))
                for p, d in zip(a.kwonlyargs, a.kw_defaults):
                    if d is not None:
                        sites.append((f"{q}({p.arg})", p.arg, d, None))
    return out


def _module_constants(tree: ast.Module) -> dict[str, ast.expr]:
    """Module-level names bound once, to a literal: what a call that passes
    such a name passes."""
    bound: dict[str, list[ast.expr]] = {}
    for node in tree.body:
        if isinstance(node, ast.Assign) and len(node.targets) == 1 and isinstance(node.targets[0], ast.Name):
            bound.setdefault(node.targets[0].id, []).append(node.value)
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name) and node.value:
            bound.setdefault(node.target.id, []).append(node.value)
    return {k: v[0] for k, v in bound.items() if len(v) == 1 and isinstance(_literal(v[0]), tuple)}


def _scoped_calls(tree: ast.AST) -> list[tuple[ast.AST | None, ast.Call]]:
    """``(fn, call)`` for every call in ``tree``; ``fn`` is the innermost
    enclosing def or lambda, None at module level."""
    out = []

    def visit(node: ast.AST, fn: ast.AST | None) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.Call):
                out.append((fn, child))
            scope = child if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)) else fn
            visit(child, scope)

    visit(tree, None)
    return out


def _option_report(
    modules: dict[str, ast.Module], callers: list[ast.Module], allow: dict[str, str]
) -> tuple[list[str], list[str]]:
    """``(unset, stale)``: the options of ``modules`` that no call in
    ``modules`` or ``callers`` sets to a non-literal or to a literal other
    than the default, less ``allow``; and the ``allow`` entries that are no
    such option (gone, or now set).  A name bound once at module level to a
    literal reads as that literal, and a package function passing on its own
    defaulted parameter (same default) sets the callee only where its own
    option is set."""
    params = _defaulted_params(modules)
    options = {p[0] for sites in params.values() for p in sites}
    holders = {}  # def node → the "module.function" its options are named by
    for mod, tree in modules.items():
        for node in tree.body:
            for fn in node.body if isinstance(node, ast.ClassDef) else [node]:
                if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    holders[id(fn)] = f"{mod}.{node.name}.{fn.name}" if fn is not node else f"{mod}.{fn.name}"
    varied, via = set(), []  # via: (option, the caller's own option it passes on)
    for tree in list(modules.values()) + callers:
        consts = _module_constants(tree)
        for fn, call in _scoped_calls(tree):
            name = call.func.id if isinstance(call.func, ast.Name) else getattr(call.func, "attr", None)
            if name not in params:
                continue
            spread = any(isinstance(a, ast.Starred) for a in call.args) or any(
                k.arg is None for k in call.keywords
            )
            kw = {k.arg: k.value for k in call.keywords}
            fn_defaults, fn_stores = {}, set()
            if fn is not None:
                a = fn.args
                pos = a.posonlyargs + a.args
                fn_defaults = {p.arg: None for p in pos + a.kwonlyargs + [a.vararg, a.kwarg] if p}
                fn_defaults.update({p.arg: d for p, d in zip(pos[len(pos) - len(a.defaults):], a.defaults)})
                fn_defaults.update({p.arg: d for p, d in zip(a.kwonlyargs, a.kw_defaults) if d})
                fn_stores = {n.id for n in ast.walk(fn) if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)}
            for option, param, default, idx in params[name]:
                arg = kw.get(param)
                if arg is None and idx is not None and idx < len(call.args):
                    arg = call.args[idx]
                if spread:
                    varied.add(option)
                    continue
                if arg is None:
                    continue
                if isinstance(arg, ast.Name) and arg.id in fn_defaults:  # the caller's own parameter
                    outer = fn_defaults[arg.id]
                    if id(fn) in holders and outer is not None and _literal(outer) == _literal(default):
                        via.append((option, f"{holders[id(fn)]}({arg.id})"))
                        continue
                    varied.add(option)
                    continue
                if isinstance(arg, ast.Name) and arg.id in consts and arg.id not in fn_stores:
                    arg = consts[arg.id]
                if _literal(arg) != _literal(default):
                    varied.add(option)
    grew = True
    while grew:
        grew = False
        for option, outer in via:
            if outer in varied and option not in varied:
                varied.add(option)
                grew = True
    single = options - varied
    return sorted(single - set(allow)), sorted(set(allow) - single)


def test_no_single_valued_options():
    """Ratchet on the engine's knobs: every defaulted parameter of a package
    function, method or constructor must be set, by some caller outside
    tests/ (``jobs/``, ``scripts/``, the non-test files of ``perfbench/``,
    ``bench*.py``, ``__spark_entry__.py`` or the package itself, catalog
    included), to a non-literal or to a literal other than its default — or
    be on ``OPTIONS_ALLOW`` with a reason.  A parameter nothing sets is a
    constant.  Calls are matched by name: ``f(...)`` and ``x.f(...)`` both
    count for every package ``f`` (``C(...)`` for ``C.__init__``), and a
    call with ``*args`` or ``**kwargs`` sets every parameter.  A name bound
    once at module level to a literal reads as that literal, and a package
    function passing on its own defaulted parameter sets the callee only
    where its own option is set; any other non-literal argument counts as a
    second value, so a constant passed through an attribute, a subscript or
    a local (``f(x=self.params["k"])``) keeps its option alive unseen.
    Code held in strings is seen only where it parses as a program with an
    import (``_program_in``).  A stale allow-list entry (gone, or now set)
    fails too.  AST only, no Spark."""
    root = pathlib.Path(__file__).resolve().parents[1]
    modules = _package_modules(root)
    unset, stale = _option_report(modules, _entry_modules(root), OPTIONS_ALLOW)
    assert stale == [], f"stale OPTIONS_ALLOW entries (gone or now set): {stale}"
    assert unset == [], (
        "defaulted parameters no caller outside tests/ sets to another value — "
        f"make them constants, or add them to OPTIONS_ALLOW with a reason: {unset}"
    )


def test_option_scanner_cases():
    """The option ratchet's scanner on a synthetic package and caller."""
    pkg = {
        "mod": ast.parse(
            "def f(df, a=1, b='x', *, c=None):\n"
            "    pass\n"
            "class C:\n"
            "    def __init__(self, root, k=5):\n"
            "        pass\n"
            "    def m(self, n=2):\n"
            "        pass\n"
        )
    }

    def report(src: str, allow=None):
        return _option_report(pkg, [ast.parse(src)], allow or {})

    everything = ["mod.C.__init__(k)", "mod.C.m(n)", "mod.f(a)", "mod.f(b)", "mod.f(c)"]
    # a default passed explicitly (by keyword or position) sets nothing
    assert report("f(df, 1, b='x', c=None); C(r, 5).m(2)") == (everything, [])
    # a literal other than the default sets the option; so does 1.0 for 1
    assert report("f(df, 2); C(r, k=7); x.m(n=2.0)")[0] == ["mod.f(b)", "mod.f(c)"]
    # any non-literal sets it
    assert report("f(df, b=name, c=g())")[0] == ["mod.C.__init__(k)", "mod.C.m(n)", "mod.f(a)"]
    # forwarding *args / **kwargs sets every parameter of the callee
    assert report("f(df, **opts); C(*args)")[0] == ["mod.C.m(n)"]
    # an allow-list entry hides its option; a stale one (set, or gone) fails
    assert report("", {"mod.f(a)": "why"})[0] == everything[:2] + ["mod.f(b)", "mod.f(c)"]
    assert report("f(df, a=2)", {"mod.f(a)": "why", "mod.g(z)": "gone"})[1] == ["mod.f(a)", "mod.g(z)"]
    # a program held in a format template counts, its fields as names; SQL does not
    held = _program_in("import mod\nmod.f(df, a={n}, b={{'k': 1}})")
    assert _option_report(pkg, [held], {})[0] == ["mod.C.__init__(k)", "mod.C.m(n)", "mod.f(c)"]
    assert _program_in("sum(x) / count(x)") is None
    # a module constant reads as its literal; a function passing on its own
    # defaulted parameter sets the callee only where its own option is set
    fwd = {
        "mod": ast.parse(
            "K = 1\n"
            "def f(df, a=1):\n"
            "    pass\n"
            "def g(df, a=1):\n"
            "    f(df, a=a)\n"
            "def h(df):\n"
            "    f(df, a=K)\n"
        )
    }
    assert _option_report(fwd, [ast.parse("h(df)")], {})[0] == ["mod.f(a)", "mod.g(a)"]
    assert _option_report(fwd, [ast.parse("g(df, a=2)")], {})[0] == []
    assert _option_report(fwd, [ast.parse("K = 2\nf(df, a=K)")], {})[0] == ["mod.g(a)"]


def test_skew_profile_exact_numbers(spark):
    from ipl_dagster_pipeline_spark.partitioning import skew_profile

    df = spark.createDataFrame([("a",)] * 6 + [("b",)] * 3 + [(None,)], "k string")
    rows = skew_profile(df, "k", top_n=2).collect()
    assert [(r["k"], r["cnt"], r["share_ppm"], r["rnk"], r["cum_ppm"]) for r in rows] == [
        ("a", 6, 600000, 1, 600000),
        ("b", 3, 300000, 2, 900000),
    ]
    assert rows[0]["hot_ratio"] == 1.8  # 6 / (10/3 keys)
    # top_n cuts AFTER ranking; null key profiles as a real key when included
    all_rows = skew_profile(df, "k", top_n=10).collect()
    assert all_rows[-1]["k"] is None and all_rows[-1]["cum_ppm"] == 1000000
    import pytest

    with pytest.raises(ValueError):
        skew_profile(df, "k", top_n=0)


def test_publish_web_asset_gz_sibling(tmp_path, monkeypatch):
    """K4 web-asset publish (reference urllib.py:90-113,
    webasset_io_manager.py:45-54): atomic tmp→rename, precompressed .gz
    sibling with the SAME mtime as the source, no partial files on writer
    failure."""
    import gzip
    import json
    import os
    import shutil

    from ipl_dagster_pipeline_spark.io import publish_web_asset

    target = str(tmp_path / "assets" / "summary.json")
    payload = {"stations": 3, "updated": "2026-08-18"}
    m = publish_web_asset(target, content=payload)
    assert m["path"] == target and m["gz_path"] == target + ".gz"
    with open(target) as fh:
        assert json.load(fh) == payload
    with gzip.open(target + ".gz") as fh:
        assert json.load(fh) == payload
    st, st_gz = os.stat(target), os.stat(target + ".gz")
    assert st.st_mtime == st_gz.st_mtime  # one Last-Modified for both encodings
    assert not [f for f in os.listdir(tmp_path / "assets") if f.endswith(".tmp")]
    gz1 = open(target + ".gz", "rb").read()

    # a write failing mid-.gz leaves no partial files and keeps the old asset
    def disk_full(src, dst):
        dst.write(b"partial")
        raise OSError("disk full")

    monkeypatch.setattr(shutil, "copyfileobj", disk_full)
    with pytest.raises(OSError, match="disk full"):
        publish_web_asset(target, content={"stations": 4})
    with open(target) as fh:
        assert json.load(fh) == payload  # old asset intact
    assert open(target + ".gz", "rb").read() == gz1
    assert not [f for f in os.listdir(tmp_path / "assets") if ".tmp" in f]


def test_publish_web_asset_concurrent_publishers(tmp_path, monkeypatch):
    """Two publishers of one artifact: A pauses after writing its tmp while
    B publishes.  Each call has its own tmp, so both return, the last
    rename wins and no tmp file is left behind."""
    import gzip
    import json
    import os
    import shutil
    import threading

    from ipl_dagster_pipeline_spark.io import publish_web_asset

    target = str(tmp_path / "assets" / "summary.json")
    a_wrote, b_done = threading.Event(), threading.Event()
    result: dict = {}
    copy = shutil.copyfileobj

    def pausing_copy(src, dst):
        # A's tmp is written; hold A here, before any of its renames
        if threading.current_thread().name == "publisher-a":
            a_wrote.set()
            assert b_done.wait(30)
        copy(src, dst)

    monkeypatch.setattr(shutil, "copyfileobj", pausing_copy)

    def publish_a():
        try:
            result["a"] = publish_web_asset(target, content={"by": "a"})
        except Exception as err:  # noqa: BLE001 — asserted below
            result["a"] = err

    t = threading.Thread(target=publish_a, name="publisher-a")
    t.start()
    assert a_wrote.wait(30)
    result["b"] = publish_web_asset(target, content={"by": "b"})
    b_done.set()
    t.join(30)
    assert not t.is_alive()
    assert not isinstance(result["a"], Exception), result["a"]
    assert result["a"]["path"] == result["b"]["path"] == target
    with open(target) as fh:
        assert json.load(fh) == {"by": "a"}  # A renamed last
    with gzip.open(target + ".gz") as fh:
        assert json.load(fh) == {"by": "a"}
    assert sorted(os.listdir(tmp_path / "assets")) == ["summary.json", "summary.json.gz"]


def test_morton_zorder_layout(spark):
    """The Z-order (Morton) code round-trips (de-interleaving recovers the
    clamped inputs) and a NULL dim yields a NULL code."""
    from ipl_dagster_pipeline_spark.partitioning import MORTON_BITS, morton_code

    df = spark.range(0, 4096).select(
        (F.col("id") % 64).alias("x"),
        ((F.col("id") / 64).cast("long") % 64).alias("y"),  # independent 64×64 grid
    )
    coded = df.select("x", "y", morton_code([F.col("x"), F.col("y")]).alias("z")).collect()
    for r in coded:
        x = sum(((r.z >> (2 * i)) & 1) << i for i in range(MORTON_BITS))
        y = sum(((r.z >> (2 * i + 1)) & 1) << i for i in range(MORTON_BITS))
        assert (x, y) == (r.x, r.y)

    [nz] = (
        spark.createDataFrame([(None, 3)], "a int, b int")
        .select(morton_code([F.col("a"), F.col("b")]).alias("z"))
        .collect()
    )
    assert nz.z is None
