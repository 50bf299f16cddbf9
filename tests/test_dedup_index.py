"""Incremental MinHash/LSH index: incremental == full recompute, idempotent
replay, crash resume, and snapshot maintenance survival."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from ipl_dagster_pipeline_spark.caching import tracked_scope
from ipl_dagster_pipeline_spark.metrics import scope_observations
from ipl_dagster_pipeline_spark.operators.dedup_index import MinHashIndex
from ipl_dagster_pipeline_spark.operators.graph import duplicate_groups
from ipl_dagster_pipeline_spark.operators.text_dedup import minhash_lsh_dedup

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    df = spark.read.parquet(f"{SF}/documents.parquet").cache()
    df.count()
    return df


def _pairs_set(df):
    return {(r.doc_a, r.doc_b, r.jaccard) for r in df.collect()}


def _keeper_set(df):
    return {(r.member, r.keeper) for r in df.collect()}


def test_incremental_equals_full_recompute(spark, docs, tmp_path):
    """THE contract: add_batch(b1); add_batch(b2) ≡ one-shot recompute on
    b1 ∪ b2 — identical verified pair set AND identical keeper set."""
    cut = 250
    b1 = docs.filter(F.col("doc_id") < cut)
    b2 = docs.filter(F.col("doc_id") >= cut)
    idx = MinHashIndex(str(tmp_path / "idx"))
    p1 = idx.add_batch(b1, batch_id="b1")
    p2 = idx.add_batch(b2, batch_id="b2")

    full = minhash_lsh_dedup(docs, threshold=0.5)
    assert _pairs_set(idx.all_pairs(spark)) == _pairs_set(full)
    # batch-2 delta is exactly the pairs with ≥1 new side
    full_delta = full.filter((F.col("doc_a") >= cut) | (F.col("doc_b") >= cut))
    assert _pairs_set(p2) == _pairs_set(full_delta)
    assert _pairs_set(p1) == _pairs_set(full) - _pairs_set(full_delta)
    assert _keeper_set(idx.keepers(spark)) == _keeper_set(duplicate_groups(full))


def test_replay_is_idempotent(spark, docs, tmp_path):
    b1 = docs.filter(F.col("doc_id") < 100)
    idx = MinHashIndex(str(tmp_path / "idx"))
    first = _pairs_set(idx.add_batch(b1, batch_id="b1"))
    n_docs = idx.docs.read(spark).count()
    n_bands = idx.bands.read(spark).count()
    again = _pairs_set(idx.add_batch(b1, batch_id="b1"))
    assert again == first
    assert idx.docs.read(spark).count() == n_docs
    assert idx.bands.read(spark).count() == n_bands


def test_crash_between_commits_resumes_without_double_append(spark, docs, tmp_path):
    """Simulate a crash after the pairs+bands commits but before the docs
    (batch-done) commit: the replay must re-commit ONLY docs, never
    double-append bands/pairs (double band rows would inflate bucket sizes)."""
    b1 = docs.filter(F.col("doc_id") < 100)
    b2 = docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 200))
    idx = MinHashIndex(str(tmp_path / "idx"))
    idx.add_batch(b1, batch_id="b1")
    idx.add_batch(b2, batch_id="b2")
    # "crash": roll back the b2 docs commit only
    docs_manifest = [
        m for m in idx.docs.snapshots() if m["meta"].get("batch_id") == "b2"
    ][0]
    os.remove(
        os.path.join(idx.docs.manifest_dir, f"{docs_manifest['snapshot_id']:012d}.json")
    )
    n_bands = idx.bands.read(spark).count()
    n_pair_snaps = len(idx.pairs.snapshots())
    idx.add_batch(b2, batch_id="b2")  # resume
    assert idx.bands.read(spark).count() == n_bands  # no double append
    assert len(idx.pairs.snapshots()) == n_pair_snaps
    assert "b2" in {m["meta"].get("batch_id") for m in idx.docs.snapshots()}


def test_param_mismatch_fails_loudly(tmp_path):
    MinHashIndex(str(tmp_path / "idx"), threshold=0.5)
    with pytest.raises(ValueError, match="index identity"):
        MinHashIndex(str(tmp_path / "idx"), threshold=0.7)


def test_default_index_params_file_is_pinned(tmp_path):
    """The exact ``index-params.json`` a default index writes: an index
    reopens only against these bytes' values, so changing them orphans
    every index already on disk."""
    root = tmp_path / "idx"
    MinHashIndex(str(root))
    assert (root / "index-params.json").read_text() == (
        '{"k": 5, "threshold": 0.5, "n_hashes": 16, "n_bands": 4, '
        '"max_bucket": 1000, "id_col": "doc_id", "text_col": "text"}'
    )


def test_empty_batch_and_no_match_batch(spark, docs, tmp_path):
    idx = MinHashIndex(str(tmp_path / "idx"))
    empty = docs.filter(F.lit(False))
    assert idx.add_batch(empty, batch_id="b0").count() == 0
    one = docs.filter(F.col("doc_id") == 0)
    assert idx.add_batch(one, batch_id="b1").count() == 0  # nothing to pair with
    assert idx.docs.read(spark).count() == 1


def test_maintain_compacts_and_preserves_reads(spark, docs, tmp_path):
    """Compaction + expiration must leave the pair/band/doc contents
    byte-identical and later batches must chain off the compacted state."""
    idx = MinHashIndex(str(tmp_path / "idx"))
    for i, lo in enumerate(range(0, 300, 100)):
        idx.add_batch(
            docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 100)),
            batch_id=f"b{i}",
        )
    before_pairs = _pairs_set(idx.all_pairs(spark))
    before_docs = idx.docs.read(spark).count()
    stats = idx.maintain(spark, keep_last=1, target_files=2)
    assert stats["docs"]["expired_manifests"] >= 1
    assert _pairs_set(idx.all_pairs(spark)) == before_pairs
    assert idx.docs.read(spark).count() == before_docs
    # a post-maintenance batch still probes and appends correctly
    p = idx.add_batch(
        docs.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < 400)), batch_id="b3"
    )
    full = minhash_lsh_dedup(docs.filter(F.col("doc_id") < 400), threshold=0.5)
    delta = full.filter((F.col("doc_a") >= 300) | (F.col("doc_b") >= 300))
    assert _pairs_set(p) == _pairs_set(delta)


def test_probe_is_delta_filtered_not_index_wide(spark, docs, tmp_path):
    """Scale contract (round-5 VERDICT #1): the stored bands scan feeding
    the bucket-size window must be semi-joined on the delta's (band, bucket)
    keys — a daily batch must never shuffle the whole corpus×n_bands index."""
    idx = MinHashIndex(str(tmp_path / "idx"))
    idx.add_batch(docs.filter(F.col("doc_id") < 200), batch_id="b1")
    b2 = docs.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 300))
    from ipl_dagster_pipeline_spark.operators.text_dedup import (
        band_rows,
        minhash_signatures,
        shingles,
    )

    bands_new = band_rows(minhash_signatures(shingles(b2))).withColumn("__new", F.lit(True))
    plan = idx._touched_bands(spark, bands_new)._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftSemi" in plan, plan
    # and the semi-join keys are the bucket coordinates, not the doc id
    semi_line = next(l for l in plan.splitlines() if "LeftSemi" in l)
    assert "band" in semi_line and "bucket" in semi_line, semi_line


def test_replay_after_maintain_is_still_idempotent(spark, docs, tmp_path):
    """Round-5 ADVICE (medium): maintain() expires the manifests carrying
    batch_id tags; a scheduler retry of an old batch afterwards must remain
    a no-op (expiry keeps the tags in each table's _tags.json), returning an
    empty delta — never a double-append."""
    idx = MinHashIndex(str(tmp_path / "idx"))
    b1 = docs.filter(F.col("doc_id") < 150)
    idx.add_batch(b1, batch_id="b1")
    idx.add_batch(docs.filter((F.col("doc_id") >= 150) & (F.col("doc_id") < 300)), batch_id="b2")
    before_pairs = _pairs_set(idx.all_pairs(spark))
    n_docs = idx.docs.read(spark).count()
    n_bands = idx.bands.read(spark).count()
    idx.maintain(spark, keep_last=1, target_files=2)
    # the batch tags are gone from live manifests but held by the registry
    assert not any(m["meta"].get("batch_id") == "b1" for m in idx.docs.snapshots())
    replay = idx.add_batch(b1, batch_id="b1")
    assert replay.count() == 0  # attribution folded away -> empty delta
    assert idx.docs.read(spark).count() == n_docs
    assert idx.bands.read(spark).count() == n_bands
    assert _pairs_set(idx.all_pairs(spark)) == before_pairs


def test_duplicate_doc_ids_are_dropped_and_observed(spark, docs, tmp_path):
    """Round-5 ADVICE (low): re-submitting an already-indexed id (even with
    NEW text) must not append a second docs/bands copy — a union of shingle
    sets would silently poison that id's exact-Jaccard verification."""
    idx = MinHashIndex(str(tmp_path / "idx"))
    b1 = docs.filter(F.col("doc_id") < 100)
    idx.add_batch(b1, batch_id="b1")
    # batch 2 re-submits ids 50..99 with mutated text plus fresh ids 100..199
    resub = (
        docs.filter((F.col("doc_id") >= 50) & (F.col("doc_id") < 100))
        .withColumn("text", F.concat(F.col("text"), F.lit(" MUTATED")))
    )
    fresh = docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 200))
    with tracked_scope() as scope:
        p2 = idx.add_batch(resub.unionByName(fresh, allowMissingColumns=False).select("doc_id", "text"), batch_id="b2")
        p2.count()
        m = scope_observations(scope.observations)
    stored = idx.docs.read(spark)
    assert stored.count() == 200  # one copy per id, originals win
    assert stored.groupBy("doc_id").count().filter("count > 1").count() == 0
    # original text retained for the re-submitted range
    orig_50 = docs.filter(F.col("doc_id") == 50).select("text").first()[0]
    assert stored.filter(F.col("doc_id") == 50).select("text").first()[0] == orig_50
    assert m["incr_index_dup_ids.dropped_dup_ids"] == 50
    assert m["incr_index_dup_ids.batch_rows"] == 150
    # and the index still equals a full recompute over the KEPT corpus
    full = minhash_lsh_dedup(docs.filter(F.col("doc_id") < 200), threshold=0.5)
    assert _pairs_set(idx.all_pairs(spark)) == _pairs_set(full)


def test_in_batch_duplicate_ids_are_dropped(spark, docs, tmp_path):
    """An id repeated WITHIN one batch must not append two docs/bands copies
    (the shingle union would poison that id's exact-Jaccard verification):
    deterministic keep-min-text, drop observable, never silent."""
    idx = MinHashIndex(str(tmp_path / "idx"))
    batch = spark.createDataFrame(
        [(7, "aaaa bbbb cccc dddd"), (7, "totally different text here"), (8, "eeee ffff gggg")],
        "doc_id long, text string",
    )
    with tracked_scope() as scope:
        idx.add_batch(batch, "b1")
        m = scope_observations(scope.observations)
    stored = idx.docs.read(spark)
    assert stored.groupBy("doc_id").count().filter(F.col("count") > 1).count() == 0
    [kept] = stored.filter(F.col("doc_id") == 7).collect()
    assert kept.text == "aaaa bbbb cccc dddd"  # keep-min-text, deterministic
    assert m["incr_index_dup_ids.dropped_batch_dups"] == 1
    assert m["incr_index_dup_ids.dropped_dup_ids"] == 0
    assert m["incr_index_dup_ids.batch_rows"] == 3


def test_torn_params_write_leaves_index_openable(tmp_path, monkeypatch):
    """A crash while index-params.json is written must not brick the index:
    the next open finds no params file (or a whole one), never half of one."""
    import json

    real_dump = json.dump

    def torn_dump(obj, fh, *a, **kw):
        fh.write(json.dumps(obj)[:5])
        raise OSError("disk went away mid-write")

    root = str(tmp_path / "idx")
    monkeypatch.setattr(json, "dump", torn_dump)
    with pytest.raises(OSError, match="mid-write"):
        MinHashIndex(root)
    monkeypatch.setattr(json, "dump", real_dump)
    assert MinHashIndex(root).params["k"] == 5
    assert MinHashIndex(root).params["k"] == 5  # and the params now persist
    assert not [f for f in os.listdir(root) if f.startswith(".")]
