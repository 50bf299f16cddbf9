"""Training-data ops: dedup quality, ANN recall, multimodal plumbing."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from ipl_dagster_pipeline_spark.operators.multimodal import (
    decode_media,
    latest_media_per_source,
    synthesize_media,
)
from ipl_dagster_pipeline_spark.operators.similarity import cosine_topk_bruteforce, lsh_topk
from ipl_dagster_pipeline_spark.operators.text_dedup import (
    exact_dedup,
    minhash_lsh_dedup,
    simhash,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    df = spark.read.parquet(f"{SF}/documents.parquet").cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF}/embeddings.parquet").cache()
    df.count()
    return df


def test_exact_dedup_finds_planted_duplicates(spark, docs):
    # plant exact dups: re-append 10 docs with new ids
    dupes = docs.limit(10).withColumn("doc_id", F.col("doc_id") + 100000)
    with_dupes = docs.unionByName(dupes)
    groups = exact_dedup(with_dupes)
    assert groups.filter("n_copies = 2").count() == 10
    # keeper is always the smallest id (the original)
    assert groups.filter("n_copies = 2").filter("keep_id >= 100000").count() == 0


def test_minhash_finds_near_dups_and_respects_threshold(docs):
    pairs = minhash_lsh_dedup(docs, threshold=0.5).toPandas()
    assert len(pairs) > 0, "sf0.001 documents contain mutated copies"
    assert (pairs["jaccard"] >= 0.5).all()


def test_minhash_finds_planted_mutation(spark, docs):
    # a doc plus itself with one word changed must pair with high jaccard
    mutated = docs.limit(1).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extraword")).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    pairs = minhash_lsh_dedup(docs.unionByName(mutated), threshold=0.5)
    hit = pairs.filter((F.col("doc_a") == 0) & (F.col("doc_b") == 200000)).collect()
    assert hit and hit[0].jaccard > 0.8


def test_simhash_similar_docs_close_hamming(spark, docs):
    sig = simhash(docs)
    mutated = docs.filter("doc_id = 0").select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz")).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    both = simhash(docs.filter("doc_id = 0").unionByName(mutated)).collect()
    a, b = both[0].simhash, both[1].simhash
    hamming = bin(a ^ b).count("1")
    assert hamming <= 3  # near-identical docs → near-identical signatures


def test_hyperplane_buckets_not_degenerate(spark, emb):
    """Round-1 regression: the sign construction must yield ≥ 2^(n-1)
    DISTINCT occupied buckets (the odd-constant %2 bug collapsed every plane
    to one alternating pattern → exactly 2 buckets)."""
    from ipl_dagster_pipeline_spark.operators.similarity import (
        _as_double,
        hyperplane_bucket,
        hyperplane_signs,
    )

    # plane patterns must be pairwise distinct
    pats = [tuple(hyperplane_signs(q, 64)) for q in range(16)]
    assert len(set(pats)) == 16
    n_rows = emb.count()
    # the sf0.001 embeddings are CLUSTERED (a few directional centroids), so
    # occupancy saturates below 2^n for large n — assert full 2^(n-1) only
    # where the corpus could fill it, plus a max-share bound everywhere (the
    # degenerate bug put ~50% of the corpus in each of exactly 2 buckets)
    for n_planes, min_occupied in ((4, 8), (8, 32)):
        dist = (
            emb.select(
                hyperplane_bucket(_as_double(F.col("embedding")), n_planes, 64).alias("b")
            )
            .groupBy("b")
            .count()
            .collect()
        )
        occupied = len(dist)
        max_share = max(r["count"] for r in dist) / n_rows
        assert occupied >= min_occupied, f"{n_planes} planes: {occupied} buckets"
        assert max_share < 0.3, f"{n_planes} planes: max bucket share {max_share}"


def test_lsh_topk_recall_vs_bruteforce(emb):
    qids = list(range(20))
    bf = cosine_topk_bruteforce(emb, qids, k=5).toPandas()
    ann = lsh_topk(emb, qids, k=5, n_planes=4, n_tables=4).toPandas()
    bf_set = set(zip(bf.query_id, bf.neighbor_id))
    ann_set = set(zip(ann.query_id, ann.neighbor_id))
    recall = len(bf_set & ann_set) / len(bf_set)
    # 4 planes × 4 tables → candidates ≈ 4/16 of the corpus per query; on the
    # clustered sf0.001 embeddings measured recall is ~0.55 (single-table was
    # ~0.23).  Band is MEANINGFUL by design: well above what the round-1
    # degenerate 2-bucket hash could trivially pass, below a full scan's 1.0.
    assert 0.35 <= recall <= 0.95, f"recall {recall}"
    # every ANN rank-1 cosine must be <= brute force rank-1 (it's a subset search)
    bf1 = bf[bf.rnk == 1].set_index("query_id").cos
    ann1 = ann[ann.rnk == 1].set_index("query_id").cos
    common = bf1.index.intersection(ann1.index)
    assert (ann1[common] <= bf1[common] + 1e-9).all()


def test_near_dup_lsh_finds_planted_dups_and_is_subset(spark, emb):
    """Planted high-cosine near-duplicates must be recovered by the LSH pair
    path at near-dup thresholds, and LSH pairs ⊆ brute-force pairs always."""
    from ipl_dagster_pipeline_spark.operators.similarity import (
        _as_double,
        cosine,
        near_dup_pairs_lsh,
    )

    # plant: copy 20 vectors with one coordinate nudged (+0.05) → cos ≈ 0.999
    planted = (
        emb.filter(F.col("vec_id") < 20)
        .select(
            (F.col("vec_id") + 10000).alias("vec_id"),
            F.transform(
                F.col("embedding"), lambda x, i: F.when(i == 0, x + F.lit(0.05)).otherwise(x)
            ).alias("embedding"),
        )
    )
    both = emb.select("vec_id", "embedding").unionByName(planted)
    pairs = near_dup_pairs_lsh(both, threshold=0.9, n_planes=8, n_tables=4).toPandas()
    hits = pairs[(pairs.vec_b - pairs.vec_a == 10000) & (pairs.vec_a < 20)]
    recall = len(hits) / 20
    assert recall >= 0.9, f"planted near-dup recall {recall}"
    # subset property: every LSH pair exists in the exact pair set at the
    # same threshold (approximation only MISSES pairs, never invents them)
    base = both.select("vec_id", _as_double(F.col("embedding")).alias("v"))
    a = base.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"))
    b = base.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"))
    exact = (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .withColumn("cos", F.round(cosine(F.col("va"), F.col("vb")), 6))
        .filter(F.col("cos") >= 0.9)
        .select("vec_a", "vec_b")
        .toPandas()
    )
    exact_set = set(zip(exact.vec_a, exact.vec_b))
    assert set(zip(pairs.vec_a, pairs.vec_b)) <= exact_set


def test_media_decode_plumbing(docs):
    media = synthesize_media(docs)
    feats = decode_media(media)
    pdf = feats.toPandas()
    assert len(pdf) == docs.count()
    img = pdf[pdf.media_type == "image"]
    assert img.width.notna().all() and img.duration_s.isna().all()
    aud = pdf[pdf.media_type == "audio"]
    assert aud.width.isna().all() and aud.duration_s.notna().all()
    assert pdf.content_hash.notna().all()


def test_latest_media_per_source(docs):
    media = synthesize_media(docs)
    latest = latest_media_per_source(media)
    assert latest.count() == 3  # one source × 3 media types
    assert latest.agg(F.sum("n_items")).collect()[0][0] == docs.count()


def test_ivf_topk_recall_and_subset(emb):
    from ipl_dagster_pipeline_spark.operators.similarity import ivf_topk

    qids = list(range(20))
    bf = cosine_topk_bruteforce(emb, qids, k=5).toPandas()
    ann = ivf_topk(emb, qids).toPandas()
    bf_set = set(zip(bf.query_id, bf.neighbor_id))
    ann_set = set(zip(ann.query_id, ann.neighbor_id))
    recall = len(bf_set & ann_set) / len(bf_set)
    # 16 cells, 4 probes → ~25% of the corpus searched; measured ~0.64
    assert 0.4 <= recall <= 0.98, f"recall {recall}"
    # subset property: ANN cosine ≤ exact cosine at the same rank
    bf1 = bf.set_index(["query_id", "rnk"]).cos
    ann1 = ann.set_index(["query_id", "rnk"]).cos
    common = bf1.index.intersection(ann1.index)
    assert (ann1[common] <= bf1[common] + 1e-9).all()


def test_ivf_topk_pinned_recall_subset_and_determinism(emb):
    """The pinned-quantizer IVF sibling: same recall/subset invariants as the
    learned path, PLUS bit-determinism under repartitioning (the property the
    value-hash oracle depends on)."""
    from ipl_dagster_pipeline_spark.operators.similarity import ivf_topk_pinned

    qids = list(range(20))
    bf = cosine_topk_bruteforce(emb, qids, k=5).toPandas()
    ann = ivf_topk_pinned(emb, qids, k=5, n_clusters=16, n_probe=4).toPandas()
    bf_set = set(zip(bf.query_id, bf.neighbor_id))
    ann_set = set(zip(ann.query_id, ann.neighbor_id))
    recall = len(bf_set & ann_set) / len(bf_set)
    # hash-seeded medoid cells, 4/16 probed — same candidate mass as learned
    # IVF; the band is meaningful (well below 1.0, far above degenerate)
    assert 0.3 <= recall <= 0.98, f"recall {recall}"
    bf1 = bf.set_index(["query_id", "rnk"]).cos
    ann1 = ann.set_index(["query_id", "rnk"]).cos
    common = bf1.index.intersection(ann1.index)
    assert (ann1[common] <= bf1[common] + 1e-9).all()
    # bit-determinism at different parallelism (centroids, assignment, probes
    # and re-rank are all pure functions of the data + seed)
    again = ivf_topk_pinned(
        emb.repartition(7), qids, k=5, n_clusters=16, n_probe=4
    ).toPandas()
    key = ["query_id", "rnk"]
    assert sorted(map(tuple, ann[key + ["neighbor_id", "cos"]].values.tolist())) == sorted(
        map(tuple, again[key + ["neighbor_id", "cos"]].values.tolist())
    )


def test_media_resize_and_frame_sample_plumbing(docs):
    from ipl_dagster_pipeline_spark.operators.multimodal import resize_images, sample_frames

    media = synthesize_media(docs)
    resized = resize_images(media, target=(96, 96)).toPandas()
    n_images = media.filter("media_type = 'image'").count()
    assert len(resized) == n_images  # non-images never reach the Arrow stage
    assert (resized.out_w <= 96).all() and (resized.out_h <= 96).all()
    assert (resized.scale <= 1.0).all() and (resized.scale > 0).all()  # never upscale
    # aspect preserved within integer truncation: out_w/out_h ≈ w/h
    frames = sample_frames(media).toPandas()
    n_videos = media.filter("media_type = 'video'").count()
    assert frames.media_id.nunique() == n_videos
    per = frames.groupby("media_id").frame_idx.agg(["min", "max", "count"])
    assert (per["min"] == 0).all()
    assert (per["max"] == per["count"] - 1).all()  # contiguous 0..n-1
    assert (per["count"] <= 16).all()


def test_winnow_fingerprints_detect_shared_substrings(spark, docs):
    """Winnowing guarantee: a mutated copy (one word appended) shares almost
    all fingerprints with the original; an unrelated doc shares few."""
    from ipl_dagster_pipeline_spark.operators.text_dedup import winnow_fingerprints

    mutated = docs.filter("doc_id = 0").select(
        (F.col("doc_id") + 400000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tailword")).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    fp = winnow_fingerprints(docs.filter("doc_id IN (0, 1)").unionByName(mutated)).toPandas()
    sets = {d: set(g.fingerprint) for d, g in fp.groupby("doc_id")}
    orig, mut, other = sets[0], sets[400000], sets[1]
    overlap_mut = len(orig & mut) / len(orig)
    overlap_other = len(orig & other) / len(orig)
    assert overlap_mut > 0.9, overlap_mut
    assert overlap_other < overlap_mut
    # density: ~1/window of the k-gram stream, never empty
    assert all(len(s) > 0 for s in sets.values())


def test_winnow_short_doc_fallback(spark):
    """Docs shorter than one full window (< k+window-1 = 8 chars with
    defaults) must still emit exactly ONE fingerprint — min(h) over the whole
    doc — so short docs stay visible to copy detection."""
    from ipl_dagster_pipeline_spark.operators.text_dedup import winnow_fingerprints

    df = spark.createDataFrame(
        [(1, "ab"), (2, "abcdefg"), (3, "abcdefgh"), (4, "ab"), (5, "")],
        ["doc_id", "text"],
    )
    fp = winnow_fingerprints(df).toPandas()
    per = fp.groupby("doc_id").fingerprint.agg(["count", "min"])
    # every doc (even the 2-char and empty ones) has >= 1 fingerprint
    assert sorted(per.index) == [1, 2, 3, 4, 5]
    assert (per.loc[[1, 2], "count"] == 1).all()
    # identical short docs share the fallback fingerprint
    assert per.loc[1, "min"] == per.loc[4, "min"]
    # full-window docs are unchanged by the fallback (8 chars = 4 positions =
    # exactly one full window -> one fingerprint as before)
    assert per.loc[3, "count"] == 1


def test_lsh_dropped_buckets_are_observable(spark, monkeypatch):
    """Silent-cap honesty: capping oversized LSH buckets must emit an
    observable dropped count (reference dedup-delta warning analog)."""
    from ipl_dagster_pipeline_spark.caching import tracked_scope
    from ipl_dagster_pipeline_spark.metrics import scope_observations
    from ipl_dagster_pipeline_spark.operators import text_dedup
    from ipl_dagster_pipeline_spark.operators.text_dedup import (
        lsh_candidates,
        minhash_signatures,
        shingles,
    )

    monkeypatch.setattr(text_dedup, "LSH_MAX_BUCKET", 4)
    # 12 identical docs -> every band bucket has 12 members > the cap of 4
    # (all capped), plus 6 unique docs that survive (so AQE cannot prune the
    # observed branch as an empty relation — see scope_observations caveat)
    rows = [(i, "the same degenerate text for every document here") for i in range(12)]
    rows += [(100 + i, f"unique text number {i} with words w{i} q{i} z{i} etc") for i in range(6)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sig = minhash_signatures(shingles(df))
    with tracked_scope() as scope:
        cand = lsh_candidates(sig).toPandas()
        got = scope_observations(scope.observations)
    assert (cand["doc_a"] >= 100).all()  # degenerate block capped away
    # 12 docs × 4 bands = 48 oversized band rows dropped, 72 total
    assert got == {"lsh_dropped.dropped_band_rows": 48, "lsh_dropped.band_rows": 72}, got


def test_ngram_jaccard_exact_all_pairs(spark):
    """With no shingle over the df cap, the inverted-index path must equal
    the brute-force pairwise Jaccard EXACTLY (it is an exact algorithm, not
    an approximation) — and planted near-dups must surface."""
    from ipl_dagster_pipeline_spark.operators.text_dedup import (
        ngram_jaccard_pairs,
        shingles,
    )

    base = [
        (1, "the quick brown fox jumps over the lazy dog in the yard"),
        (2, "the quick brown fox jumps over the lazy cat in the yard"),  # near-dup of 1
        (3, "completely different content about spark window functions"),
        (4, "totally unrelated text with zero overlapping phrases at all"),
    ]
    df = spark.createDataFrame(base, ["doc_id", "text"])
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(df, threshold=0.3, max_df=100).collect()
    }
    # brute force from the shingle sets
    sh = shingles(df).collect()
    sets: dict[int, set] = {}
    for r in sh:
        sets.setdefault(r.doc_id, set()).add(r.s)
    want = {}
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
            if round(j, 6) >= 0.3:
                want[(a, b)] = round(j, 6)
    assert got == want and (1, 2) in got


def test_ngram_jaccard_df_cap_is_observable(spark):
    """Stopword-shingles over the cap leave the similarity space, and the
    dropped row count is observable (silent-cap honesty)."""
    from ipl_dagster_pipeline_spark.caching import tracked_scope
    from ipl_dagster_pipeline_spark.metrics import scope_observations
    from ipl_dagster_pipeline_spark.operators.text_dedup import ngram_jaccard_pairs

    # 8 docs sharing one common phrase (df=8 > cap -> dropped) + unique
    # tails, PLUS one planted near-dup pair whose shared shingles are rare
    # (df=2 <= cap) so the final output is non-empty — an all-empty result
    # would let AQE empty-relation propagation prune the observed branch
    # (the documented scope_observations caveat; same guard as the lsh test)
    rows = [(i, f"shared common prefix phrase here unique tail {i} w{i} z{i}") for i in range(8)]
    rows += [
        (10, "a very distinctive rare sentence only this pair contains verbatim"),
        (11, "a very distinctive rare sentence only this pair contains verbatim!"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    with tracked_scope() as scope:
        pairs = ngram_jaccard_pairs(df, threshold=0.5, max_df=4).toPandas()
        got = scope_observations(scope.observations)
    # the common-phrase docs pair with nobody (their shared shingles were
    # dropped); the planted rare pair survives
    assert set(zip(pairs.doc_a, pairs.doc_b)) == {(10, 11)}
    assert got["ngram_df_dropped.dropped_shingle_rows"] > 0, got


def test_tracked_scope_isolates_concurrent_pipelines(spark):
    """ADVICE (round 3): release_tracked() from one pipeline must not
    unpersist frames another concurrently running pipeline still reads.
    Scoped persists belong to their scope, not the global registry."""
    from ipl_dagster_pipeline_spark.caching import (
        release_tracked,
        tracked_persist,
        tracked_scope,
    )

    release_tracked(blocking=True)
    with tracked_scope():
        mine = tracked_persist(spark.range(50).selectExpr("id", "id * 2 AS v"))
        mine.count()
        assert mine.storageLevel.useMemory
        # another pipeline's global release: must NOT touch the scoped frame
        assert release_tracked(blocking=True) == 0
        assert mine.storageLevel.useMemory
    # scope exit released it
    assert not mine.storageLevel.useMemory
    # unscoped persists still go to (and release from) the global registry
    glob = tracked_persist(spark.range(10))
    assert release_tracked(blocking=True) == 1
    assert not glob.storageLevel.useMemory


def test_tracked_release_keeps_a_plan_another_holder_persisted(spark):
    """Spark caches by plan: two registrations of the same plan (separate
    DataFrame objects, as two stages running the same fit build them) share
    one cache entry, and releasing the first must leave it cached for the
    second; the last release drops it."""
    from ipl_dagster_pipeline_spark.caching import tracked_persist, tracked_scope

    def plan():
        return spark.range(40).selectExpr("id % 7 AS k", "id * 3 AS v")

    with tracked_scope():
        first = tracked_persist(plan())
        first.count()
        with tracked_scope():
            second = tracked_persist(plan())
            assert second is not first and second.storageLevel.useMemory
        assert first.storageLevel.useMemory
    assert not first.storageLevel.useMemory


def test_scope_observations_survive_probe_drift(spark, monkeypatch):
    """Round-3 verdict #3: cap-honesty must not turn silently off if the
    private ``obs._jo.future()`` probe disappears in a Spark upgrade.  With
    the probe disabled (simulated drift), the public-API fallback still
    delivers the observation."""
    from ipl_dagster_pipeline_spark import metrics
    from ipl_dagster_pipeline_spark.caching import tracked_scope

    monkeypatch.setattr(metrics, "_probe_completed", lambda obs, deadline: None)
    monkeypatch.setattr(metrics, "_SCOPE_OBSERVATION_TIMEOUT_S", 5.0)
    with tracked_scope() as scope:
        obs = metrics.register_observation("drifted_cap")
        spark.range(0, 100).observe(obs, F.count(F.lit(1)).alias("rows")).count()
        assert scope.observations == [obs]
        assert metrics.scope_observations(scope.observations) == {"drifted_cap.rows": 100}


def test_stage_leaves_out_and_lets_go_of_unrun_observation(spark, tmp_path):
    """An Observation whose branch never ran is absent from the stage's
    lineage map (absent != zero), and nothing holds it once the stage's
    scope has exited; one that ran is summed onto the row."""
    import gc
    import weakref

    import pyarrow.parquet as pq

    from ipl_dagster_pipeline_spark import metrics
    from ipl_dagster_pipeline_spark.checkpoint import CheckpointedPipeline

    refs = []

    def stage():
        idle = metrics.register_observation("bound_test_idle")
        spark.range(3).observe(idle, F.count(F.lit(1)).alias("rows"))  # never executed
        refs.append(weakref.ref(idle))
        ran = metrics.register_observation("bound_test_ran")
        return spark.range(7).observe(ran, F.count(F.lit(1)).alias("rows"))

    pipe = CheckpointedPipeline(spark, str(tmp_path / "ckpt"))
    pipe.stage("s", stage)
    [row] = pq.read_table(pipe.lineage_path).to_pylist()
    assert dict(row["observations"]) == {"bound_test_ran.rows": 7}
    gc.collect()
    assert refs[0]() is None
    # outside any scope, registering holds nothing either
    outside = weakref.ref(metrics.register_observation("bound_test_outside"))
    gc.collect()
    assert outside() is None


def test_tracked_persists_are_released(spark, docs):
    """After a consuming action + release_tracked() the persisted
    intermediates (shingles, bands, buckets) leave executor storage."""
    from ipl_dagster_pipeline_spark.caching import release_tracked
    from ipl_dagster_pipeline_spark.operators.text_dedup import minhash_lsh_dedup

    release_tracked(blocking=True)  # clear anything earlier tests left behind
    jmap = spark.sparkContext._jsc.getPersistentRDDs
    # compare RDD-id SETS, not counts: the async ContextCleaner may reap
    # earlier tests' localCheckpoint RDDs between measurements
    before = set(jmap().keySet().toArray())
    minhash_lsh_dedup(docs, threshold=0.5).count()
    pinned = set(jmap().keySet().toArray()) - before
    assert len(pinned) >= 2  # shingles + bands
    released = release_tracked(blocking=True)
    assert released >= 2
    assert not (set(jmap().keySet().toArray()) & pinned)


def test_bm25_scores_match_python_reference(spark):
    """BM25 (rational IDF, fixed-order sum) must equal a plain-Python float
    replication EXACTLY — the bit-determinism the value-hash oracle needs —
    and rank the term-dense doc first."""
    from ipl_dagster_pipeline_spark.operators.ranking import bm25_scores

    rows = [
        (1, "spark table table query fast"),
        (2, "table scan slow"),
        (3, "nothing relevant here at all"),
        (4, "query query query table window hash window"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    terms = ["table", "query", "window"]
    got = {r.doc_id: (r.score, r.n_terms_matched) for r in bm25_scores(df, terms).collect()}
    assert 3 not in got  # no matching term -> no row

    # python replication with the exact same op order
    toks = {i: t.split(" ") for i, t in rows}
    dl = {i: len(ts) for i, ts in toks.items()}
    n_docs, tot_len = len(dl), sum(dl.values())
    k1, b = 1.2, 0.75
    tf = {(i, t): toks[i].count(t) for i in toks for t in terms if t in toks[i]}
    dfq = {t: sum(1 for (i, tt) in tf if tt == t) for t in terms}
    exp = {}
    for i in toks:
        per = []
        for t in terms:
            if (i, t) not in tf:
                per.append(0.0)
                continue
            f = tf[(i, t)]
            s = ((n_docs - dfq[t] + 0.5) / (dfq[t] + 0.5)) * (f * (k1 + 1.0)) / (
                f + k1 * (1.0 - b + b * (dl[i] / (tot_len / n_docs)))
            )
            per.append(s)
        if any(per):
            total = 0.0
            for s in per:
                total = total + s
            exp[i] = round(total, 6)
    assert {i: got[i][0] for i in got} == exp
    assert got[4][1] == 3 and got[1][1] == 2
    # term-dense doc 4 outranks everything
    assert got[4][0] == max(v[0] for v in got.values())
    import pytest as _pytest
    with _pytest.raises(ValueError, match="query_terms"):
        bm25_scores(df, [])


def test_robust_outliers_planted_and_null_group(spark):
    """A planted extreme value must be flagged; the bulk must not; a NULL
    group participates (null-safe stat joins)."""
    from ipl_dagster_pipeline_spark.operators.profiling import robust_outliers

    rows = (
        [(i, "a", 100 + (i % 5)) for i in range(40)]      # tight cluster
        + [(1000, "a", 10_000)]                            # planted outlier
        + [(i, None, 200 + (i % 3)) for i in range(50, 70)]  # null group
        + [(2000, None, 1)]                                # null-group outlier
    )
    df = spark.createDataFrame(rows, "doc_id long, g string, v long")
    out = robust_outliers(df, ["g"], "v", "doc_id")
    got = {(r.g, r.doc_id): (r.med, r.mad) for r in out.collect()}
    assert set(got) == {("a", 1000), (None, 2000)}
    med, mad = got[("a", 1000)]
    assert med in (100, 101, 102, 103, 104) and mad <= 2


class TestSampleNegatives:
    def test_counts_and_no_self_negatives(self, spark, monkeypatch):
        from ipl_dagster_pipeline_spark.operators import sampling
        from ipl_dagster_pipeline_spark.operators.sampling import sample_negatives

        df = spark.createDataFrame([(i,) for i in range(20)], "doc_id long")
        out = sample_negatives(df, "doc_id", 3).collect()
        assert len(out) == 60  # every anchor gets exactly k rows
        assert all(r["neg_doc_id"] != r["doc_id"] for r in out)  # never self
        assert all(1 <= r["neg_rank"] <= 3 for r in out)
        # deterministic: a second run is identical
        again = sample_negatives(df, "doc_id", 3).collect()
        assert sorted(map(tuple, out)) == sorted(map(tuple, again))
        # a different seed draws a different sample
        monkeypatch.setattr(sampling, "NEG_SEED", 54)
        other = sample_negatives(df, "doc_id", 3).collect()
        assert sorted(map(tuple, out)) != sorted(map(tuple, other))

    def test_two_row_corpus_and_guards(self, spark):
        from ipl_dagster_pipeline_spark.operators.sampling import sample_negatives

        two = spark.createDataFrame([(1,), (2,)], "doc_id long")
        out = sample_negatives(two, "doc_id", 2).collect()
        # with n=2 the only valid negative is the other row — always
        assert all(r["neg_doc_id"] != r["doc_id"] for r in out) and len(out) == 4
        import pytest as _pt
        with _pt.raises(ValueError, match=">= 2 rows"):
            sample_negatives(two.limit(1), "doc_id", 2)
        with _pt.raises(ValueError, match="k must be"):
            sample_negatives(two, "doc_id", 0)
