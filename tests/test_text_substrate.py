"""The shared text substrate's contracts: the similarity-threshold range every
Jaccard/containment entry point enforces, and the dropped-row count of every
capped self-join site, checked against an independent recount of the rows
in oversized buckets."""

from __future__ import annotations

import random

import pandas as pd
import pyspark.sql.functions as F
import pytest

from ipl_dagster_pipeline_spark.caching import tracked_scope
from ipl_dagster_pipeline_spark.metrics import scope_observations
from ipl_dagster_pipeline_spark.operators import similarity, text_dedup
from ipl_dagster_pipeline_spark.operators.dedup_index import MinHashIndex

BAD_THRESHOLDS = [0.0, -0.25, 1.5, float("nan")]


def _threshold_calls(spark, tmp_path):
    docs = spark.createDataFrame([(1, "some text here")], "doc_id long, text string")
    cand = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    sh = text_dedup.shingles(docs)
    return {
        "jaccard_pairs": lambda t: text_dedup.jaccard_pairs(cand, sh, threshold=t),
        "ngram_jaccard_pairs": lambda t: text_dedup.ngram_jaccard_pairs(docs, threshold=t),
        "overlap_pairs": lambda t: text_dedup.overlap_pairs(docs, threshold=t),
        "MinHashIndex": lambda t: MinHashIndex(str(tmp_path / "idx"), threshold=t),
    }


@pytest.mark.parametrize("threshold", BAD_THRESHOLDS)
@pytest.mark.parametrize(
    "op", ["jaccard_pairs", "ngram_jaccard_pairs", "overlap_pairs", "MinHashIndex"]
)
def test_threshold_outside_unit_interval_raises(spark, tmp_path, op, threshold):
    """A threshold outside (0, 1] keeps every pair or none: it fails loudly,
    before anything is planned or written."""
    call = _threshold_calls(spark, tmp_path)[op]
    with pytest.raises(ValueError, match=r"\(0, 1\]"):
        call(threshold)
    assert not (tmp_path / "idx").exists()
    call(1.0)  # the closed upper end is a valid threshold


# -- capped self-join sites ------------------------------------------------

CAP = 4
DEGENERATE = "the same degenerate text for every document here"


def _docs(spark, ids_from: int = 0, n_degenerate: int = 12):
    """A degenerate block (identical text: every bucket/shingle oversized),
    unique docs, and one planted near-dup pair that survives every cap — an
    all-empty result would let AQE prune the observed branch."""
    rows = [(ids_from + i, DEGENERATE) for i in range(n_degenerate)]
    rows += [(100 + ids_from + i, f"unique text number {i} with words w{i} q{i} z{i}") for i in range(4)]
    rows += [
        (200 + ids_from, "a very distinctive rare sentence only this pair contains verbatim"),
        (201 + ids_from, "a very distinctive rare sentence only this pair contains verbatim!"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _oversized_rows(pdf: pd.DataFrame, keys: list[str], cap: int) -> int:
    sizes = pdf.groupby(keys)[keys[0]].transform("size")
    return int((sizes > cap).sum())


def _observe(prefix: str, action) -> dict:
    """``{metric: n}`` of the ``prefix`` counts that ``action`` (the operator
    call and its consuming action) registers, read from a scope around it
    the way a checkpointed stage reads them onto its lineage row."""
    with tracked_scope() as scope:
        assert action() > 0  # a surviving pair keeps the observed branch alive
        observed = scope_observations(scope.observations)
    return {k.removeprefix(f"{prefix}."): v for k, v in observed.items() if k.startswith(f"{prefix}.")}


def _bands(df):
    return text_dedup.band_rows(text_dedup.minhash_signatures(text_dedup.shingles(df))).toPandas()


def _lsh_candidates(spark, tmp_path):
    df = _docs(spark)
    sig = text_dedup.minhash_signatures(text_dedup.shingles(df))
    bands = _bands(df)
    got = _observe("lsh_dropped", lambda: text_dedup.lsh_candidates(sig, max_bucket=CAP).count())
    want = {"dropped_band_rows": _oversized_rows(bands, ["band", "bucket"], CAP), "band_rows": len(bands)}
    return [(got, want)]


def _shingle_site(fn, prefix, **kw):
    def site(spark, tmp_path):
        df = _docs(spark)
        sh = text_dedup.shingles(df).toPandas()
        got = _observe(prefix, lambda: fn(df, max_df=CAP, **kw).count())
        want = {"dropped_shingle_rows": _oversized_rows(sh, ["s"], CAP), "shingle_rows": len(sh)}
        return [(got, want)]

    return site


def _near_dup_pairs_lsh(spark, tmp_path):
    rng = random.Random(5)
    dim, planes, tables = 8, 6, 2
    rows = [(i, [1.0] * dim) for i in range(10)]  # one direction: oversized in every table
    for j in range(4):  # near-dup pairs in other directions
        v = [rng.uniform(-1, 1) for _ in range(dim)]
        rows += [(100 + 2 * j, v), (101 + 2 * j, [x * 1.001 for x in v])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    buckets = similarity.hyperplane_buckets_tall(emb, planes, tables, dim).toPandas()
    got = _observe(
        "emb_lsh_dropped",
        lambda: similarity.near_dup_pairs_lsh(
            emb, threshold=0.9, n_planes=planes, n_tables=tables, dim=dim, max_bucket=CAP
        ).count(),
    )
    want = {
        "dropped_bucket_rows": _oversized_rows(buckets, ["tbl", "bucket"], CAP),
        "bucket_rows": len(buckets),
    }
    return [(got, want)]


def _minhash_index(spark, tmp_path):
    """Two batches: the probe cap counts the batch's rows in buckets whose
    stored ∪ new size exceeds the cap."""
    idx = MinHashIndex(str(tmp_path / "idx"), max_bucket=CAP)
    batches = [_docs(spark, 0, 6), _docs(spark, 1000, 6)]
    union = pd.concat([_bands(b).assign(batch=n) for n, b in enumerate(batches)])
    out = []
    for n, batch in enumerate(batches):
        seen = union[union.batch <= n].copy()
        seen["size"] = seen.groupby(["band", "bucket"])["band"].transform("size")
        new = seen[seen.batch == n]
        got = _observe("incr_lsh_dropped", lambda: idx.add_batch(batch, f"b{n}").count())
        want = {"dropped_probe_rows": int((new["size"] > CAP).sum()), "probe_rows": len(new)}
        out.append((got, want))
    return out


CAPPED_SITES = {
    "lsh_candidates": _lsh_candidates,
    "ngram_jaccard_pairs": _shingle_site(text_dedup.ngram_jaccard_pairs, "ngram_df_dropped", threshold=0.5),
    "overlap_pairs": _shingle_site(text_dedup.overlap_pairs, "containment_df_dropped", threshold=0.8),
    "near_dup_pairs_lsh": _near_dup_pairs_lsh,
    "MinHashIndex.add_batch": _minhash_index,
}


@pytest.mark.parametrize("site", sorted(CAPPED_SITES))
def test_cap_observation_counts_oversized_bucket_rows(spark, tmp_path, site):
    """Every cap reports exactly the rows it dropped: the observed dropped
    count equals a recount of the rows in buckets above the cap, and the
    observed total equals the rows that entered the cap."""
    for got, want in CAPPED_SITES[site](spark, tmp_path):
        assert min(want.values()) > 0
        assert got == want


def test_corpus_dedup_pairs_lineage_counts_dropped_band_rows(spark, tmp_path, monkeypatch):
    """End to end: ``jobs/corpus_dedup.py``'s ``pairs`` stage over a corpus
    with a degenerate block larger than the LSH bucket cap carries the
    dropped band rows on its lineage row, equal to a recount of the rows in
    oversized buckets."""
    import inspect
    import sys

    import pyarrow.parquet as pq

    import jobs.corpus_dedup as job

    cap = inspect.signature(text_dedup.lsh_candidates).parameters["max_bucket"].default
    block = spark.range(10_000, 10_000 + cap).select(
        F.col("id").alias("doc_id"), F.lit(DEGENERATE).alias("text")
    )
    df = _docs(spark).unionByName(block).select(
        "doc_id", "text", F.lit("en").alias("lang"), F.lit("s0").alias("source"),
        F.length("text").cast("long").alias("n_chars"),
    )
    src = tmp_path / "in"
    df.write.parquet(str(src / "documents.parquet"))
    out = str(tmp_path / "out")
    monkeypatch.setattr(sys, "argv", ["corpus_dedup.py", "--input", str(src), "--output", out])
    job.main()

    bands = _bands(df)
    want = {
        "lsh_dropped.dropped_band_rows": _oversized_rows(bands, ["band", "bucket"], cap),
        "lsh_dropped.band_rows": len(bands),
    }
    rows = {r["stage"]: r["observations"] for r in pq.read_table(f"{out}/_lineage").to_pylist()}
    assert want["lsh_dropped.dropped_band_rows"] > 0
    assert dict(rows["pairs"]) == want
    assert rows["exact"] is None  # a stage that registers no Observation
