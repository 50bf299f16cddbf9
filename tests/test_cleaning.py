"""Corpus cleaning: repetition collapse, quality gate, PII, decontamination."""

from __future__ import annotations

import pyspark.sql.functions as F

from ipl_dagster_pipeline_spark.operators.cleaning import (
    collapse_adjacent_repeats,
    contamination_flags,
    quality_gate,
    redact_pii,
)


def test_collapse_adjacent_repeats(spark):
    df = spark.createDataFrame(
        [(1, "a a the the the cat cat sat"), (2, "no repeats here"), (3, "x")],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r.text_clean for r in collapse_adjacent_repeats(df).collect()}
    assert got == {1: "a the cat sat", 2: "no repeats here", 3: "x"}


def test_redact_pii(spark):
    df = spark.createDataFrame(
        [(1, "mail bob.smith+x@corp.example.org call +49 171 123-4567 host 10.0.0.1 ok")],
        ["doc_id", "text"],
    )
    out = df.select(redact_pii(F.col("text")).alias("t")).collect()[0].t
    assert "<EMAIL>" in out and "<PHONE>" in out and "<IP>" in out
    assert "bob" not in out and "171" not in out and "10.0.0.1" not in out


def test_quality_gate_flags(spark):
    rows = [
        # doc_id, n_ws_tokens, alpha_ratio, punct_ratio, mean_word_len
        (1, 50, 0.8, 0.05, 4.5),   # clean
        (2, 3, 0.8, 0.05, 4.5),    # too short
        (3, 50, 0.2, 0.05, 4.5),   # low alpha
        (4, 50, 0.8, 0.5, 4.5),    # high punct
        (5, 50, 0.8, 0.05, 20.0),  # word len
    ]
    df = spark.createDataFrame(
        rows, ["doc_id", "n_ws_tokens", "alpha_ratio", "punct_ratio", "mean_word_len"]
    )
    got = {r.doc_id: r.passes_quality for r in quality_gate(df).collect()}
    assert got == {1: True, 2: False, 3: False, 4: False, 5: False}


def test_quality_gate_is_total_under_null_stats(spark):
    """A null stats column (drifted producer) must not null the verdict:
    flags coalesce to false, so passes_quality is never null."""
    rows = [
        (1, 50, 0.8, 0.05, None),   # null mean_word_len
        (2, None, 0.8, 0.05, 4.5),  # null token count
        (3, None, None, None, None),
    ]
    schema = "doc_id int, n_ws_tokens int, alpha_ratio double, punct_ratio double, mean_word_len double"
    df = spark.createDataFrame(rows, schema)
    out = quality_gate(df).collect()
    assert all(r.passes_quality is not None for r in out)
    assert all(
        getattr(r, c) is not None
        for r in out
        for c in ("flag_too_short", "flag_too_long", "flag_low_alpha", "flag_high_punct", "flag_word_len")
    )
    # the all-null row fires no rule → passes (rules abstain, not condemn)
    assert {r.doc_id: r.passes_quality for r in out} == {1: True, 2: True, 3: True}


def test_curate_keepers_rekeys_to_surviving_member(spark):
    """If a component's nominal keeper (min id) fails eligibility, the group
    must be represented by its next-best surviving member, not vanish."""
    from ipl_dagster_pipeline_spark.operators.cleaning import curate_keepers

    # stats for docs 1..5; doc 1 fails quality (alpha 0.1)
    stats = spark.createDataFrame(
        [(1, 0.1), (2, 0.9), (3, 0.9), (4, 0.9), (5, 0.9)], ["doc_id", "alpha_ratio"]
    )
    # exact dedup: doc 4 is an exact copy of doc 5 → keeper 4, doc 5 dropped
    exact = spark.createDataFrame(
        [("fa", 1, 1), ("fb", 2, 1), ("fc", 3, 1), ("fd", 4, 2)],
        ["fp", "keep_id", "n_copies"],
    )
    # near-dup component {1, 2, 3} with nominal keeper 1 (which fails quality)
    groups = spark.createDataFrame(
        [(1, 1, True), (2, 1, False), (3, 1, False)], ["member", "keeper", "is_keeper"]
    )
    kept = sorted(r.doc_id for r in curate_keepers(stats, exact, groups).collect())
    # doc 2 survives as the re-keyed group representative; doc 3 dropped as
    # its redundant sibling; doc 1 dropped by quality; doc 4 kept; doc 5 was
    # never an exact keeper
    assert kept == [2, 4]


def test_contamination_flags_exact_and_copy(spark):
    bench = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog again and again tonight")],
        ["doc_id", "text"],
    )
    corpus = spark.createDataFrame(
        [
            (10, "prefix words then the quick brown fox jumps over the lazy dog again and again tonight"),
            (11, "completely unrelated content about spark shuffles and window frames in engines"),
        ],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r.contaminated for r in contamination_flags(corpus, bench, k=30).collect()}
    assert got == {10: True, 11: False}


def test_overlap_pairs_catches_excerpt_jaccard_misses(spark):
    """A short doc embedded verbatim in a long one: containment ≈ 1 while
    Jaccard stays below any useful threshold — the case this operator exists
    for.  Also pins the contained-side naming and the df-cap observation."""
    from ipl_dagster_pipeline_spark.caching import tracked_scope
    from ipl_dagster_pipeline_spark.metrics import scope_observations
    from ipl_dagster_pipeline_spark.operators.text_dedup import (
        ngram_jaccard_pairs,
        overlap_pairs,
    )

    excerpt = "the quick brown fox jumps over the lazy dog near the river bank"
    long_doc = (
        "completely unrelated opening about distributed query engines and "
        "shuffle partitioning strategies. " + excerpt + " and then a long "
        "unrelated tail section describing adaptive execution, skew joins, "
        "broadcast thresholds, and columnar storage formats in detail."
    )
    docs = spark.createDataFrame(
        [(1, long_doc), (2, excerpt), (3, "nothing in common with either")],
        "doc_id long, text string",
    )
    with tracked_scope() as scope:
        got = overlap_pairs(docs, threshold=0.8, max_df=100).collect()
        drop = scope_observations(scope.observations)
    assert len(got) == 1
    row = got[0]
    assert (row.doc_a, row.doc_b, row.doc_small) == (1, 2, 2)  # excerpt named
    assert row.overlap >= 0.95 and row.n_a > row.n_b
    assert drop["containment_df_dropped.dropped_shingle_rows"] == 0
    # symmetric Jaccard misses the same pair at the same bar
    jac = ngram_jaccard_pairs(docs, threshold=0.8, max_df=100).collect()
    assert jac == []


def test_fuzzy_contamination_catches_paraphrase(spark):
    """Near-dup decontamination: a lightly edited copy of a benchmark doc is
    flagged (no shared 30-gram needed); an unrelated doc is not; the
    benchmark side never appears as a corpus doc_id."""
    from ipl_dagster_pipeline_spark.operators.cleaning import (
        contamination_flags,
        fuzzy_contamination_pairs,
    )

    bench_text = "the quick brown fox jumps over the lazy dog near the river bank today"
    leaked = bench_text.replace("today", "now")  # paraphrased leak
    corpus = spark.createDataFrame(
        [(1, leaked), (2, "completely different content about spark shuffles and joins xyz")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(97, bench_text)], "doc_id long, text string")

    pairs = fuzzy_contamination_pairs(corpus, bench, threshold=0.5).collect()
    assert [(r.doc_id, r.bench_id) for r in pairs] == [(1, 97)]
    assert pairs[0].jaccard > 0.5

    # the exact 30-gram probe misses the edited leak — the fuzzy path is
    # a strictly stronger guard here
    exact = {r.doc_id: r.contaminated for r in
             contamination_flags(corpus, bench, k=30).collect()}
    assert exact == {1: True, 2: False} or exact[2] is False
