"""Corpus-cleaning operators for training-data pipelines: intra-document
repetition removal, rule-based quality gating, PII redaction, and benchmark
decontamination.

These are the standard text-curation stages of public LLM data pipelines
(C4 / Gopher / RefinedWeb lineage), re-expressed as JVM-side DataFrame ops:

* ``collapse_adjacent_repeats`` — token-level windowed dedup + ordered
  reassembly (no regex backreferences, which RE2-based engines lack);
* ``quality_gate`` — boolean rule flags over the textstats metrics, kept as
  COLUMNS (filterable, but also auditable — a curation pipeline wants to
  count what each rule kills);
* ``redact_pii`` — chained ``regexp_replace`` with RE2-compatible patterns
  (portable to any engine; no lookarounds);
* ``contamination_flags`` — k-gram hash semi-join against a benchmark
  document set: a corpus doc is contaminated if it shares any k-gram with
  the benchmark (the decontamination rule used before training).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..caching import tracked_persist
from .text_dedup import kgrams, normalize_text, portable_hash

# RE2-compatible (works in Spark's Java regex AND DuckDB's RE2): no
# backreferences, no lookarounds.
PII_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (r"\+?\d[\d .-]{7,}\d", "<PHONE>"),
]


def redact_pii(col: Column) -> Column:
    """Chained global regex redaction (emails → IPs → phones).  Order
    matters: emails first so their digit runs can't half-match as phones."""
    out = col
    for pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def collapse_adjacent_repeats(docs: DataFrame) -> DataFrame:
    """``docs`` plus ``text_clean``: ``text`` with runs of adjacent
    duplicate tokens collapsed ("a a the" → "a the").

    Split → positional explode → lag window per doc → drop repeats →
    order-preserving reassembly (sorted struct array, not collect order —
    deterministic under any parallelism).  One shuffle on the doc id.
    """
    from pyspark.sql import Window

    toks = docs.select(
        "doc_id", F.posexplode(F.split(normalize_text(F.col("text")), " ")).alias("i", "w")
    )
    w = Window.partitionBy("doc_id").orderBy("i")
    kept = toks.withColumn("__prev", F.lag("w").over(w)).filter(
        F.col("__prev").isNull() | (F.col("w") != F.col("__prev"))
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(F.array_sort(F.collect_list(F.struct("i", "w"))), lambda s: s["w"]),
            " ",
        ).alias("text_clean")
    )
    return docs.join(rebuilt, on="doc_id", how="left")


def quality_gate(stats: DataFrame, min_alpha_ratio: float = 0.5) -> DataFrame:
    """Gopher-style rule flags over textstats columns (``with_token_counts`` +
    ``with_quality_scores`` output).  Flags stay as columns so the pipeline
    can report per-rule kill counts before filtering on ``passes_quality``.
    Besides ``min_alpha_ratio`` the rules are fixed: 10 to 100,000 tokens,
    at most 20% punctuation, mean word length 2 to 12.

    The gate is TOTAL: a null stats column (upstream never produces one
    today, but a drifted producer might) yields flag=false — the rule simply
    does not fire — so ``passes_quality`` is never null and a
    ``filter(passes_quality)`` can never silently drop null-verdict rows."""
    flags = {
        "flag_too_short": F.col("n_ws_tokens") < 10,
        "flag_too_long": F.col("n_ws_tokens") > 100_000,
        "flag_low_alpha": F.col("alpha_ratio") < min_alpha_ratio,
        "flag_high_punct": F.col("punct_ratio") > 0.2,
        "flag_word_len": (F.col("mean_word_len") < 2.0) | (F.col("mean_word_len") > 12.0),
    }
    out = stats
    for name, expr in flags.items():
        out = out.withColumn(name, F.coalesce(expr, F.lit(False)))
    fail_any = None
    for name in flags:
        fail_any = F.col(name) if fail_any is None else (fail_any | F.col(name))
    return out.withColumn("passes_quality", ~fail_any)


def curate_keepers(
    stats: DataFrame,
    exact_groups: DataFrame,
    dup_groups: DataFrame,
    min_alpha_ratio: float = 0.5,
) -> DataFrame:
    """The curation selection of the corpus job: exact-dup keepers that pass
    the quality filter, minus near-duplicate group redundancy (by ``doc_id``).

    Eligibility is decided FIRST (exact keeper + quality), THEN the near-dup
    keeper is re-keyed to the min SURVIVING member per component — a group
    whose nominal keeper (global min id) was itself removed by exact dedup
    or quality is still represented by its next-best member instead of the
    whole group silently vanishing from the corpus.

    ``exact_groups`` = output of :func:`text_dedup.exact_dedup`
    (fp, keep_id, n_copies); ``dup_groups`` = output of
    :func:`graph.duplicate_groups` (member, keeper, is_keeper).
    """
    exact_keepers = exact_groups.select(F.col("keep_id").alias("doc_id"))
    eligible = stats.join(exact_keepers, "doc_id", "left_semi").filter(
        F.col("alpha_ratio") >= min_alpha_ratio
    )
    comp = dup_groups.select(F.col("member").alias("doc_id"), F.col("keeper").alias("__component"))
    tagged = eligible.join(comp, "doc_id", "left")
    surviving_keepers = (
        tagged.filter(F.col("__component").isNotNull())
        .groupBy("__component")
        .agg(F.min("doc_id").alias("__keep_id"))
    )
    return (
        tagged.join(surviving_keepers, "__component", "left")
        .filter(F.col("__component").isNull() | (F.col("doc_id") == F.col("__keep_id")))
        .drop("__component", "__keep_id")
    )


def contamination_flags(docs: DataFrame, benchmark: DataFrame, k: int = 5) -> DataFrame:
    """``(doc_id, contaminated)``: flag corpus docs sharing ANY k-gram of
    ``text`` with the benchmark set (the eval-decontamination rule).  Both
    sides reduce to distinct k-gram HASHES (seed 77);
    the probe is a semi-join on the hash — at 100 TB the benchmark side is
    tiny and broadcasts.
    """
    # NOT distinct: the corpus side feeds a broadcast semi-join followed by a
    # distinct on the id alone, so pre-deduping (id, gram) rows would only add
    # a corpus-wide exchange the result never needs (r7: removed the fat
    # (id, gh) shuffle; the semi-join probe is map-side against the broadcast
    # hash set and the only shuffle left carries the surviving hit ids).
    def grams(df: DataFrame) -> DataFrame:
        return kgrams(df, k=k).select("doc_id", portable_hash(F.col("gram"), 77).alias("gh"))

    bench_grams = grams(benchmark).select("gh").distinct()
    hits = (
        grams(docs)
        .join(F.broadcast(bench_grams), on="gh", how="left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    return docs.select("doc_id").distinct().join(hits, on="doc_id", how="left").select(
        "doc_id", F.coalesce(F.col("contaminated"), F.lit(False)).alias("contaminated")
    )


def fuzzy_contamination_pairs(docs: DataFrame, benchmark: DataFrame) -> DataFrame:
    """NEAR-duplicate eval-set decontamination: corpus docs whose 5-shingle
    set is Jaccard-≥-0.5 similar to ANY benchmark doc — the fuzzy
    complement of :func:`contamination_flags` (which only catches exact
    k-gram overlap; a paraphrased or lightly-edited benchmark leak slips
    past it).

    Shape at 100 TB: MinHash bands are computed for both sides (one
    map-side-combined agg each), the BENCHMARK band table is tiny and
    broadcasts, candidates come from the (band, bucket) equi-join — never
    corpus×corpus, never corpus×benchmark all-pairs — and exact Jaccard
    verification touches only candidate shingles.  ids of the two frames
    must be disjoint (they come from the same table split in practice).

    Returns ``(doc_id, bench_id, jaccard)`` — one row per contaminated
    (corpus, benchmark) pair at ≥ 0.5.
    """
    from .text_dedup import band_rows, jaccard_pairs, minhash_signatures, shingles

    sh_c = tracked_persist(shingles(docs))
    sh_b = tracked_persist(shingles(benchmark))
    bands_c = band_rows(minhash_signatures(sh_c))
    bands_b = band_rows(minhash_signatures(sh_b))
    cand = (
        bands_c.join(
            F.broadcast(bands_b.select(F.col("doc_id").alias("doc_b"), "band", "bucket")),
            on=["band", "bucket"],
        )
        .select(F.col("doc_id").alias("doc_a"), "doc_b")
        .distinct()
    )
    pairs = jaccard_pairs(cand, sh_c.unionByName(sh_b))
    return pairs.select(
        F.col("doc_a").alias("doc_id"),
        F.col("doc_b").alias("bench_id"),
        "jaccard",
    )
