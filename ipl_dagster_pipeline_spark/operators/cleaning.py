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


def collapse_adjacent_repeats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", out_col: str = "text_clean"
) -> DataFrame:
    """Collapse runs of adjacent duplicate tokens ("a a the" → "a the").

    Split → positional explode → lag window per doc → drop repeats →
    order-preserving reassembly (sorted struct array, not collect order —
    deterministic under any parallelism).  One shuffle on the doc id.
    """
    from pyspark.sql import Window

    toks = docs.select(
        id_col, F.posexplode(F.split(normalize_text(F.col(text_col)), " ")).alias("i", "w")
    )
    w = Window.partitionBy(id_col).orderBy("i")
    kept = toks.withColumn("__prev", F.lag("w").over(w)).filter(
        F.col("__prev").isNull() | (F.col("w") != F.col("__prev"))
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(F.array_sort(F.collect_list(F.struct("i", "w"))), lambda s: s["w"]),
            " ",
        ).alias(out_col)
    )
    return docs.join(rebuilt, on=id_col, how="left")


def quality_gate(
    stats: DataFrame,
    min_tokens: int = 10,
    max_tokens: int = 100_000,
    min_alpha_ratio: float = 0.5,
    max_punct_ratio: float = 0.2,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 12.0,
) -> DataFrame:
    """Gopher-style rule flags over textstats columns (``with_token_counts`` +
    ``with_quality_scores`` output).  Flags stay as columns so the pipeline
    can report per-rule kill counts before filtering on ``passes_quality``.

    The gate is TOTAL: a null stats column (upstream never produces one
    today, but a drifted producer might) yields flag=false — the rule simply
    does not fire — so ``passes_quality`` is never null and a
    ``filter(passes_quality)`` can never silently drop null-verdict rows."""
    flags = {
        "flag_too_short": F.col("n_ws_tokens") < min_tokens,
        "flag_too_long": F.col("n_ws_tokens") > max_tokens,
        "flag_low_alpha": F.col("alpha_ratio") < min_alpha_ratio,
        "flag_high_punct": F.col("punct_ratio") > max_punct_ratio,
        "flag_word_len": (F.col("mean_word_len") < min_mean_word_len)
        | (F.col("mean_word_len") > max_mean_word_len),
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
    id_col: str = "doc_id",
) -> DataFrame:
    """The curation selection of the corpus job: exact-dup keepers that pass
    the quality filter, minus near-duplicate group redundancy.

    Eligibility is decided FIRST (exact keeper + quality), THEN the near-dup
    keeper is re-keyed to the min SURVIVING member per component — a group
    whose nominal keeper (global min id) was itself removed by exact dedup
    or quality is still represented by its next-best member instead of the
    whole group silently vanishing from the corpus.

    ``exact_groups`` = output of :func:`text_dedup.exact_dedup`
    (fp, keep_id, n_copies); ``dup_groups`` = output of
    :func:`graph.duplicate_groups` (member, keeper, is_keeper).
    """
    exact_keepers = exact_groups.select(F.col("keep_id").alias(id_col))
    eligible = stats.join(exact_keepers, id_col, "left_semi").filter(
        F.col("alpha_ratio") >= min_alpha_ratio
    )
    comp = dup_groups.select(F.col("member").alias(id_col), F.col("keeper").alias("__component"))
    tagged = eligible.join(comp, id_col, "left")
    surviving_keepers = (
        tagged.filter(F.col("__component").isNotNull())
        .groupBy("__component")
        .agg(F.min(id_col).alias("__keep_id"))
    )
    return (
        tagged.join(surviving_keepers, "__component", "left")
        .filter(F.col("__component").isNull() | (F.col(id_col) == F.col("__keep_id")))
        .drop("__component", "__keep_id")
    )


def contamination_flags(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    seed: int = 77,
) -> DataFrame:
    """Flag corpus docs sharing ANY k-gram with the benchmark set (the
    eval-decontamination rule).  Both sides reduce to distinct k-gram HASHES;
    the probe is a semi-join on the hash — at 100 TB the benchmark side is
    tiny and broadcasts.
    """
    # NOT distinct: the corpus side feeds a broadcast semi-join followed by a
    # distinct on the id alone, so pre-deduping (id, gram) rows would only add
    # a corpus-wide exchange the result never needs (r7: removed the fat
    # (id, gh) shuffle; the semi-join probe is map-side against the broadcast
    # hash set and the only shuffle left carries the surviving hit ids).
    def grams(df: DataFrame) -> DataFrame:
        return kgrams(df, id_col, text_col, k).select(
            id_col, portable_hash(F.col("gram"), seed).alias("gh")
        )

    bench_grams = grams(benchmark).select("gh").distinct()
    hits = (
        grams(docs)
        .join(F.broadcast(bench_grams), on="gh", how="left_semi")
        .select(id_col)
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    return docs.select(id_col).distinct().join(hits, on=id_col, how="left").select(
        id_col, F.coalesce(F.col("contaminated"), F.lit(False)).alias("contaminated")
    )


def fuzzy_contamination_pairs(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    threshold: float = 0.5,
) -> DataFrame:
    """NEAR-duplicate eval-set decontamination: corpus docs whose shingle
    set is Jaccard-≥-threshold similar to ANY benchmark doc — the fuzzy
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
    (corpus, benchmark) pair at ≥ threshold.
    """
    from .text_dedup import band_rows, jaccard_pairs, minhash_signatures, shingles

    sh_c = tracked_persist(shingles(docs, id_col, text_col, k))
    sh_b = tracked_persist(shingles(benchmark, id_col, text_col, k))
    bands_c = band_rows(minhash_signatures(sh_c, id_col), id_col)
    bands_b = band_rows(minhash_signatures(sh_b, id_col), id_col)
    cand = (
        bands_c.join(
            F.broadcast(bands_b.select(F.col(id_col).alias("doc_b"), "band", "bucket")),
            on=["band", "bucket"],
        )
        .select(F.col(id_col).alias("doc_a"), "doc_b")
        .distinct()
    )
    pairs = jaccard_pairs(cand, sh_c.unionByName(sh_b), id_col, threshold)
    return pairs.select(
        F.col("doc_a").alias(id_col),
        F.col("doc_b").alias("bench_id"),
        "jaccard",
    )
