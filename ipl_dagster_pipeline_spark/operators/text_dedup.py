"""Document deduplication for training-data pipelines: exact, MinHash+LSH,
SimHash, n-gram Jaccard.

Everything is built from JVM-side built-ins (md5/conv/substring/explode/
groupBy) — no Python in the hot path — and every hash is the PORTABLE
md5-prefix construction below, reproducible bit-for-bit in any engine (the
DuckDB oracles in the catalog modules recompute identical values).

:func:`kgrams` is the package's one character k-gram stream; shingles,
winnowing hashes and ``cleaning.contamination_flags`` project it.

Scale notes (100 TB honesty):
* shingling explodes ~|text| rows per doc — the distinct() and min-agg are
  partial-aggregated map-side before the shuffle, so the shuffle carries one
  row per (doc, shingle) / (doc) respectively;
* LSH band buckets are the join key — the candidate join is an equi shuffle
  join on bucket, never a cross join;
* giant buckets (degenerate text) are capped — `lsh_candidates` drops
  buckets above ``max_bucket`` and the dropped-row count is OBSERVABLE
  (``lsh_dropped.*`` on the consuming stage's lineage row) —
  the A4-style silent-cap warning made queryable (reference dedup-delta
  warning, lamassu.py:306-311).  The cap is ``partitioning.capped_buckets``,
  shared with the n-gram inverted indexes and the embedding LSH join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..caching import tracked_persist
from ..partitioning import capped_buckets, fan_out_scan
from .tokenizer import words

# 16 hashes in 4 bands of 4 → LSH collision threshold ≈ (1/4)^(1/4) ≈ 0.71
# Jaccard.  Bands of 2 are far too permissive on narrow-vocabulary corpora:
# every doc shares min-shingles with every other and candidate pairs go
# quadratic (observed: 5k docs → 1.1M candidates).  Rows-per-band is the
# precision knob — at 100 TB use 128 hashes (16×8) and a higher threshold.
N_HASHES = 16
N_BANDS = 4


def portable_hash(col: Column, seed: int) -> Column:
    """60-bit deterministic hash identical across engines:
    int(md5(seed ':' value)[:15], 16).  (xxhash64 stays engine-internal.)"""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{seed}:"), col)), 1, 15), 16, 10
    ).cast("long")


# universal-hash family over one md5 base: h_i(s) = (base(s)*A_i + B_i) mod P.
# ONE md5 per shingle instead of n_hashes md5s — at 100 TB the hash work
# dominates minhash, so this is ~n_hashes× cheaper.  P < 2^30 keeps every
# intermediate product < 2^61: exact in BIGINT on any engine, no overflow.
MINHASH_P = 1073741789


def minhash_params(i: int) -> tuple[int, int]:
    """Deterministic (A_i, B_i) for hash i — shared with the SQL oracles."""
    a = (i * 2654435761 + 1) % MINHASH_P
    b = (i * 40503 + 17) % MINHASH_P
    return (a or 1, b)


def _hash_base(col: Column) -> Column:
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long") % MINHASH_P


def normalize_text(col: Column) -> Column:
    """Canonical text form: lowercase, whitespace collapsed, trimmed."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def fingerprint(col: Column) -> Column:
    """Exact-dup fingerprint: md5 of the normalized text (F-series parity:
    deterministic content hash; reference uses file mtime/content identity)."""
    return F.md5(normalize_text(col))


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup via hash-groupBy: one keeper (min id) per fingerprint."""
    return (
        docs.withColumn("fp", fingerprint(F.col(text_col)))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies"))
    )


def kgrams(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 5) -> DataFrame:
    """``(id, pos, gram)``: the k characters of the normalized text starting
    at every 1-based position (NOT distinct; 1-based so the construction is
    reproducible in ANSI SQL).  A text shorter than k yields one gram, the
    whole text.  The source is fanned out first: the explode+hash map work
    is ~|text| per doc and a single-split source would serialize it on one
    core (fan_out_scan is a no-op on already-wide inputs)."""
    norm = fan_out_scan(docs).select(F.col(id_col), normalize_text(F.col(text_col)).alias("norm"))
    return norm.select(
        id_col,
        F.explode(F.sequence(F.lit(1), F.greatest(F.length("norm") - (k - 1), F.lit(1)))).alias("pos"),
        "norm",
    ).select(id_col, "pos", F.expr(f"substring(norm, pos, {k})").alias("gram"))


def shingles(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 5) -> DataFrame:
    """Distinct character k-shingles ``(id, s)`` per document."""
    return kgrams(docs, id_col, text_col, k).select(id_col, F.col("gram").alias("s")).distinct()


def minhash_signatures(sh: DataFrame, id_col: str = "doc_id", n_hashes: int = N_HASHES) -> DataFrame:
    """Per-doc MinHash signature: min over shingles of each universal hash.
    One md5 per shingle + cheap affine mixes; one map-side-combined
    aggregation; signature is n_hashes columns."""
    based = sh.withColumn("__base", _hash_base(F.col("s")))
    mins = []
    for i in range(n_hashes):
        a, b = minhash_params(i)
        mins.append(F.min((F.col("__base") * a + b) % MINHASH_P).alias(f"h{i}"))
    return based.groupBy(id_col).agg(*mins)


def band_rows(
    sig: DataFrame,
    id_col: str = "doc_id",
    n_bands: int = N_BANDS,
    rows_per_band: int = N_HASHES // N_BANDS,
) -> DataFrame:
    """LSH band rows ``(id, band, bucket)`` from an n_hashes-wide signature
    frame: ALL bands in ONE pass (array of structs, then explode).  A
    union of per-band selects would replicate the signature subtree —
    shingle explode + minhash aggregation — once per band in the physical
    plan (r7 plan audit: 4 Generate+HashAggregate chains for 4 bands);
    the explode reads each signature row exactly once.  Shared by the
    one-shot ``lsh_candidates`` and the persistent
    ``dedup_index.MinHashIndex`` (the stored probe table IS this frame)."""
    structs = []
    for b in range(n_bands):
        cols = [F.col(f"h{b * rows_per_band + r}").cast("string") for r in range(rows_per_band)]
        structs.append(
            F.struct(F.lit(b).alias("band"), F.concat_ws("_", *cols).alias("bucket"))
        )
    return sig.select(F.col(id_col), F.explode(F.array(*structs)).alias("__bb")).select(
        id_col, F.col("__bb.band").alias("band"), F.col("__bb.bucket").alias("bucket")
    )


def lsh_candidates(
    sig: DataFrame,
    id_col: str = "doc_id",
    n_bands: int = N_BANDS,
    rows_per_band: int = N_HASHES // N_BANDS,
    max_bucket: int = 1000,
) -> DataFrame:
    """Banded LSH: docs sharing any band bucket become candidate pairs.

    Buckets larger than ``max_bucket`` are dropped (logged) — a degenerate
    bucket of B docs would emit B² pairs (``partitioning.capped_buckets``,
    observed as ``'lsh_dropped'``; its persist keeps the shingle → minhash
    lineage from running once per join side).
    """
    bands = band_rows(sig, id_col, n_bands, rows_per_band)
    observed, kept = capped_buckets(
        bands, ["band", "bucket"], max_bucket, "lsh_dropped", "dropped_band_rows", "band_rows"
    )
    return (
        observed.alias("a").join(
            kept.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .distinct()
    )


def check_threshold(op: str, threshold: float) -> None:
    """Similarity thresholds live in (0, 1]: at or below 0 the filter keeps
    every candidate, above 1 it keeps none (NaN keeps none too) — each is a
    caller bug, so it fails loudly instead of returning a plausible frame."""
    if not 0 < threshold <= 1:
        raise ValueError(f"{op}: threshold must be in (0, 1], got {threshold!r}")


def jaccard_pairs(
    cand: DataFrame, sh: DataFrame, id_col: str = "doc_id", threshold: float = 0.5
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs: |A∩B| / (|A|+|B|-|A∩B|).
    ``sh`` meets :func:`_jaccard`'s preconditions; ``threshold`` is in (0, 1]."""
    check_threshold("jaccard_pairs", threshold)
    return (
        _jaccard(cand, sh, id_col)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


def _jaccard(cand: DataFrame, sh: DataFrame, id_col: str) -> DataFrame:
    """``cand`` plus ``n_inter``, ``n_a``, ``n_b`` and ``jaccard``.  Callers
    guarantee two preconditions (not checked here).  (1) ``sh`` holds each
    (doc, shingle) at most once: ``collect_list`` keeps a repeat in ``n_a``
    / ``n_b`` while set-semantics ``array_intersect`` counts it once.  (2)
    The frames of a unioned ``sh`` (``fuzzy_contamination_pairs``,
    ``MinHashIndex.add_batch``) have disjoint ids, else two documents fold
    into one array."""
    # Fold each doc's (distinct) shingle stream into ONE array row and verify
    # pairs with array_intersect: the shingle table is scanned once (a single
    # doc-keyed groupBy) instead of three times, and the widest exchange of
    # the old formulation — candidate×|A| duplicated shingle rows re-keyed by
    # (doc_b, s) — disappears; each pair is verified independently in the
    # projection after two id-keyed joins.  Per-pair both arrays ship where
    # the row form duplicated one side; candidate fan-out is capped upstream
    # (max_bucket), but a per-doc shingle array is ≈k×|text| bytes (one
    # k-char string per position) — k times the doc text the pipeline
    # already shuffles, so one huge document is one very wide row on every
    # pair it joins.  |A∩B| over distinct arrays equals the (doc, shingle)
    # join count exactly, so the jaccard values are bit-identical.
    # persisted: the fold feeds BOTH join sides (a and b) — tracked so the
    # harness's release_tracked() frees it after the consuming action
    arrs = tracked_persist(sh.groupBy(id_col).agg(F.collect_list("s").alias("__arr")))
    a = arrs.select(F.col(id_col).alias("doc_a"), F.col("__arr").alias("__arr_a"))
    b = arrs.select(F.col(id_col).alias("doc_b"), F.col("__arr").alias("__arr_b"))
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("__arr_a", "__arr_b")).alias("n_inter"),
            F.size("__arr_a").alias("n_a"),
            F.size("__arr_b").alias("n_b"),
        )
        .withColumn("jaccard", F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")))
    )


def _shingle_overlaps(
    docs: DataFrame, k: int, max_df: int, id_col: str, text_col: str, obs_name: str
) -> DataFrame:
    """Every doc pair sharing a shingle held by at most ``max_df`` docs:
    columns ``doc_a < doc_b``, ``n_inter`` (shared such shingles), ``n_a``
    and ``n_b`` (each doc's such shingles).  The document-frequency cap is
    :func:`partitioning.capped_buckets` keyed by the shingle, observed as
    ``obs_name`` with ``dropped_shingle_rows`` / ``shingle_rows``."""
    sh = shingles(docs, id_col, text_col, k)
    observed, kept = capped_buckets(
        sh, ["s"], max_df, obs_name, "dropped_shingle_rows", "shingle_rows"
    )
    rare_a = observed.select(F.col(id_col).alias("doc_a"), "s").alias("a")
    rare_b = kept.select(F.col(id_col).alias("doc_b"), "s").alias("b")
    inter = (
        rare_a.join(rare_b, (F.col("a.s") == F.col("b.s")) & (F.col("doc_a") < F.col("doc_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    counts = kept.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    n_a = counts.select(F.col(id_col).alias("doc_a"), F.col("n").alias("n_a"))
    n_b = counts.select(F.col(id_col).alias("doc_b"), F.col("n").alias("n_b"))
    return inter.join(n_a, "doc_a").join(n_b, "doc_b")


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    k: int = 5,
    max_df: int = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """EXACT all-pairs n-gram Jaccard near-duplicates via an inverted index —
    the deterministic complement of the MinHash path (whose recall is
    probabilistic) for when the recipe demands "every pair ≥ τ, exactly".

    Candidates are every pair sharing at least one DISCRIMINATIVE shingle:
    shingles held by more than ``max_df`` documents are dropped from the
    similarity space FIRST (a stopword-shingle shared by df docs would emit
    df² candidate pairs; its information content is ~0).  Jaccard is then
    computed over the filtered space — internally consistent (both the
    intersection AND the doc sizes exclude dropped shingles), replayable in
    ANSI SQL, and the dropped-shingle count is observable as
    ``ngram_df_dropped.*`` on the consuming stage's lineage row
    (silent-cap honesty).

    Scale shape: the document-frequency cap is a count window riding the
    same (shingle) shuffle the inverted-index self-join needs anyway; the
    self-join is an equi-join on the shingle (never a cross join); the pair
    aggregation is map-side combined.  Worst case is max_df² pairs per
    surviving shingle — bounded by the cap, tunable against recall.
    ``threshold`` must be in (0, 1] (ValueError otherwise).
    """
    check_threshold("ngram_jaccard_pairs", threshold)
    return (
        _shingle_overlaps(docs, k, max_df, id_col, text_col, "ngram_df_dropped")
        .withColumn(
            "jaccard",
            F.round(F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_lsh_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    threshold: float = 0.5,
) -> DataFrame:
    """Full near-dup pipeline: shingle → minhash → LSH buckets → exact
    Jaccard verification of candidates → pairs ≥ threshold.

    ``sh`` is persisted: it feeds the signature aggregation once and the
    Jaccard verification's per-doc array fold once more — without the
    persist the whole normalize→explode→distinct lineage re-runs per
    consumer (round-1 bench: 14.6 s at sf0.1; single-pass target ≤5 s).
    The shingle stream is ~|text| rows; ``MEMORY_AND_DISK`` spills what
    executor memory cannot hold to ``spark.local.dir`` (point it at fast
    scratch at scale) instead of recomputing it.  Both persisted
    intermediates (shingles here, bands inside ``lsh_candidates``) are
    registered with ``caching.tracked_persist`` —
    call ``caching.release_tracked()`` after the action that consumes the
    returned pairs to free the executor storage."""
    sh = tracked_persist(shingles(docs, id_col, text_col, k))
    sig = minhash_signatures(sh, id_col)
    cand = lsh_candidates(sig, id_col)
    return jaccard_pairs(cand, sh, id_col, threshold)


def positional_kgram_hashes(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 5, seed: int = 31
) -> DataFrame:
    """(doc, pos, h): portable hash of the k-gram at every 1-based position of
    the normalized text (NOT distinct — winnowing needs the position stream).
    A projection of :func:`kgrams`."""
    return kgrams(docs, id_col, text_col, k).select(
        id_col, "pos", portable_hash(F.col("gram"), seed).alias("h")
    )


def winnow_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD 2003): the
    DISTINCT set of per-window minima over the rolling k-gram hash stream —
    guaranteed to share fingerprints with any copy that overlaps by at least
    ``window + k - 1`` characters, and ~1/window the size of the full stream.

    One window pass over (doc, pos) + a distinct — the fingerprint table is
    the join key for copy detection at corpus scale (equi-join on
    (fingerprint), same shape as the MinHash band bucket join).

    Short-doc fallback (standard winnowing): a document with fewer than
    ``window`` k-gram positions has no full window — it still emits ONE
    fingerprint, min(h) over the whole doc, so short docs stay visible to
    copy detection instead of silently vanishing from the index.
    """
    from pyspark.sql import Window as W

    ph = positional_kgram_hashes(docs, id_col, text_col, k)
    n_pos = W.partitionBy(id_col)
    w = W.partitionBy(id_col).orderBy("pos").rowsBetween(0, window - 1)
    return (
        ph.withColumn("__n", F.count(F.lit(1)).over(n_pos))
        .withColumn("wmin", F.min("h").over(w))
        # only FULL windows select fingerprints (positions beyond n-w+1 see a
        # truncated frame and would over-select tail hashes); greatest(…, 1)
        # keeps position 1 for docs shorter than one window, whose truncated
        # frame at pos 1 covers the whole doc → min(h) fallback fingerprint
        .filter(F.col("pos") <= F.greatest(F.col("__n") - (window - 1), F.lit(1)))
        .select(id_col, F.col("wmin").alias("fingerprint"))
        .distinct()
    )


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 16) -> DataFrame:
    """Per-doc SimHash over distinct word tokens: bit b of the signature is
    the sign of sum(±1) of token-hash bit b."""
    tokens = (
        fan_out_scan(docs).select(F.col(id_col), F.explode(words(F.col(text_col))).alias("t"))
        .distinct()
        .withColumn("th", portable_hash(F.col("t"), 99))
    )
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("th"), b).bitwiseAND(F.lit(1)) == 1, F.lit(1)).otherwise(F.lit(-1))
        ).alias(f"b{b}")
        for b in range(bits)
    ]
    agg = tokens.groupBy(id_col).agg(*bit_sums)
    sig = None
    for b in range(bits):
        term = F.when(F.col(f"b{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return agg.select(id_col, sig.cast("long").alias("simhash"))


def overlap_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    k: int = 5,
    max_df: int = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """EXACT all-pairs shingle CONTAINMENT (overlap coefficient,
    ``|A∩B| / min(|A|,|B|)``) — the asymmetric complement of
    :func:`ngram_jaccard_pairs`: a short document embedded verbatim inside a
    long one scores low Jaccard (the union is dominated by the long doc) but
    containment ≈ 1, which is exactly the quote/excerpt/boilerplate-wrapper
    duplication a training corpus needs to catch.

    Same construction and guarantees as the Jaccard path: candidates share a
    discriminative shingle (document frequency ≤ ``max_df``, cap riding the
    inverted-index join's own shuffle), sizes and intersections both live in
    the filtered shingle space, and dropped-shingle counts are observable as
    ``containment_df_dropped.*`` on the consuming stage's lineage row.  Output columns
    name the CONTAINED side explicitly (``doc_small`` = fewer surviving
    shingles, ties broken to the lower id) so downstream keeper rules can
    drop the excerpt and keep the superset.  ``threshold`` must be in
    (0, 1] (ValueError otherwise).
    """
    check_threshold("overlap_pairs", threshold)
    scored = (
        _shingle_overlaps(docs, k, max_df, id_col, text_col, "containment_df_dropped")
        .withColumn("overlap", F.round(F.col("n_inter") / F.least("n_a", "n_b"), 6))
        .filter(F.col("overlap") >= threshold)
    )
    small = F.when(F.col("n_a") < F.col("n_b"), F.col("doc_a")).when(
        F.col("n_b") < F.col("n_a"), F.col("doc_b")
    ).otherwise(F.least("doc_a", "doc_b"))
    return scored.select(
        "doc_a", "doc_b",
        F.col("n_inter").cast("long").alias("n_inter"),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        "overlap",
        small.alias("doc_small"),
    )
