"""Statistical language-model scoring: corpus bigram cross-entropy per doc.

The classic web-corpus quality signal (CCNet-style): score every document by
how surprising its word sequence is under a language model.  Here the model
is the corpus's own bigram MLE — P(b|a) = C(a,b)/C(a) — so the score is
self-contained (no external model artifact) and every observed bigram has
nonzero probability by construction: no smoothing constant to tune, and a
brand-new pipeline can compute it on day one.

Determinism contract: per-occurrence surprisals are quantized to INTEGER
milli-nats (``round(-ln P × 1000)``) BEFORE the per-doc sum, so the
aggregation is exact integer arithmetic — associative, commutative,
partitioning-independent, and bit-identical in any engine.  A float sum of
logs would depend on reduction order; an integer sum cannot.  ``ln`` itself
is correctly rounded within 1 ulp in both the JVM and libm, and a 1-ulp
input wobble flips a milli-nat rounding only if the true value sits within
~1e-12 of a 0.0005 boundary — not a realistic hazard.

Scale shape: one explode to (doc, pos, word) bigram pairs; bigram and
unigram-context counts are map-side-combined aggregations over that frame
(vocabulary-sized, Heaps-sublinear in the corpus); scoring joins occurrences
back on the bigram key — plain equi shuffle joins, no windows over the
corpus, no driver round-trips.  For a FIXED external model, the counts
tables would broadcast instead; semantics unchanged.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..caching import tracked_persist
from ..partitioning import fan_out_scan
from .tokenizer import words


def adjacent_pairs(ws: Column) -> Column:
    """``array<struct<a, b>>`` of the adjacent word pairs of the word array
    ``ws`` (empty for fewer than two words).

    ``ws`` must be an ATTRIBUTE (a column bound in an earlier projection),
    not an inline :func:`tokenizer.words` expression: ``element_at(<inline
    regex expr>, i)`` re-evaluates the regex per element access inside a
    higher-order function (r7 measurement: 5.7 s → 0.3 s at sf0.1 for the
    explode alone), while ``element_at(<attribute>, i)`` reads the row's
    array."""
    # guard: Spark's sequence(2, n) DESCENDS for n < 2 — emit no pairs instead
    return F.when(
        F.size(ws) >= 2,
        F.transform(
            F.sequence(F.lit(2), F.size(ws)),
            lambda i: F.struct(
                F.element_at(ws, i - 1).alias("a"), F.element_at(ws, i).alias("b")
            ),
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))


def doc_bigrams(docs: DataFrame) -> DataFrame:
    """One row per bigram OCCURRENCE: (id, a, b).  Words are lowercased
    ``[a-z0-9]+`` runs (the tokenizer/textstats convention).

    The token array is BOUND TO A COLUMN in its own projection before
    :func:`adjacent_pairs` reads it (why: see there)."""
    return (
        fan_out_scan(docs).select(F.col("doc_id"), words(F.col("text")).alias("__ws"))
        .select(F.col("doc_id"), F.explode(adjacent_pairs(F.col("__ws"))).alias("bg"))
        .select("doc_id", F.col("bg.a").alias("a"), F.col("bg.b").alias("b"))
    )


def with_bigram_surprisal(docs: DataFrame) -> DataFrame:
    """``docs`` plus the corpus-bigram-LM score columns:

    * ``n_bigrams``      — bigram occurrences in the doc (0 for <2 words)
    * ``surprisal_mnats``— Σ round(−ln C(a,b)/C(a) × 1000) as exact BIGINT
    * ``bits_per_bigram``— surprisal / (ln 2 × 1000) / n_bigrams, rounded to
      6 dp (the human-readable cross-entropy; derived from the two exact
      integers so it is engine-portable too); NULL when n_bigrams = 0

    High bits_per_bigram = improbable word transitions (gibberish, boiler-
    plate mixtures, wrong-language fragments); low = repetitive/templated.
    """
    bg = doc_bigrams(docs)
    # reduce to per-doc DISTINCT bigrams with occurrence counts FIRST (one
    # map-side-combined agg), so the count-table joins move (doc, bigram)
    # rows, not raw occurrences — the same distinct-vocabulary trick the BPE
    # tokenizer uses.  PERSISTED: it feeds the count-model build and the
    # scoring join (r7 plan audit: unpersisted, the explode+agg subtree ran
    # three times — once per consumer — because AQE re-planning defeated
    # exchange reuse).
    occ = tracked_persist(bg.groupBy("doc_id", "a", "b").agg(F.count(F.lit(1)).alias("n_occ")))
    cnt_ab = occ.groupBy("a", "b").agg(F.sum("n_occ").alias("c_ab"))
    # C(a) = Σ_b C(a,b): derive context counts FROM the bigram counts —
    # bigram-vocabulary-sized input instead of a third aggregation over the
    # (doc, bigram) frame.  Identical integers by definition.
    cnt_a = cnt_ab.groupBy("a").agg(F.sum("c_ab").alias("c_a"))
    # mnats per DISTINCT corpus bigram (vocabulary-sized model table), then
    # ONE equi-join attaches it to the per-doc rows — one log per bigram
    # type instead of one per (doc, bigram) row, and one join instead of two.
    model = (
        cnt_ab.join(cnt_a, on="a")
        .select(
            "a",
            "b",
            F.round(-F.log(F.col("c_ab") / F.col("c_a")) * 1000).cast("long").alias("__mnats"),
        )
    )
    scored = (
        occ.join(model, on=["a", "b"])
        .groupBy("doc_id")
        .agg(
            F.sum("n_occ").alias("n_bigrams"),
            F.sum(F.col("n_occ") * F.col("__mnats")).alias("surprisal_mnats"),
        )
    )
    out = docs.join(scored, on="doc_id", how="left")
    n = F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long")
    s = F.coalesce(F.col("surprisal_mnats"), F.lit(0)).cast("long")
    return (
        out.withColumn("n_bigrams", n)
        .withColumn("surprisal_mnats", s)
        .withColumn(
            "bits_per_bigram",
            F.when(
                n > 0,
                F.round(s / (F.lit(1000.0) * F.log(F.lit(2.0))) / n, 6),
            ),
        )
    )


def source_kl_divergence(docs: DataFrame) -> DataFrame:
    """Per-group unigram KL divergence vs the whole corpus — the drift /
    contamination monitor a mixture pipeline runs per ingest: a source whose
    token distribution diverges hard from the corpus is mislabeled, corrupted,
    or a different language.

    KL(P_g ‖ P) = Σ_w P_g(w) · ln(P_g(w)/P(w)) with MLE probabilities, so
    every group word exists in the corpus and the sum is finite.  Same
    determinism contract as :func:`with_bigram_surprisal`: the log-ratio of
    each word quantizes to INTEGER milli-nats first, the weighted sum
    Σ n_gw · mnat_w is exact integer arithmetic, and the final division by
    the (integer) group token count happens once at the end — identical in
    any engine, under any partitioning.

    Scale shape: one explode to (group, word) with a map-side-combined count,
    corpus word counts re-aggregated FROM the group counts (never a second
    pass over the text), totals joined back — all equi joins on the word;
    the group-totals frame is group-cardinality-sized and broadcasts.
    Null group keys form their own group (eqNullSafe-style semantics via
    null-preserving groupBy).
    """
    # NOT fanned out: the explode feeds (group, word) counts — vocabulary-
    # keyed map-side partials multiply with the partition count (same
    # mechanism as with_bpe_token_counts; three full-bench runs showed the
    # fan-out a consistent +0.3–0.9 s loss here)
    word_rows = docs.select(
        F.col("source").alias("g"), F.explode(words(F.col("text"))).alias("w")
    )
    n_gw = word_rows.groupBy("g", "w").agg(F.count(F.lit(1)).alias("n_gw"))
    n_w = n_gw.groupBy("w").agg(F.sum("n_gw").alias("n_w"))
    t_g = n_gw.groupBy("g").agg(F.sum("n_gw").alias("t_g")).withColumnRenamed("g", "__g2")
    t_all = n_w.agg(F.sum("n_w").alias("t_all"))
    scored = (
        n_gw.join(n_w, on="w")
        # eqNullSafe: a NULL group key is a real group and must keep its total
        .join(F.broadcast(t_g), F.col("g").eqNullSafe(F.col("__g2")))
        .drop("__g2")
        .crossJoin(F.broadcast(t_all))  # 1-row total — a literal at scale
        .withColumn(
            "__mnats",
            F.round(
                F.log(
                    (F.col("n_gw").cast("double") * F.col("t_all"))
                    / (F.col("t_g").cast("double") * F.col("n_w"))
                )
                * 1000
            ).cast("long"),
        )
        .groupBy("g", "t_g")
        .agg(F.sum(F.col("n_gw") * F.col("__mnats")).alias("kl_mnats_weighted"))
    )
    return scored.select(
        F.col("g").alias("source"),
        F.col("t_g").cast("long").alias("n_tokens"),
        F.col("kl_mnats_weighted").cast("long").alias("kl_mnats_weighted"),
        F.round(F.col("kl_mnats_weighted") / F.lit(1000.0) / F.col("t_g"), 6).alias("kl_nats"),
    )


def pmi_collocations(docs: DataFrame, min_count: int = 5) -> DataFrame:
    """Corpus collocations by pointwise mutual information:

    ``PMI(a,b) = ln( P(a,b) / (P(a)·P(b)) )`` with bigram MLE ``P(a,b) =
    c_ab/N_bg`` and unigram MLE ``P(w) = c_w/N_uni`` — high-PMI adjacent
    pairs are multiword expressions ("new york", "machine learning"), the
    standard phrase-mining signal.

    Output per surviving pair: ``a, b, c_ab, c_a, c_b, pmi_mnats`` (integer
    milli-nats, the determinism anchor) and ``pmi`` (= mnats/1000, 6 dp).
    Computed in log-space as ``ln c_ab − ln c_a − ln c_b + 2·ln N_uni −
    ln N_bg`` in that fixed association order, so no integer product can
    overflow at any corpus size; the quantization-then-threshold contract
    matches :func:`with_bigram_surprisal`.

    Scale shape: counts are map-side-combined aggs over the exploded frames;
    ``min_count`` prunes the pair table BEFORE the unigram joins (the join
    input is the collocation candidates, not the long tail); totals are
    1-row broadcasts.
    """
    if min_count < 1:
        raise ValueError("pmi_collocations: min_count >= 1 required")
    # tokenize ONCE: the word-array frame is persisted and both the bigram
    # and the unigram explode read it — unpersisted, the corpus regex pass
    # ran once per derived frame (r7 plan audit: 2 full regexp_extract_all
    # scans).  The count tables are vocabulary-sized and each feeds the
    # totals AND the candidate joins, so they persist too (3 consumers for
    # c_w, 2 for c_ab).
    warr = tracked_persist(
        fan_out_scan(docs).select(F.col("doc_id"), words(F.col("text")).alias("__ws"))
    )
    bg = warr.select(F.explode(adjacent_pairs(F.col("__ws"))).alias("bg")).select(
        F.col("bg.a").alias("a"), F.col("bg.b").alias("b")
    )
    uni = warr.select(F.explode("__ws").alias("w"))
    c_ab = tracked_persist(bg.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c_ab")))
    c_w = tracked_persist(uni.groupBy("w").agg(F.count(F.lit(1)).alias("c_w")))
    totals = c_ab.agg(F.coalesce(F.sum("c_ab"), F.lit(0)).alias("n_bg")).crossJoin(
        c_w.agg(F.coalesce(F.sum("c_w"), F.lit(0)).alias("n_uni"))
    )
    cand = c_ab.filter(F.col("c_ab") >= min_count)
    joined = (
        cand.join(c_w.withColumnRenamed("w", "a").withColumnRenamed("c_w", "c_a"), on="a")
        .join(c_w.withColumnRenamed("w", "b").withColumnRenamed("c_w", "c_b"), on="b")
        .crossJoin(F.broadcast(totals))
    )
    mnats = F.round(
        (
            F.log(F.col("c_ab").cast("double"))
            - F.log(F.col("c_a").cast("double"))
            - F.log(F.col("c_b").cast("double"))
            + F.lit(2.0) * F.log(F.col("n_uni").cast("double"))
            - F.log(F.col("n_bg").cast("double"))
        )
        * 1000
    ).cast("long")
    return joined.select(
        "a", "b",
        F.col("c_ab").cast("long").alias("c_ab"),
        F.col("c_a").cast("long").alias("c_a"),
        F.col("c_b").cast("long").alias("c_b"),
        mnats.alias("pmi_mnats"),
        F.round(mnats / 1000.0, 6).alias("pmi"),
    )
