"""Frozen-vocabulary sparse TF-IDF vectorization (fit on train, transform
anywhere).

The vectorizer completes the fit/transform family (`featurize` scales
numerics, `encoding` encodes categoricals — this turns TEXT into sparse
feature rows): the vocabulary is FROZEN on the fit corpus, so feature
indices are stable between training and serving and out-of-vocabulary
terms are dropped instead of silently minting new dimensions (the same
declared-domain discipline as ``featurize.one_hot``).

Determinism contract (the repo's oracle rule): no ``log``.  ``ln`` is the
one classic TF-IDF ingredient whose last-ulp behavior is library-defined
(see ``ranking.bm25_scores``' rational-IDF precedent), so the weight here
is the PURE-INTEGER rarity product

    idf_ppm  = (n_fit_docs + 1) · 10⁶  DIV  (df + 1)
    weight   = tf · idf_ppm                     (BIGINT)

— monotone in rarity exactly like log-IDF within each term, exact on any
engine, and overflow-safe (tf·idf_ppm < 2⁶³ for any real corpus).  The
vocabulary rank itself is deterministic: top ``vocab_size`` terms by
``(df DESC, term ASC)`` — a total order, so the cut line cannot move with
parallelism.

Scale shape:

* fit — one explode + one distinct-aggregate for df (both map-side
  combined, shuffled on the term key), then the global rank rides the
  KEYED two-phase prefix sum (`packing.with_keyed_cumsum` with a constant
  group) instead of a one-task global window, and only rows with
  ``rank ≤ vocab_size`` survive;
* transform — one explode + one (doc, term) aggregation, then a broadcast
  join against the vocab_size-row vocabulary.  Output is sparse rows
  (doc, term_idx, weight), never a dense width-V projection.

Token convention: ``split(lower(text), '\\s+')`` — identical to
``ranking.bm25_scores`` and the lexical oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ipl_dagster_pipeline_spark.operators.packing import with_keyed_cumsum

PPM = 1_000_000


def _doc_terms(docs: DataFrame) -> DataFrame:
    """Exploded (doc_id, term) token stream of ``text`` — empty/NULL text yields no rows.
    NOT fanned out: the stream feeds vocabulary-keyed aggregations whose
    map-side partials would multiply with the partition count (measured a
    mild loss at sf0.1, same mechanism as with_bpe_token_counts)."""
    return docs.select(
        F.col("doc_id"),
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("term"),
    ).where(F.col("term") != "")


def vocab_fit(train_docs: DataFrame, vocab_size: int) -> DataFrame:
    """The frozen vocabulary: one row per kept term with ``term``,
    ``term_idx`` (1-based document-frequency rank, ties broken by term —
    stable at any parallelism), ``df_docs`` (documents containing the
    term) and ``n_fit_docs`` (fit corpus size, denormalized onto every row
    so the transform needs no second frame)."""
    if vocab_size < 1:
        raise ValueError(f"vocab_size must be >= 1, got {vocab_size}")
    n_fit = train_docs.select("doc_id").distinct().count()
    df_counts = (
        _doc_terms(train_docs)
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df_docs"))
    )
    ranked = with_keyed_cumsum(
        df_counts.withColumn("__g", F.lit(0))
        .withColumn("__negdf", -F.col("df_docs"))
        .withColumn("__one", F.lit(1)),
        group_cols=["__g"],
        order_cols=["__negdf", "term"],
        value_col="__one",
        out_col="term_idx",
    )
    return (
        ranked.where(F.col("term_idx") <= vocab_size)
        .select("term", F.col("term_idx").cast("int").alias("term_idx"), "df_docs")
        .withColumn("n_fit_docs", F.lit(n_fit).cast("long"))
    )


def tfidf_transform(docs: DataFrame, vocab: DataFrame) -> DataFrame:
    """Sparse TF-IDF rows under the frozen vocabulary: one row per
    (document, in-vocabulary term) with ``tf`` and the exact-integer
    ``weight = tf · ((n_fit_docs+1)·10⁶ DIV (df_docs+1))``.
    Out-of-vocabulary terms drop (inner join); documents with no
    in-vocabulary term produce zero rows (an all-zero sparse vector)."""
    tf = (
        _doc_terms(docs)
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    idf = F.expr(f"CAST(((n_fit_docs + 1) * {PPM}) DIV (df_docs + 1) AS BIGINT)")
    return (
        tf.join(F.broadcast(vocab), "term")
        .withColumn("weight", (F.col("tf") * idf).cast("long"))
        .select("doc_id", "term_idx", "term", F.col("tf").cast("long").alias("tf"), "weight")
    )
