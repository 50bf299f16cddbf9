"""Lexical relevance ranking: BM25 over a document corpus.

The retrieval-side complement of the embedding ANN family
(operators/similarity.py): score documents against a small query-term set
with BM25 term weighting.  Two deliberate determinism choices make the
whole computation replayable bit-for-bit in ANSI SQL (the repo's oracle
rule — see doc_top_terms' integer TF×rarity precedent):

* **Rational IDF** instead of log-IDF: ``(N - df + 0.5) / (df + 0.5)``.
  ``ln`` is the one BM25 ingredient whose last-ulp behavior differs across
  math libraries; every other ingredient (+, *, /) is IEEE-exact given
  identical operand order.  The rational form keeps the same
  rarity-monotone ordering per term.
* **Fixed-order summation**: per-term partial scores are pivoted to columns
  (one conditional aggregate per query term) and added in query-term
  order — never a float ``SUM()`` whose accumulation order the engine
  picks.

Scale shape: tokens are filtered to the query terms BEFORE the aggregation
(the exploded stream shrinks from |corpus tokens| to |query-term hits|);
document length comes from one map-side-combined count; N/avg-length and
per-term df are one-row/`|terms|`-row broadcast frames.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """One row per document matching ≥1 query term: ``score`` (rounded to
    6 dp after the fixed-order sum) and ``n_terms_matched``.

    ``query_terms`` must be lowercase, whitespace-free, and few (each adds
    one conditional aggregate + one broadcast df row)."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = list(dict.fromkeys(query_terms))  # de-dupe, keep order
    toks = docs.select(
        F.col("doc_id"),
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("t"),
    )
    doclen = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    totals = doclen.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("tot_len")
    )
    hits = toks.filter(F.col("t").isin(terms))
    tf = hits.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(df_), "t")
        .join(doclen, "doc_id")
        .join(F.broadcast(totals))
        .withColumn(
            "__s",
            ((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
            * (F.col("tf") * (k1 + 1.0))
            / (
                F.col("tf")
                + k1 * (1.0 - b + b * (F.col("dl") / (F.col("tot_len") / F.col("n_docs"))))
            ),
        )
    )
    per_term = [
        F.coalesce(F.max(F.when(F.col("t") == t, F.col("__s"))), F.lit(0.0)).alias(f"__s_{i}")
        for i, t in enumerate(terms)
    ]
    agg = scored.groupBy("doc_id").agg(
        *per_term, F.count(F.lit(1)).cast("int").alias("n_terms_matched")
    )
    total = F.lit(0.0)
    for i in range(len(terms)):
        total = total + F.col(f"__s_{i}")  # fixed, engine-independent order
    return agg.select(
        "doc_id",
        F.round(total, 6).alias("score"),
        "n_terms_matched",
    )
