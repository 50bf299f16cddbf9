"""Fixed-size overlapping token-window chunking: documents → training rows.

The last mile of an LLM data pipeline that :mod:`packing` doesn't cover:
before sequences can be PACKED they must exist, and a 200k-token document
is not a training sequence — it is split into fixed-size windows with an
overlap so no context is lost at window boundaries (the standard
stride = chunk_size − overlap sliding window used to prepare pretraining /
fine-tuning corpora).

Chunking rule (total, crisp, engine-replayable):

* the token stream is the whitespace split of ``"text"`` (1-indexed,
  same ``split(text, ' ')`` convention as :mod:`textstats` /
  :mod:`text_dedup`);
* window starts are ``1, 1+stride, 1+2·stride, …`` for every start ≤ n —
  pure integer arithmetic, so ``chunk_idx = (start−1) / stride`` exactly;
* each window takes ``chunk_size`` tokens clipped at the end of the
  stream (the final windows may be short — they are kept, dropping them
  would lose tail text).

Scale shape: one projection + one ``posexplode`` — ZERO shuffles, fully
codegen'd.  Output volume is input tokens × (1 + overlap/stride), a
constant declared by the caller, and rows inherit the input's partitioning
(each document chunks inside its own partition; no skew beyond document
length itself, which ``chunk_size`` caps per output row).

Determinism: starts and clipping are integer arithmetic over the token
count; the chunk text is ``array_join`` of selected elements — exact
string equality on any engine, no float anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def chunk_token_windows(
    docs: DataFrame,
    chunk_size: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """All input columns except ``text`` plus, per window:
    ``chunk_idx`` (0-based), ``start_tok`` (1-based token position),
    ``n_chunk_tokens`` (window length after end-clipping) and
    ``chunk_text`` (the window re-joined with single spaces).

    NULL text produces zero rows for that document (filtered, not a NULL
    chunk — a document with no text has no training windows).
    """
    if chunk_size < 1:
        raise ValueError(f"chunk_size must be >= 1, got {chunk_size}")
    if not 0 <= overlap < chunk_size:
        raise ValueError(
            f"overlap must be in [0, chunk_size), got overlap={overlap} "
            f"chunk_size={chunk_size}"
        )
    stride = chunk_size - overlap
    keep = [c for c in docs.columns if c != "text"]
    toks = (
        docs.where(F.col("text").isNotNull())
        .withColumn("__toks", F.split(F.col("text"), " "))
        .withColumn("__n", F.size("__toks"))
    )
    # split() yields at least [''] for the empty string, so __n >= 1 and
    # sequence() always ascends (sequence(1, n) DESCENDS for n < 1).
    exploded = toks.select(
        *keep,
        "__toks",
        "__n",
        F.posexplode(F.sequence(F.lit(1), F.col("__n"), F.lit(stride))).alias(
            "chunk_idx", "start_tok"
        ),
    )
    window = F.slice(F.col("__toks"), F.col("start_tok"), chunk_size)
    return exploded.select(
        *keep,
        F.col("chunk_idx"),
        F.col("start_tok"),
        F.least(F.lit(chunk_size), F.col("__n") - F.col("start_tok") + 1)
        .cast("int")
        .alias("n_chunk_tokens"),
        F.array_join(window, " ").alias("chunk_text"),
    )
