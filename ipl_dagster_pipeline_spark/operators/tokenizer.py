"""Deterministic merges-table BPE token counting — JVM-side, oracle-exact.

``textstats.with_token_counts`` counts whitespace tokens and "BPE-ish" regex
pieces; budget selection over a real corpus wants counts from an actual
byte-pair-encoding vocabulary.  This module ships one:

* a FIXED, public-style merges table (``BPE_MERGES`` — learned-rank ordered
  pairs, the gpt-2 ``merges.txt`` shape) — part of the tokenizer identity,
  versioned with the code;
* merge application in MERGE-LIST ORDER, each rule rewriting all its
  occurrences before the next rule applies (the subword-nmt
  ``apply_bpe``-style sequential variant, not the rank-first-repeat search).
  Chosen deliberately: sequential rule application is expressible as a chain
  of plain string ``replace`` calls, which (a) stays entirely inside
  whole-stage codegen — NO Python in the hot path, not even a pandas_udf —
  and (b) replays bit-identically in ANSI SQL, so budget selection under
  real-BPE counts carries a full value-hash oracle;
* pre-tokenization = lowercased ``[a-z0-9]+`` runs (punctuation and
  whitespace carry no token mass — documented contract, same both engines).
  :func:`words` is that pre-tokenization, the package's one word array (the
  bigram LM, PMI, unigram KL, SimHash and keyword queries use it too).

Scale shape: counts are computed once per DISTINCT word (the vocabulary
aggregation is map-side combined; natural-language vocabularies grow ~
Heaps' law, sublinearly in corpus size), then equi-joined back to word
instances and summed per doc — the replace chain never runs per occurrence.

Representation: every symbol carries its OWN delimiters — ``abc`` becomes
``|a||b||c|`` — and merge (a, b) rewrites ``|a||b|`` → ``|ab|``; the token
count is (number of ``|``) / 2.  Self-delimited symbols matter: with a
shared-bar encoding (``|a|b|a|b|``) the first replacement consumes the bar
the NEXT occurrence needs, so back-to-back merges (``thth``) are missed.
Leftmost non-overlapping replacement semantics are identical in Spark
``replace`` and DuckDB ``replace`` — the property the oracle depends on
(and the independent-reference test pins).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Learned-rank ordered merge pairs, gpt-2 style (most frequent English pairs
# first, then common continuations built on earlier merges).  Fixed forever:
# changing it changes every token count downstream — version the constant.
BPE_MERGES: list[tuple[str, str]] = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("e", "r"),
    ("o", "n"), ("r", "e"), ("a", "t"), ("e", "n"), ("o", "r"),
    ("an", "d"), ("t", "o"), ("in", "g"), ("a", "r"), ("i", "t"),
    ("i", "s"), ("e", "s"), ("o", "u"), ("a", "l"), ("s", "t"),
    ("l", "e"), ("o", "f"), ("i", "c"), ("a", "s"), ("s", "e"),
    ("e", "d"), ("th", "at"), ("er", "s"), ("c", "h"), ("r", "o"),
    ("l", "l"), ("w", "h"), ("m", "e"), ("n", "t"), ("l", "o"),
    ("d", "e"), ("w", "it"), ("wit", "h"), ("b", "e"), ("u", "s"),
    ("c", "on"), ("f", "or"), ("h", "a"), ("p", "ro"), ("s", "h"),
    ("v", "e"), ("e", "x"), ("w", "or"), ("t", "er"), ("p", "l"),
    ("0", "0"), ("1", "0"), ("2", "0"), ("00", "00"),
]


WORD_RE = "[a-z0-9]+"


def words(col: Column) -> Column:
    """The word array of ``col``: its lowercased ``[a-z0-9]+`` runs, in order."""
    return F.regexp_extract_all(F.lower(col), F.lit(WORD_RE), F.lit(0))


def word_symbols(word: Column) -> Column:
    """``abc`` → ``|a||b||c|`` (each symbol self-delimited)."""
    return F.regexp_replace(word, "(.)", "|$1|")


def bpe_symbol_string(word: Column, merges: list[tuple[str, str]] | None = None) -> Column:
    """Apply the merge rules in order as a plain-replace chain."""
    s = word_symbols(word)
    for a, b in merges if merges is not None else BPE_MERGES:
        s = F.replace(s, F.lit(f"|{a}||{b}|"), F.lit(f"|{a}{b}|"))
    return s


def bpe_token_count(word: Column, merges: list[tuple[str, str]] | None = None) -> Column:
    """Token count of one word: symbols remaining after all merges."""
    s = bpe_symbol_string(word, merges)
    return ((F.length(s) - F.length(F.replace(s, F.lit("|"), F.lit("")))) / 2).cast("long")


def with_bpe_token_counts(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "n_bpe_tokens",
) -> DataFrame:
    """``docs`` plus the real-BPE token count of ``text_col``.

    Words = lowercased ``[a-z0-9]+`` runs; count = Σ over word OCCURRENCES
    of the word's BPE length, computed once per distinct word and equi-joined
    back.  Docs with no words count 0.  Pure DataFrame plan: explode →
    map-side-combined (doc, word) counts → distinct-vocab projection (the
    replace chain, codegen) → join → sum.
    """
    # NOT fanned out (fan_out_scan was measured a consistent LOSS here —
    # the word explode feeds straight into keyed aggregations whose
    # map-side partials are corpus-vocabulary-keyed, so spreading the scan
    # multiplies the partial-agg output per partition; interleaved A/B at
    # sf0.1: min 2.6 s without vs 4.4 s with)
    word_rows = docs.select(F.col(id_col), F.explode(words(F.col(text_col))).alias("__w"))
    # one row per (doc, word) with the occurrence count — map-side combined
    occ = word_rows.groupBy(id_col, "__w").agg(F.count(F.lit(1)).alias("__n_occ"))
    vocab = occ.select("__w").distinct().withColumn("__w_tokens", bpe_token_count(F.col("__w")))
    per_doc = (
        occ.join(vocab, on="__w")
        .groupBy(id_col)
        .agg(F.sum(F.col("__n_occ") * F.col("__w_tokens")).alias(out_col))
    )
    return docs.join(per_doc, on=id_col, how="left").withColumn(
        out_col, F.coalesce(F.col(out_col), F.lit(0)).cast("long")
    )


def bpe_merges_sql_chain(expr: str, merges: list[tuple[str, str]] | None = None) -> str:
    """Render the SAME replace chain as ANSI SQL over ``expr`` — the
    generated-oracle hook (catalog/sampling.py builds DuckDB SQL from it)."""
    s = f"regexp_replace({expr}, '(.)', '|\\1|', 'g')"
    for a, b in merges if merges is not None else BPE_MERGES:
        s = f"replace({s}, '|{a}||{b}|', '|{a}{b}|')"
    return s
