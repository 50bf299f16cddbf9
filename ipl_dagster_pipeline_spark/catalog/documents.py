"""Document queries: text statistics, dedup, cleaning, decontamination, LM scoring, ranking."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ipl_dagster_pipeline_spark.catalog.common import CatalogEntry, _duck_hash, _read
from ipl_dagster_pipeline_spark.catalog.sampling import _null_stratum
from ipl_dagster_pipeline_spark.operators.cleaning import (
    collapse_adjacent_repeats,
    contamination_flags,
    fuzzy_contamination_pairs,
    quality_gate,
    redact_pii,
)
from ipl_dagster_pipeline_spark.operators.dedup_index import MinHashIndex
from ipl_dagster_pipeline_spark.operators.lm import (
    pmi_collocations,
    source_kl_divergence,
    with_bigram_surprisal,
)
from ipl_dagster_pipeline_spark.operators.profiling import (
    group_histogram,
    group_quantiles,
    robust_outliers,
)
from ipl_dagster_pipeline_spark.operators.ranking import bm25_scores
from ipl_dagster_pipeline_spark.operators.text_dedup import (
    MINHASH_P,
    exact_dedup,
    minhash_lsh_dedup,
    minhash_params,
    ngram_jaccard_pairs,
    overlap_pairs,
    simhash,
    winnow_fingerprints,
)
from ipl_dagster_pipeline_spark.operators.textstats import (
    with_fingerprint,
    with_lang_id,
    with_quality_scores,
    with_token_counts,
)
from ipl_dagster_pipeline_spark.operators.tokenizer import words


# ---------------------------------------------------------------------------
# training-data ops: dedup / similarity / text analysis (documents, embeddings)
# ---------------------------------------------------------------------------

# shared CTE: normalized text + distinct 5-char shingles (mirrors
# text_dedup.normalize_text / shingles exactly)
SHINGLE_CTE = """
norm AS (
    SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
    FROM documents
),
sh AS (
    SELECT DISTINCT doc_id, substring(norm, i, 5) AS s
    FROM (SELECT doc_id, norm,
                 unnest(generate_series(1, greatest(length(norm) - 4, 1))) AS i
          FROM norm)
)
"""


def q_doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return with_token_counts(docs).select("doc_id", "lang", "source", "n_ws_tokens", "n_re_tokens")


SQL_DOC_TOKENS = r"""
SELECT doc_id, lang, source,
       CAST(length(regexp_extract_all(text, '\S+')) AS INTEGER) AS n_ws_tokens,
       CAST(length(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\s]')) AS INTEGER) AS n_re_tokens
FROM documents
"""


def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return with_quality_scores(docs).select(
        "doc_id", "n_chars", "alpha_ratio", "punct_ratio", "mean_word_len", "stopword_ratio"
    )


SQL_DOC_QUALITY = r"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       round(length(regexp_extract_all(text, '[A-Za-z]')) / greatest(length(text), 1.0), 6) AS alpha_ratio,
       round(length(regexp_extract_all(text, '[^A-Za-z0-9\s]')) / greatest(length(text), 1.0), 6) AS punct_ratio,
       round(length(regexp_extract_all(text, '[A-Za-z]'))
             / greatest(length(regexp_extract_all(text, '\S+')), 1.0), 6) AS mean_word_len,
       round(length(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|that|for|with)\b'))
             / greatest(length(regexp_extract_all(text, '\S+')), 1.0), 6) AS stopword_ratio
FROM documents
"""


def q_doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return with_lang_id(docs).select(
        "doc_id", "lang", "score_en", "score_de", "score_es", "score_fr", "score_zh", "lang_pred"
    )


SQL_DOC_LANG = r"""
WITH s AS (
    SELECT doc_id, lang,
        CAST(length(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|that|for|with)\b')) AS INTEGER) AS score_en,
        CAST(length(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht|ein|mit|zu)\b')) AS INTEGER) AS score_de,
        CAST(length(regexp_extract_all(lower(text), '\b(el|la|los|las|que|es|una|por|para)\b')) AS INTEGER) AS score_es,
        CAST(length(regexp_extract_all(lower(text), '\b(le|les|des|est|une|dans|pour|sur|avec)\b')) AS INTEGER) AS score_fr,
        CAST(length(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS INTEGER) AS score_zh
    FROM documents
)
SELECT doc_id, lang, score_en, score_de, score_es, score_fr, score_zh,
       CASE WHEN greatest(score_en, score_de, score_es, score_fr, score_zh) = 0 THEN 'unknown'
            WHEN score_zh = greatest(score_en, score_de, score_es, score_fr, score_zh) THEN 'zh'
            WHEN score_en = greatest(score_en, score_de, score_es, score_fr, score_zh) THEN 'en'
            WHEN score_de = greatest(score_en, score_de, score_es, score_fr, score_zh) THEN 'de'
            WHEN score_es = greatest(score_en, score_de, score_es, score_fr, score_zh) THEN 'es'
            ELSE 'fr' END AS lang_pred
FROM s
"""


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return with_fingerprint(docs).select("doc_id", "fp", "norm_len")


SQL_DOC_FP = r"""
SELECT doc_id,
       md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
       CAST(length(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS BIGINT) AS norm_len
FROM documents
"""


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return exact_dedup(docs)


SQL_EXACT_DEDUP = r"""
SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
       min(doc_id) AS keep_id, count(*) AS n_copies
FROM documents
GROUP BY 1
"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return simhash(docs)


_SIMHASH_BITS = ",\n        ".join(
    f"sum(CASE WHEN (th >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}" for b in range(16)
)
_SIMHASH_SIG = " + ".join(f"CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(16))
SQL_SIMHASH = f"""
WITH tok AS (
    SELECT DISTINCT doc_id, t
    FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t FROM documents)
),
th AS (SELECT doc_id, {_duck_hash(99, 't')} AS th FROM tok),
bits AS (SELECT doc_id, {_SIMHASH_BITS} FROM th GROUP BY doc_id)
SELECT doc_id, CAST({_SIMHASH_SIG} AS BIGINT) AS simhash FROM bits
"""


def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return minhash_lsh_dedup(docs, threshold=0.5)

# one md5 base per shingle + affine mixes — EXACTLY text_dedup.minhash_signatures
_MH_BASE = "(CAST(concat('0x', substring(md5(s), 1, 15)) AS BIGINT) % {p})".format(p=MINHASH_P)
_MH_MINS = ", ".join(
    "min((base * {a} + {b}) % {p}) AS h{i}".format(a=minhash_params(i)[0], b=minhash_params(i)[1], p=MINHASH_P, i=i)
    for i in range(16)
)
_MH_BANDS = "\n    UNION ALL\n    ".join(
    "SELECT doc_id, {b} AS band, concat({cols}) AS bucket FROM mh".format(
        b=b, cols=", '_', ".join(f"CAST(h{4*b + r} AS VARCHAR)" for r in range(4))
    )
    for b in range(4)
)
SQL_MINHASH = f"""
WITH {SHINGLE_CTE.strip()},
mhb AS (SELECT doc_id, {_MH_BASE} AS base FROM sh),
mh AS (SELECT doc_id, {_MH_MINS} FROM mhb GROUP BY doc_id),
bands AS (
    {_MH_BANDS}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
    SELECT c.doc_a, c.doc_b, count(*) AS n_inter
    FROM cand c
    JOIN sh a ON a.doc_id = c.doc_a
    JOIN sh b ON b.doc_id = c.doc_b AND b.s = a.s
    GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b,
       round(i.n_inter / (ca.n + cb.n - i.n_inter), 6) AS jaccard
FROM inter i
JOIN cnt ca ON ca.doc_id = i.doc_a
JOIN cnt cb ON cb.doc_id = i.doc_b
WHERE i.n_inter / (ca.n + cb.n - i.n_inter) >= 0.5
"""


# ---------------------------------------------------------------------------
# batch 11 (round 2): winnowing fingerprints (rolling-hash copy detection)
# ---------------------------------------------------------------------------


def q_doc_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint set per document (k=5 grams, window=4): the
    rolling-hash copy-detection index — any ≥8-char shared substring shares a
    fingerprint; table is ~1/4 the k-gram stream."""
    docs = _read(spark, sf_dir, "documents")
    return winnow_fingerprints(docs)


_WINNOW_HASH = "CAST(concat('0x', substring(md5(concat('31:', substring(norm, pos, 5))), 1, 15)) AS BIGINT)"

SQL_DOC_WINNOW = rf"""
WITH norm AS (
    SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
    FROM documents
),
ph AS (
    SELECT doc_id, pos, {_WINNOW_HASH} AS h
    FROM (SELECT doc_id, norm,
                 unnest(generate_series(1, greatest(length(norm) - 4, 1))) AS pos
          FROM norm)
),
wm AS (
    SELECT doc_id, pos,
           count(*) OVER (PARTITION BY doc_id) AS n,
           min(h) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
    FROM ph
)
SELECT DISTINCT doc_id, wmin AS fingerprint
FROM wm
WHERE pos <= greatest(n - 3, 1)
"""


# ---------------------------------------------------------------------------
# batch 12 (round 2): corpus-cleaning stages — repetition collapse, quality
# gate, PII redaction, benchmark decontamination
# ---------------------------------------------------------------------------


def q_doc_collapse_repeats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition removal: adjacent duplicate tokens collapse
    ('a a the' -> 'a the'); order-preserving reassembly via sorted struct
    array (deterministic under any parallelism)."""
    docs = _read(spark, sf_dir, "documents")
    return collapse_adjacent_repeats(docs).select("doc_id", "text_clean")


SQL_COLLAPSE_REPEATS = r"""
WITH norm AS (
    SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm FROM documents
),
toks AS (
    SELECT doc_id, i, ws[i] AS w
    FROM (SELECT doc_id, string_split(norm, ' ') AS ws FROM norm),
         (SELECT unnest(generate_series(1, len(ws))) AS i)
),
kept AS (
    SELECT doc_id, i, w, lag(w) OVER (PARTITION BY doc_id ORDER BY i) AS prev
    FROM toks
)
SELECT doc_id, string_agg(w, ' ' ORDER BY i) AS text_clean
FROM kept
WHERE prev IS NULL OR w <> prev
GROUP BY doc_id
"""


def q_doc_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule flags + pass verdict over the textstats metrics."""
    docs = _read(spark, sf_dir, "documents")
    gated = quality_gate(with_quality_scores(with_token_counts(docs)))
    return gated.select(
        "doc_id",
        "flag_too_short",
        "flag_too_long",
        "flag_low_alpha",
        "flag_high_punct",
        "flag_word_len",
        "passes_quality",
    )


SQL_QUALITY_GATE = r"""
WITH s AS (
    SELECT doc_id,
           CAST(length(regexp_extract_all(text, '\S+')) AS INTEGER) AS n_ws_tokens,
           round(length(regexp_extract_all(text, '[A-Za-z]')) / greatest(length(text), 1.0), 6) AS alpha_ratio,
           round(length(regexp_extract_all(text, '[^A-Za-z0-9\s]')) / greatest(length(text), 1.0), 6) AS punct_ratio,
           round(length(regexp_extract_all(text, '[A-Za-z]'))
                 / greatest(length(regexp_extract_all(text, '\S+')), 1.0), 6) AS mean_word_len
    FROM documents
),
f AS (
    SELECT doc_id,
           n_ws_tokens < 10 AS flag_too_short,
           n_ws_tokens > 100000 AS flag_too_long,
           alpha_ratio < 0.5 AS flag_low_alpha,
           punct_ratio > 0.2 AS flag_high_punct,
           (mean_word_len < 2.0 OR mean_word_len > 12.0) AS flag_word_len
    FROM s
)
SELECT *,
       NOT (flag_too_short OR flag_too_long OR flag_low_alpha OR flag_high_punct OR flag_word_len)
           AS passes_quality
FROM f
"""


def q_doc_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction on deterministically-injected synthetic PII (the corpus
    itself is PII-free): email, IP, phone -> typed placeholders via chained
    RE2-compatible regexp_replace (global on both engines)."""
    docs = _read(spark, sf_dir, "documents")
    dirty = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1 555-01"),
        (F.col("doc_id") % 100).cast("string"),
        F.lit(" from 192.168."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7"),
    )
    return docs.select("doc_id", redact_pii(dirty).alias("redacted"))


SQL_PII_REDACT = r"""
WITH dirty AS (
    SELECT doc_id,
           concat(text, ' contact user', CAST(doc_id AS VARCHAR),
                  '@example.com or +1 555-01', CAST(doc_id % 100 AS VARCHAR),
                  ' from 192.168.', CAST(doc_id % 256 AS VARCHAR), '.7') AS t
    FROM documents
)
SELECT doc_id,
       regexp_replace(
           regexp_replace(
               regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
           '\+?\d[\d .-]{7,}\d', '<PHONE>', 'g') AS redacted
FROM dirty
"""


def q_doc_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination probe: corpus docs sharing any 30-char-gram
    hash with the benchmark set (doc_id < 20) are flagged.  Benchmark grams
    broadcast; probe is a distinct-hash semi-join."""
    docs = _read(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") < 20)
    return contamination_flags(docs, bench, k=30)


SQL_CONTAMINATION = r"""
WITH norm AS (
    SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm FROM documents
),
grams AS (
    SELECT DISTINCT doc_id,
           CAST(concat('0x', substring(md5(concat('77:', substring(norm, i, 30))), 1, 15)) AS BIGINT) AS gh
    FROM (SELECT doc_id, norm,
                 unnest(generate_series(1, greatest(length(norm) - 29, 1))) AS i
          FROM norm)
),
bench AS (SELECT DISTINCT gh FROM grams WHERE doc_id < 20),
hits AS (
    SELECT DISTINCT g.doc_id FROM grams g JOIN bench b ON g.gh = b.gh
)
SELECT d.doc_id, h.doc_id IS NOT NULL AS contaminated
FROM (SELECT DISTINCT doc_id FROM documents) d
LEFT JOIN hits h ON d.doc_id = h.doc_id
"""


# ---------------------------------------------------------------------------
# batch 16 (round 2): distinctive-term extraction (TF×rarity keyword op)
# ---------------------------------------------------------------------------


def q_doc_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 distinctive terms per document: highest term frequency among
    terms whose document frequency is below 20% of the corpus (the
    integer-exact core of TF-IDF — no float logs, so the ranking is
    bit-identical on any engine).  Shape at scale: token explode → two
    map-side-combined aggregations → broadcast df-filter join → one rank
    window per doc."""
    docs = _read(spark, sf_dir, "documents")
    # corpus size folds into the plan as a broadcast 1-row agg (the house
    # pattern, lm.py:143) — no separate docs.count() job per run
    n_docs = docs.agg(F.count(F.lit(1)).alias("__n_docs"))
    toks = docs.select("doc_id", F.explode(words(F.col("text"))).alias("t"))
    tf = toks.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("tf"))
    df_counts = tf.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    rare = (
        df_counts.crossJoin(F.broadcast(n_docs))
        .filter(F.col("df") * 5 < F.col("__n_docs"))  # df < 20% of corpus
        .drop("__n_docs")
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tf").desc(), F.col("df").asc(), F.col("t").asc())
    return (
        tf.join(F.broadcast(rare), "t")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", F.col("t").alias("term"), "tf", "df", F.col("rnk").cast("int").alias("rnk"))
    )


SQL_TOP_TERMS = r"""
WITH toks AS (
    SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t FROM documents
),
tf AS (SELECT doc_id, t, count(*) AS tf FROM toks GROUP BY doc_id, t),
dfc AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
rare AS (SELECT * FROM dfc WHERE df * 5 < (SELECT count(*) FROM documents))
SELECT tf.doc_id, tf.t AS term, tf.tf, rare.df,
       CAST(row_number() OVER (PARTITION BY tf.doc_id ORDER BY tf.tf DESC, rare.df ASC, tf.t ASC)
            AS INTEGER) AS rnk
FROM tf JOIN rare ON tf.t = rare.t
QUALIFY rnk <= 3
"""


# ---------------------------------------------------------------------------
# batch 21 (round 3): exact per-group order statistics (corpus profiling).
# Catalog-only; integer-exact lower-rank quantile selection so the DuckDB
# value-hash holds bit-for-bit (no percentile interpolation).
# ---------------------------------------------------------------------------

_QP = {"p25": 25, "p50": 50, "p90": 90}


def q_doc_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source doc-length profile: exact lower-rank p25/p50/p90 of n_chars
    selected by integer rank arithmetic over a KEYED distributed prefix-sum
    ranking — never percentile_approx, never a one-task-per-source sort.  The
    injected NULL source stratum must survive with exact quantiles (null-safe
    counts join — round-3 ADVICE bug class)."""
    docs = _null_stratum(_read(spark, sf_dir, "documents"), "source", 7)
    return group_quantiles(
        docs, group_cols=["source"], value_col="n_chars", key_col="doc_id",
        percents=_QP, count_col="n_docs",
    )


_QP_SELECTS = ",\n       ".join(
    f"CAST(max(CASE WHEN rnk = ((n - 1) * {p}) // 100 + 1 THEN n_chars END) AS BIGINT) AS {name}"
    for name, p in _QP.items()
)

SQL_LENGTH_QUANTILES = f"""
WITH d AS (
    SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN NULL ELSE source END AS source, n_chars
    FROM documents
),
r AS (
    SELECT source, n_chars, doc_id,
           row_number() OVER (PARTITION BY source
                              ORDER BY n_chars ASC NULLS FIRST, doc_id) AS rnk,
           count(*) OVER (PARTITION BY source) AS n
    FROM d
)
SELECT source, CAST(max(n) AS BIGINT) AS n_docs,
       {_QP_SELECTS}
FROM r
GROUP BY source
"""


# ---------------------------------------------------------------------------
# batch 23 (round 4): exact all-pairs n-gram Jaccard dedup (the deterministic
# complement of the MinHash path), SCD2 dimension validity-interval history,
# and MERGE-upsert (SCD1) snapshot maintenance.  Catalog-only (the exported
# gate stays at exactly 50 entries); oracle-checked via check_oracles --all.
# ---------------------------------------------------------------------------

_NJ_THRESHOLD, _NJ_MAXDF = 0.5, 50


def q_doc_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs 5-gram Jaccard ≥ 0.5 over the discriminative shingle
    space (df ≤ 50): inverted-index equi-join, df cap riding the join's own
    shuffle, dropped-shingle count observable — no MinHash approximation."""
    docs = _read(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, threshold=_NJ_THRESHOLD, max_df=_NJ_MAXDF)


SQL_NGRAM_JACCARD = f"""
WITH {SHINGLE_CTE.strip()},
df AS (
    SELECT sh.doc_id, sh.s, count(*) OVER (PARTITION BY s) AS df FROM sh
),
rare AS (SELECT doc_id, s FROM df WHERE df <= {_NJ_MAXDF}),
sizes AS (SELECT doc_id, count(*) AS n FROM rare GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
    FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
j AS (
    SELECT doc_a, doc_b,
           round(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = inter.doc_a
    JOIN sizes sb ON sb.doc_id = inter.doc_b
)
SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= {_NJ_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# batch 25 (round 4): multi-level OLAP aggregation (ROLLUP with explicit
# grouping id — subtotal NULLs disambiguated from genuine NULL dims) and
# exact fixed-width histogram profiling.  Catalog-only; value-hash oracles.
# ---------------------------------------------------------------------------


def q_doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 100-char-wide length histogram per source (incl. the injected
    NULL stratum): integer bin arithmetic, one map-side-combined shuffle,
    output sized |groups|x|occupied bins|."""
    docs = _null_stratum(_read(spark, sf_dir, "documents"), "source", 7)
    return group_histogram(docs, ["source"], "n_chars", bin_width=100)


SQL_LENGTH_HISTOGRAM = """
SELECT source, bin, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(bin * 100 AS BIGINT) AS bin_lo
FROM (SELECT CASE WHEN doc_id % 7 = 0 THEN NULL ELSE source END AS source,
             CAST(floor(n_chars / 100.0) AS BIGINT) AS bin
      FROM documents)
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# batch 26 (round 4): funnel/sequence analytics over event streams,
# per-row-weight deterministic sampling, and edit-distance fuzzy matching.
# Catalog-only; value-hash oracles.
# ---------------------------------------------------------------------------


def q_doc_prefix_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy near-match scoring: Levenshtein distance between the 40-char
    normalized prefixes of deterministically paired docs (id, id+50) — the
    edit-distance complement of Jaccard/MinHash for short-field matching
    (titles, names).  JVM-side levenshtein, no UDF."""
    docs = _read(spark, sf_dir, "documents")
    a = docs.select(
        F.col("doc_id").alias("doc_a"), F.substring("text", 1, 40).alias("pa")
    )
    b = docs.select(
        (F.col("doc_id") - 50).alias("doc_a"),
        F.col("doc_id").alias("doc_b"),
        F.substring("text", 1, 40).alias("pb"),
    )
    return (
        a.join(b, "doc_a")
        .select("doc_a", "doc_b", F.levenshtein("pa", "pb").cast("int").alias("edit_dist"))
    )


SQL_PREFIX_EDITDIST = """
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(levenshtein(substring(a.text, 1, 40), substring(b.text, 1, 40)) AS INTEGER) AS edit_dist
FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 50
"""


# ---------------------------------------------------------------------------
# batch 27 (round 4): BM25 lexical ranking (rational IDF + fixed-order
# summation — no ln, no engine-ordered float SUM, fully value-hashable) and
# robust median/MAD outlier detection on exact order statistics.
# Catalog-only; value-hash oracles.
# ---------------------------------------------------------------------------

_BM25_TERMS = ["table", "query", "hash", "window"]
_BM25_K1, _BM25_B = 1.2, 0.75


def q_doc_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance of every document against a fixed query-term set —
    the lexical-retrieval complement of the embedding ANN family.  Rational
    IDF and fixed-order per-term summation keep every float op
    IEEE-identical across engines."""
    docs = _read(spark, sf_dir, "documents")
    return bm25_scores(docs, _BM25_TERMS, k1=_BM25_K1, b=_BM25_B)


def _bm25_sql() -> str:
    terms_in = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    k1p1 = repr(_BM25_K1 + 1.0)
    one_minus_b = repr(1.0 - _BM25_B)
    per_term = ",\n       ".join(
        f"coalesce(max(CASE WHEN t = '{t}' THEN s END), 0.0) AS s_{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    total = " + ".join(f"s_{i}" for i in range(len(_BM25_TERMS)))
    return f"""
WITH toks AS (
    SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS t
    FROM documents
),
dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS tot_len FROM dl),
tf AS (
    SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf
    FROM toks WHERE t IN ({terms_in}) GROUP BY doc_id, t
),
dfq AS (SELECT t, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY t),
s AS (
    SELECT tf.doc_id, tf.t,
           ((n_docs - df + 0.5) / (df + 0.5)) * (tf * {k1p1})
           / (tf + {_BM25_K1} * ({one_minus_b} + {_BM25_B} * (dl / (tot_len / n_docs)))) AS s
    FROM tf
    JOIN dfq USING (t)
    JOIN dl USING (doc_id)
    CROSS JOIN tot
),
p AS (
    SELECT doc_id,
       {per_term},
       CAST(count(*) AS INTEGER) AS n_terms_matched
    FROM s GROUP BY doc_id
)
SELECT doc_id, round(0.0 + {total}, 6) AS score, n_terms_matched FROM p
"""


SQL_DOC_BM25 = _bm25_sql()


def q_doc_length_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-source length outliers: |n_chars − median| > 3·MAD, both
    statistics exact lower-rank order statistics on the keyed prefix-sum
    ranking — all-integer decision, null stratum included."""
    docs = _null_stratum(_read(spark, sf_dir, "documents"), "source", 7).select(
        "doc_id", "source", "n_chars"
    )
    return robust_outliers(docs, ["source"], "n_chars", "doc_id")


SQL_LENGTH_OUTLIERS = """
WITH d AS (SELECT CASE WHEN doc_id % 7 = 0 THEN NULL ELSE source END AS source, doc_id, n_chars
           FROM documents),
r AS (SELECT source, doc_id, n_chars,
        row_number() OVER (PARTITION BY source ORDER BY n_chars ASC NULLS FIRST, doc_id) AS rnk,
        count(*) OVER (PARTITION BY source) AS n FROM d),
med AS (SELECT source, max(CASE WHEN rnk = ((n-1)*50)//100 + 1 THEN n_chars END) AS med FROM r GROUP BY source),
dev AS (SELECT d.source, d.doc_id, d.n_chars, med.med, abs(d.n_chars - med.med) AS adev
        FROM d JOIN med ON d.source IS NOT DISTINCT FROM med.source),
r2 AS (SELECT source, doc_id, adev,
        row_number() OVER (PARTITION BY source ORDER BY adev ASC NULLS FIRST, doc_id) AS rnk2,
        count(*) OVER (PARTITION BY source) AS n2 FROM dev),
mad AS (SELECT source, max(CASE WHEN rnk2 = ((n2-1)*50)//100 + 1 THEN adev END) AS mad FROM r2 GROUP BY source)
SELECT dev.doc_id, dev.source, dev.n_chars, CAST(dev.med AS BIGINT) AS med, CAST(mad.mad AS BIGINT) AS mad
FROM dev JOIN mad ON dev.source IS NOT DISTINCT FROM mad.source
WHERE dev.adev > 3 * mad.mad
"""


# ---------------------------------------------------------------------------
# batch 29 (round 5): incremental dedup-index probe — the persistent
# MinHashIndex (operators/dedup_index.py) exercised end-to-end through its
# COMMITTED snapshot surface: base batch indexed, delta batch probed against
# the stored band table, new pairs Jaccard-verified and read back from the
# pairs snapshot.  The oracle replays the full MinHash pipeline on the union
# and keeps the pairs with >=1 delta side — exactly the incremental
# equivalence contract, value-hashed cross-engine.
# ---------------------------------------------------------------------------

_INCR_CUT = 250


def q_doc_incr_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index probe: docs < cutoff form the stored index, docs >=
    cutoff arrive as the appended batch; result = the batch's NEW verified
    near-dup pairs exactly as committed to the pairs snapshot table.  The
    probe equi-joins the delta band rows against stored ∪ delta on
    (band, bucket) and re-shingles only the matched old docs."""
    import tempfile

    docs = _read(spark, sf_dir, "documents")
    idx = MinHashIndex(tempfile.mkdtemp(prefix="ipl_incr_idx_"))
    idx.add_batch(docs.filter(F.col("doc_id") < _INCR_CUT), batch_id="base")
    return idx.add_batch(docs.filter(F.col("doc_id") >= _INCR_CUT), batch_id="delta")


SQL_INCR_PROBE = f"""
SELECT doc_a, doc_b, jaccard FROM ({SQL_MINHASH})
WHERE doc_a >= {_INCR_CUT} OR doc_b >= {_INCR_CUT}
"""


# ---------------------------------------------------------------------------
# batch 32 (round 5): statistical LM quality scoring — per-doc cross-entropy
# under the corpus's own bigram MLE (the CCNet-style signal).  Determinism
# contract: per-occurrence surprisals quantize to INTEGER milli-nats BEFORE
# the per-doc sum, so aggregation is exact integer arithmetic — reduction-
# order-independent and bit-identical cross-engine (see operators/lm.py).
# ---------------------------------------------------------------------------


def q_doc_lm_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return with_bigram_surprisal(docs).select(
        "doc_id", "source", "n_bigrams", "surprisal_mnats", "bits_per_bigram"
    )


SQL_LM_SURPRISAL = """
WITH w AS (
    SELECT doc_id,
           unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w,
           generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9]+'), 1) AS pos
    FROM documents
),
bg AS (
    SELECT doc_id, a, b FROM (
        SELECT doc_id, lag(w) OVER (PARTITION BY doc_id ORDER BY pos) AS a, w AS b
        FROM w
    ) WHERE a IS NOT NULL
),
cab AS (SELECT a, b, count(*) AS c_ab FROM bg GROUP BY 1, 2),
ca AS (SELECT a, count(*) AS c_a FROM bg GROUP BY 1),
term AS (
    SELECT bg.doc_id,
           CAST(round(-ln(CAST(c_ab AS DOUBLE) / c_a) * 1000) AS BIGINT) AS mn
    FROM bg JOIN cab USING (a, b) JOIN ca USING (a)
),
agg AS (SELECT doc_id, count(*) AS n_bigrams, sum(mn) AS s FROM term GROUP BY 1)
SELECT d.doc_id, d.source,
       CAST(coalesce(agg.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       CAST(coalesce(agg.s, 0) AS BIGINT) AS surprisal_mnats,
       CASE WHEN coalesce(agg.n_bigrams, 0) > 0
            THEN round(CAST(agg.s AS DOUBLE) / (1000.0 * ln(2.0)) / agg.n_bigrams, 6)
       END AS bits_per_bigram
FROM documents d LEFT JOIN agg USING (doc_id)
"""


# ---------------------------------------------------------------------------
# batch 33 (round 5): exact shingle CONTAINMENT pairs (overlap coefficient) —
# catches the excerpt-inside-superset duplication symmetric Jaccard misses.
# ---------------------------------------------------------------------------

_CT_THRESHOLD, _CT_MAXDF = 0.8, 50


def q_doc_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All pairs whose 5-gram overlap coefficient |A∩B|/min(|A|,|B|) ≥ 0.8 in
    the discriminative shingle space (df ≤ 50), contained side named — the
    quote/excerpt complement of doc_ngram_jaccard, same inverted-index shape."""
    docs = _read(spark, sf_dir, "documents")
    return overlap_pairs(docs, threshold=_CT_THRESHOLD, max_df=_CT_MAXDF)


SQL_CONTAINMENT = f"""
WITH {SHINGLE_CTE.strip()},
df AS (
    SELECT sh.doc_id, sh.s, count(*) OVER (PARTITION BY s) AS df FROM sh
),
rare AS (SELECT doc_id, s FROM df WHERE df <= {_CT_MAXDF}),
sizes AS (SELECT doc_id, count(*) AS n FROM rare GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
    FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
sc AS (
    SELECT doc_a, doc_b,
           CAST(n_inter AS BIGINT) AS n_inter,
           CAST(sa.n AS BIGINT) AS n_a,
           CAST(sb.n AS BIGINT) AS n_b,
           round(CAST(n_inter AS DOUBLE) / least(sa.n, sb.n), 6) AS overlap
    FROM inter
    JOIN sizes sa ON sa.doc_id = inter.doc_a
    JOIN sizes sb ON sb.doc_id = inter.doc_b
)
SELECT doc_a, doc_b, n_inter, n_a, n_b, overlap,
       CASE WHEN n_a < n_b THEN doc_a
            WHEN n_b < n_a THEN doc_b
            ELSE least(doc_a, doc_b) END AS doc_small
FROM sc WHERE overlap >= {_CT_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# batch 34 (round 5): per-source unigram KL divergence vs the corpus — the
# ingest drift monitor, same integer milli-nat determinism contract as
# doc_lm_surprisal; the injected NULL source stratum exercises the
# null-group eqNullSafe path (joined with IS NOT DISTINCT FROM in the oracle).
# ---------------------------------------------------------------------------


def q_source_unigram_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _null_stratum(_read(spark, sf_dir, "documents"), "source", 7)
    return source_kl_divergence(docs)


SQL_SOURCE_KL = """
WITH d AS (
    SELECT CASE WHEN doc_id % 7 = 0 THEN NULL ELSE source END AS g, text
    FROM documents
),
wd AS (SELECT g, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w FROM d),
ngw AS (SELECT g, w, count(*) AS n_gw FROM wd GROUP BY 1, 2),
nw AS (SELECT w, CAST(sum(n_gw) AS BIGINT) AS n_w FROM ngw GROUP BY 1),
tg AS (SELECT g, CAST(sum(n_gw) AS BIGINT) AS t_g FROM ngw GROUP BY 1),
tall AS (SELECT CAST(sum(n_w) AS BIGINT) AS t_all FROM nw),
term AS (
    SELECT ngw.g, ngw.n_gw, tg.t_g,
           CAST(round(ln((CAST(n_gw AS DOUBLE) * t_all)
                         / (CAST(t_g AS DOUBLE) * n_w)) * 1000) AS BIGINT) AS mn
    FROM ngw
    JOIN nw USING (w)
    JOIN tg ON ngw.g IS NOT DISTINCT FROM tg.g
    CROSS JOIN tall
),
agg AS (SELECT g, t_g, CAST(sum(n_gw * mn) AS BIGINT) AS klw FROM term GROUP BY 1, 2)
SELECT g AS source,
       t_g AS n_tokens,
       klw AS kl_mnats_weighted,
       round(CAST(klw AS DOUBLE) / 1000.0 / t_g, 6) AS kl_nats
FROM agg
"""


# ---------------------------------------------------------------------------
# batch 39 (round 5): PMI collocation mining — multiword-expression
# candidates by pointwise mutual information over adjacent word pairs,
# integer milli-nat quantization (the phrase-mining signal of word2vec-era
# preprocessing); log-space association order fixed so no product overflows.
# ---------------------------------------------------------------------------

_PMI_MIN_COUNT = 8


def q_doc_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return pmi_collocations(docs, min_count=_PMI_MIN_COUNT)


SQL_PMI_COLLOCATIONS = f"""
WITH w AS (
    SELECT doc_id,
           unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w,
           generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9]+'), 1) AS pos
    FROM documents
),
bg AS (
    SELECT a, b FROM (
        SELECT lag(w) OVER (PARTITION BY doc_id ORDER BY pos) AS a, w AS b FROM w
    ) WHERE a IS NOT NULL
),
cab AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c_ab FROM bg GROUP BY 1, 2),
cw AS (SELECT w, CAST(count(*) AS BIGINT) AS c_w FROM w GROUP BY 1),
tot AS (
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM bg) AS n_bg,
           (SELECT CAST(count(*) AS BIGINT) FROM w) AS n_uni
),
sc AS (
    SELECT cab.a, cab.b, c_ab, ca.c_w AS c_a, cb.c_w AS c_b,
           CAST(round((ln(CAST(c_ab AS DOUBLE)) - ln(CAST(ca.c_w AS DOUBLE))
                       - ln(CAST(cb.c_w AS DOUBLE)) + 2.0 * ln(CAST(n_uni AS DOUBLE))
                       - ln(CAST(n_bg AS DOUBLE))) * 1000) AS BIGINT) AS pmi_mnats
    FROM cab JOIN cw ca ON cab.a = ca.w JOIN cw cb ON cab.b = cb.w CROSS JOIN tot
    WHERE c_ab >= {_PMI_MIN_COUNT}
)
SELECT a, b, c_ab, c_a, c_b, pmi_mnats, round(pmi_mnats / 1000.0, 6) AS pmi FROM sc
"""


# ---------------------------------------------------------------------------
# batch 56 (round 6): fuzzy eval-set decontamination — the near-duplicate
# complement of doc_contamination's exact k-gram probe.  A paraphrased or
# lightly-edited benchmark leak has no 30-gram in common with the eval set;
# MinHash-banded Jaccard at the dedup threshold catches it.  Benchmark bands
# broadcast; candidates come from the (band, bucket) equi-join — never
# all-pairs (operators/cleaning.py:fuzzy_contamination_pairs).
# ---------------------------------------------------------------------------


def q_doc_fuzzy_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, bench_id, jaccard) pairs where a corpus doc (doc_id % 97 ≠ 0)
    is shingle-Jaccard ≥ 0.5 similar to a benchmark doc (doc_id % 97 = 0) —
    the same deterministic split jobs/pretrain_prep.py decontaminates."""
    docs = _read(spark, sf_dir, "documents")
    return fuzzy_contamination_pairs(
        docs.filter(F.col("doc_id") % 97 != 0),
        docs.filter(F.col("doc_id") % 97 == 0),
    )


SQL_FUZZY_CONTAMINATION = f"""
WITH {SHINGLE_CTE.strip()},
mhb AS (SELECT doc_id, {_MH_BASE} AS base FROM sh),
mh AS (SELECT doc_id, {_MH_MINS} FROM mhb GROUP BY doc_id),
bands AS (
    {_MH_BANDS}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.bucket = b.bucket
    WHERE a.doc_id % 97 <> 0 AND b.doc_id % 97 = 0
),
cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
    SELECT c.doc_a, c.doc_b, count(*) AS n_inter
    FROM cand c
    JOIN sh a ON a.doc_id = c.doc_a
    JOIN sh b ON b.doc_id = c.doc_b AND b.s = a.s
    GROUP BY 1, 2
)
SELECT i.doc_a AS doc_id, i.doc_b AS bench_id,
       round(i.n_inter / (ca.n + cb.n - i.n_inter), 6) AS jaccard
FROM inter i
JOIN cnt ca ON ca.doc_id = i.doc_a
JOIN cnt cb ON cb.doc_id = i.doc_b
WHERE i.n_inter / (ca.n + cb.n - i.n_inter) >= 0.5
"""


CATALOG: dict[str, CatalogEntry] = {
    "doc_token_counts": (q_doc_tokens, SQL_DOC_TOKENS),
    "doc_quality_scores": (q_doc_quality, SQL_DOC_QUALITY),
    "doc_lang_id": (q_doc_lang_id, SQL_DOC_LANG),
    "doc_fingerprint": (q_doc_fingerprint, SQL_DOC_FP),
    "doc_exact_dedup": (q_exact_dedup, SQL_EXACT_DEDUP),
    "doc_simhash": (q_simhash, SQL_SIMHASH),
    "doc_minhash_lsh_pairs": (q_minhash_pairs, SQL_MINHASH),
    "doc_winnow_fingerprints": (q_doc_winnow, SQL_DOC_WINNOW),
    "doc_collapse_repeats": (q_doc_collapse_repeats, SQL_COLLAPSE_REPEATS),
    "doc_quality_gate": (q_doc_quality_gate, SQL_QUALITY_GATE),
    "doc_pii_redact": (q_doc_pii_redact, SQL_PII_REDACT),
    "doc_contamination": (q_doc_contamination, SQL_CONTAMINATION),
    "doc_top_terms": (q_doc_top_terms, SQL_TOP_TERMS),
    "doc_length_quantiles": (q_doc_length_quantiles, SQL_LENGTH_QUANTILES),
    "doc_ngram_jaccard": (q_doc_ngram_jaccard, SQL_NGRAM_JACCARD),
    "doc_length_histogram": (q_doc_length_histogram, SQL_LENGTH_HISTOGRAM),
    "doc_prefix_editdist": (q_doc_prefix_editdist, SQL_PREFIX_EDITDIST),
    "doc_bm25": (q_doc_bm25, SQL_DOC_BM25),
    "doc_length_outliers": (q_doc_length_outliers, SQL_LENGTH_OUTLIERS),
    "doc_incr_index_probe": (q_doc_incr_index_probe, SQL_INCR_PROBE),
    "doc_lm_surprisal": (q_doc_lm_surprisal, SQL_LM_SURPRISAL),
    "doc_containment_pairs": (q_doc_containment_pairs, SQL_CONTAINMENT),
    "source_unigram_kl": (q_source_unigram_kl, SQL_SOURCE_KL),
    "doc_pmi_collocations": (q_doc_pmi_collocations, SQL_PMI_COLLOCATIONS),
    "doc_fuzzy_contamination": (q_doc_fuzzy_contamination, SQL_FUZZY_CONTAMINATION),
}
