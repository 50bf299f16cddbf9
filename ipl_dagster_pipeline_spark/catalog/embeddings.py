"""Embedding queries: exact and approximate top-k, near-duplicate pairs and groups, ANN recall."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ipl_dagster_pipeline_spark.catalog.common import CatalogEntry, _duck_hash, _read
from ipl_dagster_pipeline_spark.operators.graph import duplicate_groups
from ipl_dagster_pipeline_spark.operators.similarity import (
    EMB_LSH_MAX_BUCKET,
    _as_double,
    cosine,
    cosine_topk_bruteforce,
    hyperplane_signs,
    ivf_topk,
    ivf_topk_pinned,
    lsh_topk,
    near_dup_pairs_lsh,
)


# ---------------------------------------------------------------------------
# training-data ops: dedup / similarity / text analysis (documents, embeddings)
# ---------------------------------------------------------------------------


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read(spark, sf_dir, "embeddings")
    return cosine_topk_bruteforce(emb, query_ids=list(range(10)), k=5)


SQL_COSINE_TOPK = """
WITH v AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
),
p AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           round(list_dot_product(q.v, c.v)
                 / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 6) AS cos
    FROM v q JOIN v c ON c.vec_id != q.vec_id
    WHERE q.vec_id < 10
)
SELECT query_id, neighbor_id, cos,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rnk
FROM p
QUALIFY rnk <= 5
"""


def q_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN scale path: hyperplane-LSH buckets + exact re-rank.

    Approximate by design → rows-only check, but the result carries a
    driver-visible invariant: each ANN hit is joined against the exact
    brute-force neighbor at the same rank and ``within_bf_bound`` must be
    true on every row (an ANN cosine can never exceed the exact cosine at
    equal rank — LSH searches a subset).  Recall band is asserted in
    tests/test_trainingdata.py."""
    emb = _read(spark, sf_dir, "embeddings")
    qids = list(range(10))
    ann = lsh_topk(emb, query_ids=qids, k=5)
    bf = cosine_topk_bruteforce(emb, query_ids=qids, k=5).select(
        "query_id", "rnk", F.col("cos").alias("bf_cos")
    )
    return ann.join(bf, ["query_id", "rnk"], "left").withColumn(
        "within_bf_bound", F.col("cos") <= F.col("bf_cos") + F.lit(1e-9)
    )


def q_emb_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (dedup mode): all pairs >= threshold.
    Brute-force here (exact oracle); the LSH-bucketed variant is the scale
    path (emb_lsh_topk)."""
    emb = _read(spark, sf_dir, "embeddings")
    base = emb.select(F.col("vec_id"), _as_double(F.col("embedding")).alias("v"))
    a = base.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"))
    b = base.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"))
    pairs = a.join(b, F.col("vec_a") < F.col("vec_b")).withColumn(
        "cos", F.round(cosine(F.col("va"), F.col("vb")), 6)
    )
    return pairs.filter(F.col("cos") >= 0.4).select("vec_a", "vec_b", "cos")


SQL_EMB_NEAR_DUP = """
WITH v AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v)
      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.4
"""


# ---------------------------------------------------------------------------
# batch 7 (round 2): scale-safe embedding near-dup, media oracle, F6/F12/F13/
# F15 scalar parity, S2 preference lookup
# ---------------------------------------------------------------------------

# -- emb_near_dup_lsh: the SCALE path for embedding near-duplicate pairs -----
# (replaces the O(N²) theta join of emb_near_dup_pairs, which stays as the
# small-SF exact-oracle mode).  The DuckDB oracle recomputes the IDENTICAL
# hyperplane buckets (sign literals generated from the same hyperplane_signs),
# so this approximate operator still gets a full value-hash gate.

# n_planes tracks log2(corpus/target-bucket): 6 planes = 64 buckets/table
# keeps candidate blocks bounded at both gate SFs (4 planes degraded toward
# brute force at sf0.1's 2000 vectors: 20s -> ~8s).  The DuckDB oracle is
# GENERATED from these constants, so it always replays the same buckets.
_ND_PLANES, _ND_TABLES, _ND_DIM, _ND_THRESH = 6, 8, 64, 0.4


def q_emb_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read(spark, sf_dir, "embeddings")
    return near_dup_pairs_lsh(
        emb, threshold=_ND_THRESH, n_planes=_ND_PLANES, n_tables=_ND_TABLES, dim=_ND_DIM
    )


def _nd_bucket_sql(t: int) -> str:
    terms = []
    for p in range(_ND_PLANES):
        signs = hyperplane_signs(t * _ND_PLANES + p, _ND_DIM)
        arr = "[" + ", ".join("1.0" if s > 0 else "-1.0" for s in signs) + "]"
        terms.append(f"(CASE WHEN list_dot_product(v, {arr}) > 0 THEN {1 << p} ELSE 0 END)")
    return " + ".join(terms)


_ND_BANDS_SQL = (
    "SELECT * FROM (\n    "
    + "\n    UNION ALL\n    ".join(
        f"SELECT vec_id, {t} AS tbl, {_nd_bucket_sql(t)} AS bucket FROM v" for t in range(_ND_TABLES)
    )
    # the operator's oversized-bucket cap (a no-op at gate SFs)
    + f"\n    ) QUALIFY count(*) OVER (PARTITION BY tbl, bucket) <= {EMB_LSH_MAX_BUCKET}"
)
_ND_COS = (
    "list_dot_product(x.v, y.v) / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v)))"
)

SQL_EMB_ND_LSH = f"""
WITH v AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
),
b AS (
    {_ND_BANDS_SQL}
),
cand AS (
    SELECT DISTINCT a.vec_id AS vec_a, c.vec_id AS vec_b
    FROM b a JOIN b c ON a.tbl = c.tbl AND a.bucket = c.bucket AND a.vec_id < c.vec_id
)
SELECT cand.vec_a, cand.vec_b, round({_ND_COS}, 6) AS cos
FROM cand
JOIN v x ON x.vec_id = cand.vec_a
JOIN v y ON y.vec_id = cand.vec_b
WHERE round({_ND_COS}, 6) >= {_ND_THRESH}
"""


# ---------------------------------------------------------------------------
# batch 8 (round 2): duplicate-GROUP resolution (connected components) and
# deterministic train/val/test hash split
# ---------------------------------------------------------------------------


def q_emb_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs → groups → keeper: connected components (hash-to-min label
    propagation) over the LSH near-dup pair graph, keeper = min id per
    component.  The DuckDB oracle recomputes the SAME pair graph (shared
    hyperplane sign literals) and closes it with a recursive CTE — an
    iterative distributed algorithm with a full value-hash gate."""
    emb = _read(spark, sf_dir, "embeddings")
    pairs = near_dup_pairs_lsh(
        emb, threshold=_ND_THRESH, n_planes=_ND_PLANES, n_tables=_ND_TABLES, dim=_ND_DIM
    )
    return duplicate_groups(pairs, left="vec_a", right="vec_b")


_ND_CTES = f"""v AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
),
b AS (
    {_ND_BANDS_SQL}
),
cand AS (
    SELECT DISTINCT a.vec_id AS vec_a, c.vec_id AS vec_b
    FROM b a JOIN b c ON a.tbl = c.tbl AND a.bucket = c.bucket AND a.vec_id < c.vec_id
),
pairs AS (
    SELECT cand.vec_a, cand.vec_b
    FROM cand
    JOIN v x ON x.vec_id = cand.vec_a
    JOIN v y ON y.vec_id = cand.vec_b
    WHERE round({_ND_COS}, 6) >= {_ND_THRESH}
)"""

SQL_EMB_COMPONENTS = f"""
WITH RECURSIVE
{_ND_CTES},
edges AS (
    SELECT vec_a AS s, vec_b AS d FROM pairs
    UNION
    SELECT vec_b, vec_a FROM pairs
),
reach(v, r) AS (
    SELECT s, s FROM (SELECT DISTINCT s FROM edges)
    UNION
    SELECT e.d, reach.r FROM reach JOIN edges e ON e.s = reach.v
)
SELECT v AS member, min(r) AS keeper, v = min(r) AS is_keeper
FROM reach
GROUP BY v
"""


# ---------------------------------------------------------------------------
# batch 9 (round 2): IVF ANN — the learned-quantizer similarity scale path
# ---------------------------------------------------------------------------


def q_emb_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k (k-means coarse quantizer, n_probe cell search,
    exact re-rank).  Approximate + learned (k-means float sums are not
    engine-portable) → rows-only check, with the same driver-visible
    ``within_bf_bound`` invariant as the LSH path: an ANN cosine can never
    exceed the exact cosine at equal rank."""
    emb = _read(spark, sf_dir, "embeddings")
    qids = list(range(10))
    ann = ivf_topk(emb, query_ids=qids)
    bf = cosine_topk_bruteforce(emb, query_ids=qids, k=5).select(
        "query_id", "rnk", F.col("cos").alias("bf_cos")
    )
    return ann.join(bf, ["query_id", "rnk"], "left").withColumn(
        "within_bf_bound", F.col("cos") <= F.col("bf_cos") + F.lit(1e-9)
    )


# ---------------------------------------------------------------------------
# batch 19 (round 3): value-hash oracle for the deterministic LSH ANN path.
# The hyperplane construction is hash-derived (no RNG), so DuckDB can replay
# the EXACT buckets from shared sign literals — upgrading the LSH top-k from
# rows-only to a full value-hash gate (catalog/--all; the exported gate keeps
# the rows-only parity union because its IVF half is learned/engine-internal).
# ---------------------------------------------------------------------------

_LT_PLANES, _LT_TABLES, _LT_DIM, _LT_K, _LT_NQ = 8, 4, 64, 5, 10


def q_lsh_topk_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pure LSH ANN result (no brute-force columns) so the generated
    oracle can value-hash it: same lsh_topk call as the parity entry."""
    emb = _read(spark, sf_dir, "embeddings")
    return lsh_topk(
        emb, query_ids=list(range(_LT_NQ)), k=_LT_K,
        n_planes=_LT_PLANES, n_tables=_LT_TABLES, dim=_LT_DIM,
    )


def _lt_bucket_sql(t: int) -> str:
    terms = []
    for p in range(_LT_PLANES):
        signs = hyperplane_signs(t * _LT_PLANES + p, _LT_DIM)
        arr = "[" + ", ".join("1.0" if s > 0 else "-1.0" for s in signs) + "]"
        terms.append(f"(CASE WHEN list_dot_product(v, {arr}) > 0 THEN {1 << p} ELSE 0 END)")
    return " + ".join(terms)


_LT_BANDS_SQL = "\n    UNION ALL\n    ".join(
    f"SELECT vec_id, {t} AS tbl, {_lt_bucket_sql(t)} AS bucket FROM v" for t in range(_LT_TABLES)
)

SQL_LSH_TOPK = f"""
WITH v AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
),
b AS (
    {_LT_BANDS_SQL}
),
qb AS (SELECT vec_id AS query_id, tbl, bucket FROM b WHERE vec_id < {_LT_NQ}),
cand AS (
    SELECT DISTINCT qb.query_id, b.vec_id
    FROM b JOIN qb USING (tbl, bucket)
    WHERE b.vec_id <> qb.query_id
),
p AS (
    SELECT cand.query_id, cand.vec_id AS neighbor_id,
           round(list_dot_product(q.v, c.v)
                 / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 6) AS cos
    FROM cand
    JOIN v q ON q.vec_id = cand.query_id
    JOIN v c ON c.vec_id = cand.vec_id
)
SELECT query_id, neighbor_id, cos,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rnk
FROM p
QUALIFY rnk <= {_LT_K}
"""


# ---------------------------------------------------------------------------
# batch 22 (round 4): value-hash oracle for the IVF ANN path (round-3 verdict
# item 2).  ``ivf_topk``'s learned k-means quantizer is engine-internal, so
# its sibling ``ivf_topk_pinned`` pins the quantizer to a deterministic
# hash-selected sample of corpus vectors — every step (centroid selection,
# rounded-distance argmin assignment, probe ranking, exact cosine re-rank)
# replays in DuckDB SQL from the SAME seed constant.  This promotes the IVF
# capability from rows-only to a full value-hash driver row; the learned
# variant stays in the catalog under the rows-only parity union.
# ---------------------------------------------------------------------------

_IVP_NC, _IVP_NP, _IVP_K, _IVP_NQ, _IVP_SEED = 16, 4, 5, 10, 43


def q_ivf_topk_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinned-quantizer IVF ANN top-k (deterministic medoid-seeded cells,
    n_probe nearest cells probed, exact cosine re-rank) — fully value-hashed
    against the DuckDB replay of the identical quantizer."""
    emb = _read(spark, sf_dir, "embeddings")
    return ivf_topk_pinned(
        emb, query_ids=list(range(_IVP_NQ)), k=_IVP_K,
        n_clusters=_IVP_NC, n_probe=_IVP_NP, seed=_IVP_SEED,
    )


SQL_IVF_TOPK = f"""
WITH v AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
),
hh AS (
    SELECT vec_id, v,
           {_duck_hash(_IVP_SEED, "coalesce(CAST(vec_id AS VARCHAR), '<null>')")} AS h
    FROM v
),
cent AS (
    SELECT CAST(row_number() OVER (ORDER BY h, vec_id) - 1 AS INTEGER) AS cell, v AS cvec
    FROM hh
    QUALIFY row_number() OVER (ORDER BY h, vec_id) <= {_IVP_NC}
),
dists AS (
    SELECT a.vec_id, c.cell,
           round((list_dot_product(a.v, a.v) - 2.0 * list_dot_product(a.v, c.cvec))
                 + list_dot_product(c.cvec, c.cvec), 6) AS d
    FROM v a CROSS JOIN cent c
),
assigned AS (
    SELECT vec_id, cell FROM dists
    QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) = 1
),
probes AS (
    SELECT vec_id AS query_id, cell FROM dists
    WHERE vec_id < {_IVP_NQ}
    QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) <= {_IVP_NP}
),
cand AS (
    SELECT p.query_id, a.vec_id
    FROM assigned a JOIN probes p USING (cell)
    WHERE a.vec_id <> p.query_id
),
pr AS (
    SELECT cand.query_id, cand.vec_id AS neighbor_id,
           round(list_dot_product(q.v, c.v)
                 / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 6) AS cos
    FROM cand
    JOIN v q ON q.vec_id = cand.query_id
    JOIN v c ON c.vec_id = cand.vec_id
)
SELECT query_id, neighbor_id, cos,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rnk
FROM pr
QUALIFY rnk <= {_IVP_K}
"""


# ---------------------------------------------------------------------------
# batch 55 (round 6): ANN recall@k observability — the metric an operator of
# the 100 TB similarity path actually watches.  Exact brute-force top-k is
# the truth set; the pinned-quantizer IVF path is the candidate; recall is
# the per-query overlap.  Both halves are individually value-hashed rows
# already (emb_cosine_topk, emb_ivf_topk_oracle); this row composes them so
# a quantizer/probe regression shows up as a recall drop, not just a hash
# mismatch.  Set-intersection semantics — rank ties cannot flake the count.
# ---------------------------------------------------------------------------


def q_emb_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of the pinned IVF ANN vs exact brute force, per query:
    (query_id, n_hits, k).  Both sides bucket/probe exactly as their gated
    rows do; the join is a tiny left-semi per query — never all-pairs."""
    emb = _read(spark, sf_dir, "embeddings")
    qids = list(range(_IVP_NQ))
    ivf = ivf_topk_pinned(
        emb, query_ids=qids, k=_IVP_K,
        n_clusters=_IVP_NC, n_probe=_IVP_NP, seed=_IVP_SEED,
    ).select("query_id", "neighbor_id")
    bf = cosine_topk_bruteforce(emb, query_ids=qids, k=_IVP_K).select(
        "query_id", "neighbor_id"
    )
    hits = (
        bf.join(ivf, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        bf.select("query_id")
        .distinct()
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            F.lit(_IVP_K).cast("int").alias("k"),
        )
    )


SQL_ANN_RECALL = f"""
WITH ivf AS ({SQL_IVF_TOPK}),
     bf AS ({SQL_COSINE_TOPK})
SELECT bf.query_id,
       CAST(count(ivf.neighbor_id) AS BIGINT) AS n_hits,
       CAST({_IVP_K} AS INTEGER) AS k
FROM bf LEFT JOIN ivf
  ON bf.query_id = ivf.query_id AND bf.neighbor_id = ivf.neighbor_id
GROUP BY bf.query_id
"""


CATALOG: dict[str, CatalogEntry] = {
    "emb_cosine_topk": (q_cosine_topk, SQL_COSINE_TOPK),
    # emb_lsh_topk: intentionally no oracle (rows-only) — approximate op
    "emb_lsh_topk": (q_lsh_topk, None),
    "emb_near_dup_pairs": (q_emb_near_dup, SQL_EMB_NEAR_DUP),
    "emb_near_dup_lsh": (q_emb_near_dup_lsh, SQL_EMB_ND_LSH),
    "emb_dup_components": (q_emb_dup_components, SQL_EMB_COMPONENTS),
    "emb_ivf_topk": (q_emb_ivf_topk, None),
    "emb_lsh_topk_oracle": (q_lsh_topk_oracle, SQL_LSH_TOPK),
    "emb_ivf_topk_oracle": (q_ivf_topk_oracle, SQL_IVF_TOPK),
    "emb_ann_recall": (q_emb_ann_recall, SQL_ANN_RECALL),
}
