"""Similarity search over embedding columns (array<float>).

* ``cosine_topk_bruteforce`` — exact baseline: broadcast the (small) query
  set, JVM-side dot products via ``F.zip_with`` + ``F.aggregate`` (sequential
  left-to-right summation — bit-reproducible in any engine that sums in list
  order, which the DuckDB oracle does), rank per query.
* ``lsh_topk`` — the ANN scale path: sign-random-projection (hyperplane) LSH.
  Hyperplanes are DERIVED FROM INTEGER HASH BITS (no RNG, no driver data):
  plane q's component for dimension d is ±1 by bit 17 of
  ``GOLDEN * (q*dim + d + 1)`` — see ``hyperplane_signs``.  Candidates =
  same bucket; exact cosine re-rank inside buckets.  At 100 TB the bucket
  join replaces the O(N·Q) cross product with an equi-join on bucket id.
* ``near_dup_pairs_lsh`` — the scale path for embedding near-duplicate
  DETECTION (all pairs ≥ threshold): multi-table banded LSH (union of
  ``n_tables`` independent bucket assignments), candidate equi-join on
  (table, bucket), exact cosine re-rank + threshold.  Replaces the O(N²)
  theta join, which remains only as the small-SF oracle mode
  (catalog.embeddings.q_emb_near_dup).

All arithmetic in double (cast from float32 FIRST on both engines, so the
widening happens at the same point).

Parameter rule at scale: ``n_planes ≈ log2(N / target_bucket_rows)`` (so
candidate blocks stay bounded) and ``n_tables`` set by the recall target
(per-pair collision prob = 1-(1-p^planes)^tables, p = 1 - angle/pi).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..partitioning import capped_buckets, fan_out_scan

# odd 64-bit multiplier (golden-ratio constant); bit 17 of K*i is a cheap,
# well-mixed pseudo-random bit.  NOTE: (K*i) % 2 would collapse to parity(i) —
# K is odd — which is exactly the round-1 degeneracy this construction fixes.
_GOLDEN = 0x9E3779B97F4A7C15


def hyperplane_signs(plane: int, dim: int) -> list[float]:
    """Deterministic ±1 signs of hyperplane ``plane`` over ``dim`` dims.

    Shared by the Spark operator AND the DuckDB oracle generator
    (catalog/embeddings.py), so both engines use bit-identical planes.
    """
    return [
        1.0 if ((_GOLDEN * (plane * dim + d + 1)) >> 17) & 1 == 0 else -1.0
        for d in range(dim)
    ]


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    """Sequential in-order dot product (reproducible summation order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def _top_k(pairs: DataFrame, k: int, id_col: str) -> DataFrame:
    """The ``k`` best ``(query_id, id_col, cos)`` rows per query, ranked by
    cos descending with the neighbor id as the deterministic tie-break."""
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col(id_col).asc())
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", F.col(id_col).alias("neighbor_id"), "cos", F.col("rnk").cast("int").alias("rnk"))
    )


def cosine_topk_bruteforce(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query id.

    Queries are a broadcast dim (J1 pattern); candidates every other vector.
    Ranking rounds to 6 dp BEFORE ranking with vec_id tie-break, so ranking
    is stable across engines/float orders.
    """
    # norms are bound per ROW before the pair join: cosine(qv, v) would
    # re-fold both norms per PAIR (interpreted HOF aggregates — Q×N×dim
    # steps); precomputing them is Q·dim + N·dim and bit-identical (the
    # norm product keeps the same operand order the oracle uses)
    base = fan_out_scan(emb).select(
        F.col(id_col), _as_double(F.col(vec_col)).alias("v")
    ).withColumn("__nv", _norm(F.col("v")))
    q = base.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col("v").alias("qv"), F.col("__nv").alias("__nq")
    )
    pairs = base.join(F.broadcast(q), F.col(id_col) != F.col("query_id")).withColumn(
        "cos", F.round(_dot(F.col("qv"), F.col("v")) / (F.col("__nq") * F.col("__nv")), 6)
    )
    return _top_k(pairs, k, id_col)


def hyperplane_bucket(vec: Column, n_planes: int = 8, dim: int = 64, table: int = 0) -> Column:
    """Deterministic sign-random-projection bucket id (0 .. 2^n_planes-1).

    Bit p of the bucket is ``sign(vec · plane_{table*n_planes+p})``; planes
    come from ``hyperplane_signs`` (hash-bit construction, no RNG state —
    identical on every executor, run, and engine).  ``table`` offsets the
    plane index so multi-table LSH gets independent plane sets.
    """
    bucket = F.lit(0)
    for p in range(n_planes):
        signs = hyperplane_signs(table * n_planes + p, dim)
        proj = F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(s) for s in signs]),
                lambda x, s: x * s,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return bucket


def lsh_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_planes: int = 8,
    dim: int = 64,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates share any of ``n_tables`` hyperplane
    buckets (multi-table LSH — the standard recall lever: per-table miss
    probabilities multiply), exact cosine re-rank over the deduped candidate
    set.  Recall measured in tests vs brute force.

    Scale shape: candidate discovery is a broadcast equi-join on
    (tbl, bucket) (queries are the broadcast side), then one distinct and one
    id-equi-join to fetch vectors — never a cross product."""
    emb = fan_out_scan(emb)  # the 32-dot-product bucket projection is map-heavy
    base = emb.select(F.col(id_col), _as_double(F.col(vec_col)).alias("v")).withColumn(
        "__nv", _norm(F.col("v"))  # per-row norm, not per-pair (see bruteforce)
    )
    buckets = hyperplane_buckets_tall(emb, n_planes, n_tables, dim, id_col, vec_col)
    qb = buckets.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), "tbl", "bucket"
    )
    cand = (
        buckets.join(F.broadcast(qb), on=["tbl", "bucket"])
        .filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", id_col)
        .distinct()
    )
    q = base.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col("v").alias("qv"), F.col("__nv").alias("__nq")
    )
    pairs = (
        cand.join(base, on=id_col)
        .join(F.broadcast(q), on="query_id")
        .withColumn("cos", F.round(_dot(F.col("qv"), F.col("v")) / (F.col("__nq") * F.col("__nv")), 6))
    )
    return _top_k(pairs, k, id_col)


def hyperplane_buckets_tall(
    emb: DataFrame,
    n_planes: int,
    n_tables: int,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, tbl, bucket) — one row per vector per LSH table.

    All ``n_tables`` bucket ids are computed in ONE projection pass over each
    vector (array of structs, then explode) — the vector is read once, and the
    shuffle that follows carries only (id, tbl, bucket)."""
    base = emb.select(F.col(id_col), _as_double(F.col(vec_col)).alias("v"))
    return base.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("tbl"),
                        hyperplane_bucket(F.col("v"), n_planes, dim, table=t).alias("bucket"),
                    )
                    for t in range(n_tables)
                ]
            )
        ).alias("tb"),
    ).select(id_col, F.col("tb.tbl").alias("tbl"), F.col("tb.bucket").alias("bucket"))


def ivf_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_clusters: int = 16,
    n_probe: int = 4,
    train_fraction: float = 1.0,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: a k-means coarse quantizer
    partitions the corpus into ``n_clusters`` cells; each query probes its
    ``n_probe`` nearest cells and re-ranks exactly inside them.

    Scale shape: training runs on a SAMPLE (``train_fraction``); corpus cell
    assignment is a single ML-transform map (no shuffle); the query→cell
    ranking joins Q queries against a BROADCAST k-row centroid table (Q·k tiny
    rows — the only intentional non-equi join); candidate fetch is an
    equi-join on cell id.  Expected candidates ≈ corpus · n_probe/n_clusters.
    Complements the hyperplane-LSH path: IVF adapts to the data distribution
    (learned centroids), LSH is data-independent and oracle-reproducible.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    base = emb.select(F.col(id_col), _as_double(F.col(vec_col)).alias("v"))
    feat = base.withColumn("features", array_to_vector(F.col("v")))
    train = feat if train_fraction >= 1.0 else feat.sample(train_fraction, seed=seed)
    model = KMeans(k=n_clusters, seed=seed, featuresCol="features", predictionCol="cell").fit(train)
    assigned = model.transform(feat).select(id_col, "v", "cell")

    centroids = [
        (int(i), [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    cent = emb.sparkSession.createDataFrame(centroids, ["cell", "cvec"])

    q = assigned.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col("v").alias("qv")
    )
    # rank the k centroids per query (Q×k rows — bounded by design)
    qc = q.crossJoin(F.broadcast(cent)).withColumn(
        "cdist",
        F.aggregate(
            F.zip_with(F.col("qv"), F.col("cvec"), lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("cdist").asc(), F.col("cell").asc())
    probes = (
        qc.withColumn("__pr", F.row_number().over(wq))
        .filter(F.col("__pr") <= n_probe)
        .select("query_id", "qv", "cell")
    )
    cand = assigned.join(probes, on="cell").filter(F.col(id_col) != F.col("query_id"))
    pairs = cand.withColumn("cos", F.round(cosine(F.col("qv"), F.col("v")), 6))
    return _top_k(pairs, k, id_col)


def ivf_topk_pinned(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_clusters: int = 16,
    n_probe: int = 4,
    seed: int = 43,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k with a PINNED deterministic coarse quantizer —
    the value-hash-oracle-able sibling of :func:`ivf_topk`.

    ``ivf_topk``'s k-means quantizer is learned and engine-internal, so no
    cross-engine oracle can replay it.  Here the quantizer cells are seeded by
    the corpus itself: centroid ``c`` is the corpus vector with the
    ``c``-th smallest ``(portable_hash(id, seed), id)`` — a deterministic
    uniform sample of corpus points (medoid-style seeding, the same
    construction k-means++ initializes from).  Every step is replayable in
    ANSI SQL: same hash, same rounded-distance argmin, same probe ranking,
    same exact cosine re-rank.

    Scale shape: centroid selection is a global top-``n_clusters``
    (TakeOrdered — k·dim doubles to the driver, bounded by the cluster count,
    never by data); cell assignment and query probing are PURE PROJECTIONS
    against centroid literals (zero shuffle over the corpus); candidate fetch
    is a broadcast hash join of the tiny (query × n_probe) probe table
    against the assigned corpus — the corpus is never re-shuffled.  All
    distances are computed with the same sequential-fold expression shape on
    both engines and rounded to 6 dp BEFORE any argmin/ranking, with
    cell-id / neighbor-id tie-breaks, so ordering decisions are
    bit-reproducible.
    """
    from .text_dedup import portable_hash

    base = emb.select(F.col(id_col), _as_double(F.col(vec_col)).alias("v"))
    h = portable_hash(F.coalesce(F.col(id_col).cast("string"), F.lit("<null>")), seed)
    seed_rows = (
        base.withColumn("__h", h).orderBy("__h", id_col).limit(n_clusters).select("v").collect()
    )
    cents = [(c, [float(x) for x in r["v"]]) for c, r in enumerate(seed_rows)]
    if not cents:  # empty corpus: no quantizer — empty result, normal schema
        return emb.sparkSession.createDataFrame(
            [], f"query_id {emb.schema[id_col].dataType.simpleString()}, "
                f"neighbor_id {emb.schema[id_col].dataType.simpleString()}, "
                "cos double, rnk int"
        )

    def _self_dot(cvals: list[float]) -> float:
        # the same left-to-right fold F.aggregate performs, done at plan
        # time — c·c is a constant, not a per-row 2·dim interpreted fold
        acc = 0.0
        for x in cvals:
            acc = acc + x * x
        return acc

    def dist_to(cvals: list[float]):
        clit = F.array(*[F.lit(x) for x in cvals])
        # identical association on both engines: (v·v - 2(v·c)) + c·c;
        # v·v is bound once per row as __vv (16 centroids would otherwise
        # re-fold it 16× per row), c·c is a literal (same IEEE value)
        return F.round(
            (F.col("__vv") - F.lit(2.0) * _dot(F.col("v"), clit)) + F.lit(_self_dot(cvals)), 6
        )

    darr = F.array(
        *[
            F.struct(dist_to(cvals).alias("d"), F.lit(c).cast("int").alias("cell"))
            for c, cvals in cents
        ]
    )
    withd = base.withColumn("__vv", _dot(F.col("v"), F.col("v"))).withColumn("__darr", darr)
    assigned = withd.withColumn("cell", F.array_min("__darr").getField("cell")).select(
        id_col, "v", "cell", F.sqrt("__vv").alias("__nv")
    )
    probes = (
        withd.filter(F.col(id_col).isin(query_ids))
        .select(
            F.col(id_col).alias("query_id"),
            F.explode(
                F.transform(
                    F.slice(F.array_sort("__darr"), 1, n_probe),
                    lambda s: s.getField("cell"),
                )
            ).alias("cell"),
        )
    )
    q = base.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col("v").alias("qv"), _norm(F.col("v")).alias("__nq")
    )
    cand = assigned.join(F.broadcast(probes), on="cell").filter(
        F.col(id_col) != F.col("query_id")
    )
    pairs = cand.join(F.broadcast(q), on="query_id").withColumn(
        "cos", F.round(_dot(F.col("qv"), F.col("v")) / (F.col("__nq") * F.col("__nv")), 6)
    )
    return _top_k(pairs, k, id_col)


def near_dup_pairs_lsh(
    emb: DataFrame,
    threshold: float = 0.4,
    n_planes: int = 4,
    n_tables: int = 8,
    dim: int = 64,
    max_bucket: int = 100_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scale-safe embedding near-duplicate pairs: multi-table hyperplane LSH
    candidates + exact cosine re-rank + threshold.

    Physical shape at 100 TB: one projection pass computes all table buckets
    per vector; candidates are an EQUI self-join on (tbl, bucket) (never a
    theta/cross join); the exact re-rank joins vectors back by id only for
    surviving candidate pairs.  The bucket frame is persisted so the self-join
    does not recompute the projection lineage per side.  Buckets above
    ``max_bucket`` are dropped (a degenerate direction cluster would emit B²
    pairs) — the same ``partitioning.capped_buckets`` cap as
    text_dedup.lsh_candidates; the count window rides the self-join's own
    (tbl, bucket) shuffle.

    Approximation is one-sided: output ⊆ the exact pair set (recall measured
    in tests; raise ``n_tables`` to raise recall, ``n_planes`` with log2(N)).
    """
    emb = fan_out_scan(emb)  # the 32-dot-product bucket projection is map-heavy
    base = emb.select(F.col(id_col), _as_double(F.col(vec_col)).alias("v")).withColumn(
        "__nv", _norm(F.col("v"))  # per-row norm, not per-pair (see bruteforce)
    )
    buckets = hyperplane_buckets_tall(emb, n_planes, n_tables, dim, id_col, vec_col)
    # the dropped count: emb_lsh_dropped.* on the consuming stage's lineage row
    observed, kept = capped_buckets(
        buckets, ["tbl", "bucket"], max_bucket, "emb_lsh_dropped", "dropped_bucket_rows", "bucket_rows"
    )
    cand = (
        observed.alias("a").join(
            kept.alias("b"),
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("vec_a"), F.col(f"b.{id_col}").alias("vec_b"))
        .distinct()
    )
    va = base.select(F.col(id_col).alias("vec_a"), F.col("v").alias("va"), F.col("__nv").alias("__na"))
    vb = base.select(F.col(id_col).alias("vec_b"), F.col("v").alias("vb"), F.col("__nv").alias("__nb"))
    pairs = (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .withColumn("cos", F.round(_dot(F.col("va"), F.col("vb")) / (F.col("__na") * F.col("__nb")), 6))
    )
    return pairs.filter(F.col("cos") >= threshold).select("vec_a", "vec_b", "cos")
