"""Sequence packing for pretraining pipelines: concat-and-chunk, on the one
distributed prefix sum every running total and rank in the package uses.

The standard GPT-style packing concatenates the token stream in a canonical
document order and slices it into fixed-length examples.  The hard part at
100 TB is the GLOBAL running token offset — a naive
``Window.orderBy(doc_id)`` with no partition key plans a single-partition
window (one task owns the whole corpus), and ``Window.partitionBy(group)``
plans one task per group.  ``with_keyed_cumsum`` computes a running sum per
group (``group_cols=[]``: one global group) with the classic two-phase
distributed prefix sum:

1. range-partition + sort by ``(group, order)`` (the layout a packed write
   wants anyway) into ``spark.sql.shuffle.partitions`` ranges — a group
   spans many partitions but stays contiguous;
2. LOCAL cumulative sums per ``(partition, group)`` in one vectorized Arrow
   pass riding that sort (a partitioned window would re-exchange the whole
   corpus — see ``_stamped_local_cumsum``);
3. per-(group, partition) totals → driver (bounded by groups × partitions,
   never by data) → per-group prefix offsets over ascending partition id;
4. offset broadcast-joined back on ``(group, partition)``: running sum =
   offset + local cumsum.

``pack_sequences`` then maps each document to its token interval and chunk
span — every downstream loader can slice example ``k`` as tokens
``[k*seq_len, (k+1)*seq_len)`` of the concatenated stream.
"""

from __future__ import annotations

from datetime import timezone

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..caching import tracked_persist

# groups×partitions offset rows a prefix sum may collect to the driver
MAX_OFFSET_ROWS = 1_000_000


def _stamped_local_cumsum(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Range-partition on (group, order), sort within partitions, and stamp
    each row with ``__pid`` and its per-(partition, group) running sum
    ``__local`` in ONE vectorized Arrow pass.

    A ``Window.partitionBy(__pid)`` would do the same arithmetic but Catalyst
    cannot prove range partitioning satisfies the window's required
    distribution, so it inserts a SECOND full-data hash exchange on
    ``(group, __pid)`` — at 100 TB that is the whole corpus shuffled twice.
    The mapInPandas pass rides the in-partition sort directly: zero extra
    exchange, no window sort, batch-wise cumsum with a carry across Arrow
    batches (groups are contiguous after the sort, so only the boundary group
    carries).
    """
    cols = [F.col(c) for c in group_cols + order_cols]
    srt = df.repartitionByRange(*cols).sortWithinPartitions(*cols)
    out_schema = T.StructType(
        [T.StructField(f.name, f.dataType, f.nullable) for f in srt.schema.fields]
        + [
            T.StructField("__pid", T.IntegerType(), False),
            T.StructField("__local", T.LongType(), True),
        ]
    )
    gcols, vcol = list(group_cols), value_col

    def gen(batches):
        import numpy as np
        import pandas as pd
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        carry_key: object = object()  # sentinel: equal to no real key
        carry = 0
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            pdf = pdf.copy()
            vals = pdf[vcol].fillna(0).astype("int64")
            if gcols:
                gid = pdf.groupby(gcols, sort=False, dropna=False).ngroup()
                cs = vals.groupby(gid).cumsum()
                first_key = tuple(None if pd.isna(x) else x for x in pdf.iloc[0][gcols])
                last_key = tuple(None if pd.isna(x) else x for x in pdf.iloc[-1][gcols])
                if first_key == carry_key:
                    cs = cs + (gid == gid.iloc[0]).astype("int64") * carry
            else:
                cs = vals.cumsum() + carry
                first_key = last_key = ()
            carry, carry_key = int(cs.iloc[-1]), last_key
            pdf["__pid"] = np.int32(pid)
            pdf["__local"] = cs.astype("int64")
            yield pdf

    return srt.mapInPandas(gen, out_schema)


def _null_safe_broadcast_join(
    left: DataFrame, right: DataFrame, on: list[str], how: str = "inner"
) -> DataFrame:
    """``left`` joined to a broadcast of the small ``right`` on NULL-SAFE
    equality of ``on`` (``right``'s copies dropped); no ``on`` is a cross
    join of a one-row ``right``.

    A plain equi-join never matches a NULL key (null = null is not true),
    so it would silently drop a NULL stratum or restart its running sum.
    Catalyst extracts EqualNullSafe as hash-join keys, so the plan stays one
    broadcast hash join with no extra exchange; a non-nullable left key
    compares with plain ``=``, which has the same truth value."""
    keys = {c: f"__j{i}" for i, c in enumerate(on)}
    r = right.select(*[F.col(c).alias(keys[c]) if c in keys else c for c in right.columns])
    cond = [
        left[c].eqNullSafe(r[k]) if left.schema[c].nullable else left[c] == r[k]
        for c, k in keys.items()
    ]
    return left.join(F.broadcast(r), on=cond or None, how=how).drop(*keys.values())


def with_keyed_cumsum(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    value_col: str,
    out_col: str = "cumsum",
) -> DataFrame:
    """Exact running sum of the INTEGRAL ``value_col`` in ``order_cols``
    order within each ``group_cols`` group (``[]``: one global running sum),
    by the two-phase prefix sum of the module docstring — no single-task
    window, so a dominant stratum (a crawl source that is 80% of the
    corpus) spans many partitions instead of one straggler task.

    ``order_cols`` must end in a unique tie-breaker for bit-deterministic
    output; ties on the order key across partition boundaries are fine,
    because range partitioning puts equal keys in one partition.  A
    non-integral ``value_col`` raises ``ValueError``: the local pass sums
    int64.

    CONTRACT: ``group_cols`` must be STRATA-cardinality keys (source, lang,
    fold — tens to thousands of groups).  The driver round-trip is
    groups×partitions rows; keyed by a data-cardinality column (conv_id,
    doc_id) it would collect the corpus.  The collect is bounded by
    ``MAX_OFFSET_ROWS`` and RAISES loudly past it (failure-loudness
    convention) — a high-cardinality keyed prefix sum needs a tree
    reduction, not this operator.
    """
    vtype = df.schema[value_col].dataType
    if not isinstance(vtype, T.IntegralType):
        raise ValueError(
            f"with_keyed_cumsum: value_col {value_col!r} must be integral, "
            f"got {vtype.simpleString()}"
        )
    local = _stamped_local_cumsum(df, group_cols, order_cols, value_col)
    local = tracked_persist(local)
    # limit(N+1) bounds what reaches the driver even in the violating case:
    # the agg still runs distributed, but at most N+1 rows ship back.
    totals = (
        local.groupBy(*group_cols, "__pid")
        .agg(F.sum(value_col).alias("__t"))
        .limit(MAX_OFFSET_ROWS + 1)
        .collect()
    )
    if len(totals) > MAX_OFFSET_ROWS:
        raise ValueError(
            f"with_keyed_cumsum: groups×partitions offset rows exceed "
            f"MAX_OFFSET_ROWS={MAX_OFFSET_ROWS} — group_cols={group_cols} "
            f"look data-cardinality, not strata-cardinality; use a "
            f"tree-reduction prefix sum or coarser grouping keys"
        )
    acc: dict[tuple, int] = {}
    offset_rows = []
    for r in sorted(totals, key=lambda r: (tuple(str(r[g]) for g in group_cols), r["__pid"])):
        key = tuple(r[g] for g in group_cols)
        offset_rows.append((*key, r["__pid"], acc.get(key, 0)))
        acc[key] = acc.get(key, 0) + (r["__t"] or 0)
    by_name = {f.name: f.dataType for f in local.schema.fields}
    base = T.StructType(
        [T.StructField(g, by_name[g], True) for g in group_cols]
        + [
            T.StructField("__pid", T.IntegerType(), False),
            T.StructField("__offset", T.LongType(), False),
        ]
    )
    # offsets as ONE broadcast of P·G rows (zero extra exchange), not a CASE
    # chain: a when-chain over 10^4-10^5 range partitions blows past the
    # codegen expression-tree limits.  Built from an Arrow table it plans as
    # a LocalTableScan; a list of rows would be a pickled-RDD scan, one
    # Python-worker stage per prefix sum.  A collected TIMESTAMP is a naive
    # local time; Arrow would read its wall clock as UTC, so it goes in as
    # the same instant in UTC.
    local_ts = {g for g in group_cols if isinstance(by_name[g], T.TimestampType)}
    offsets = df.sparkSession.createDataFrame(
        pa.Table.from_pylist(
            [
                {n: v.astimezone(timezone.utc) if n in local_ts and v is not None else v
                 for n, v in zip(base.names, r)}
                for r in offset_rows
            ],
            schema=to_arrow_schema(base),
        )
    )
    return (
        _null_safe_broadcast_join(local, offsets, ["__pid", *group_cols], how="left")
        .withColumn(
            out_col,
            (F.coalesce(F.col("__offset"), F.lit(0)) + F.col("__local")).cast("long"),
        )
        .drop("__pid", "__local", "__offset")
    )


def pack_sequences(docs: DataFrame, seq_len: int) -> DataFrame:
    """Concat-and-chunk packing manifest: each document's interval in the
    concatenated token stream and the chunk span it lands in.

    Output per doc: ``tok_start`` (inclusive), ``tok_end`` (exclusive),
    ``first_chunk`` / ``last_chunk`` (chunks of ``seq_len`` tokens the doc
    overlaps), ``n_chunks_spanned``.  Deterministic: stream order is
    ``doc_id`` ascending.
    """
    cum = with_keyed_cumsum(docs, [], ["doc_id"], "n_tokens", out_col="__cum")
    return cum.select(
        "doc_id",
        F.col("n_tokens"),
        (F.col("__cum") - F.col("n_tokens")).alias("tok_start"),
        F.col("__cum").alias("tok_end"),
        F.floor((F.col("__cum") - F.col("n_tokens")) / seq_len).cast("long").alias("first_chunk"),
        F.floor((F.col("__cum") - 1) / seq_len).cast("long").alias("last_chunk"),
    ).withColumn(
        "n_chunks_spanned", (F.col("last_chunk") - F.col("first_chunk") + 1).cast("long")
    )
