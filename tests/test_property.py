"""Property-based tests (hypothesis): random transcript shapes vs the pandas
oracle for the ordering-sensitive operators (SURVEY §5: ties on ts, gaps at
threshold, leading nulls, dim snapshots newer than events)."""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

GAP = 600


@st.composite
def transcript_rows(draw):
    n_convs = draw(st.integers(1, 4))
    rows = []
    for c in range(n_convs):
        n = draw(st.integers(1, 12))
        t = 0
        for i in range(1, n + 1):
            # gaps: 0 (ties), exactly GAP (boundary), > GAP (new session)
            t += draw(st.sampled_from([0, 1, GAP, GAP + 1, 5000]))
            tool = draw(st.sampled_from([None, "search", "code"]))
            rows.append((f"c{c}", i, "user" if i % 2 else "assistant", f"m{c}-{i}", tool, t))
    return rows


def _spark_df(spark, rows):
    df = spark.createDataFrame(
        [(c, i, r, x, tl, (pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=s)).to_pydatetime()) for c, i, r, x, tl, s in rows],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    return df


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=transcript_rows())
def test_sessionize_property(spark, rows):
    """Both sessionization paths (window-sum and grouped-map Arrow) agree
    with the pandas oracle on every shape."""
    from ipl_dagster_pipeline_spark.operators.sessionize import sessionize, sessionize_grouped

    df = _spark_df(spark, rows)
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "s"])
    pdf["ts"] = pd.Timestamp("2024-01-01") + pd.to_timedelta(pdf["s"], unit="s")
    pdf = pdf.sort_values(["conv_id", "ts", "turn_idx"], kind="mergesort")
    delta = pdf.groupby("conv_id", sort=False)["ts"].diff().dt.total_seconds()
    exp = (delta.isna() | (delta > GAP)).groupby(pdf["conv_id"], sort=False).cumsum().astype(int)
    for fn in (sessionize, sessionize_grouped):
        got = fn(df, gap_seconds=GAP).orderBy("conv_id", "ts", "turn_idx").toPandas()
        assert got["session_id"].tolist() == exp.tolist(), fn.__name__
        assert got["text"].tolist() == pdf["text"].tolist(), fn.__name__  # stable-order text equality


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=transcript_rows(), dim_offsets=st.lists(st.integers(-3600, 90000), min_size=1, max_size=6))
def test_asof_property(spark, rows, dim_offsets):
    """Every matched snapshot is the latest one ≤ ts; snapshots strictly in the
    future are never matched (zero leakage), regardless of shapes — on the
    interval-broadcast and the cogrouped-map Arrow paths."""
    from ipl_dagster_pipeline_spark.operators.asof import (
        asof_join_broadcast_range,
        asof_join_cogrouped,
    )

    facts = _spark_df(spark, rows)
    dim = spark.createDataFrame(
        [
            ("search", (pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=o)).to_pydatetime(), float(i))
            for i, o in enumerate(sorted(set(dim_offsets)))
        ],
        "tool string, effective_from timestamp, w double",
    )
    # oracle: pandas merge_asof per tool
    f = facts.toPandas().sort_values("ts", kind="mergesort")
    d = dim.toPandas().sort_values("effective_from", kind="mergesort")
    exp = pd.merge_asof(
        f[["conv_id", "turn_idx", "tool", "ts"]],
        d.rename(columns={"effective_from": "mef"}),
        left_on="ts",
        right_on="mef",
        by="tool",
        direction="backward",
    )
    for fn in (asof_join_broadcast_range, asof_join_cogrouped):
        out = fn(facts, dim, key="tool").toPandas()
        matched = out["matched_effective_from"].notna()
        assert (out.loc[matched, "matched_effective_from"] <= out.loc[matched, "ts"]).all(), fn.__name__
        got_map = {(r.conv_id, r.turn_idx): r.w for r in out.itertuples()}
        assert len(got_map) == len(exp), fn.__name__
        for r in exp.itertuples():
            g = got_map[(r.conv_id, r.turn_idx)]
            assert (pd.isna(g) and pd.isna(r.w)) or g == r.w, fn.__name__


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=40,
    )
)
def test_connected_components_match_union_find(spark, edges):
    """Distributed hash-to-min label propagation == sequential union-find on
    arbitrary random graphs (self-loops excluded)."""
    from ipl_dagster_pipeline_spark.operators.graph import connected_components

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {v: find(v) for v in parent}

    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r.v: r.comp for r in connected_components(df, max_rounds=40).collect()}
    assert got == expected


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=transcript_rows(),
    dim_rows=st.lists(
        st.tuples(
            st.sampled_from(["search", "code"]),
            st.integers(-3600, 90000),
            st.sampled_from([None, "a", "b"]),  # NULLABLE dim value column
            st.sampled_from([None, 1.5, 2.5]),
        ),
        min_size=1,
        max_size=8,
        unique_by=lambda r: (r[0], r[1]),
    ),
)
def test_asof_strategies_agree_with_null_dim_values(spark, rows, dim_rows):
    """All three general as-of strategies must return the MATCHED ROW
    atomically — a newer snapshot's NULL value column must not be backfilled
    by an older snapshot (the round-1 per-column-fill divergence)."""
    from ipl_dagster_pipeline_spark.operators.asof import (
        asof_join_broadcast_range,
        asof_join_cogrouped,
        asof_join_union_fill,
    )

    facts = _spark_df(spark, rows)
    dim = spark.createDataFrame(
        [
            (t, (pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=o)).to_pydatetime(), c, w)
            for t, o, c, w in dim_rows
        ],
        "tool string, effective_from timestamp, cat string, w double",
    )

    def key(df):
        pdf = df.toPandas().sort_values(["conv_id", "turn_idx"], kind="mergesort")
        def norm(x):
            return None if (x is None or (isinstance(x, float) and pd.isna(x)) or x is pd.NaT) else x

        return [
            (r.conv_id, r.turn_idx, norm(r.cat), norm(r.w), norm(r.matched_effective_from))
            for r in pdf.itertuples()
        ]

    a = key(asof_join_union_fill(facts, dim, key="tool"))
    b = key(asof_join_cogrouped(facts, dim, key="tool"))
    c = key(asof_join_broadcast_range(facts, dim, key="tool"))
    assert a == b == c


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    changes=st.lists(
        st.tuples(
            st.sampled_from(["A", "B"]),          # key
            st.integers(0, 20),                    # ts (coarse -> forced ties)
            st.sampled_from([None, "x", "y"]),     # attr (nullable)
        ),
        min_size=1,
        max_size=15,
    )
)
def test_scd2_intervals_partition_the_timeline(spark, changes):
    """For ANY change log: per key, versions are dense from 1; intervals are
    half-open, non-overlapping, and tile [first event ts, open); consecutive
    versions always differ in the attr (no-op collapse is total); the version
    at any event ts equals the last distinct value at or before it."""
    from ipl_dagster_pipeline_spark.operators.dimensions import scd2_history

    rows = [(k, t, i, a) for i, (k, t, a) in enumerate(changes)]
    df = spark.createDataFrame(rows, "k string, ts int, eid int, attr string")
    hist = scd2_history(df, ["k"], "ts", ["attr"], tie_cols=["eid"]).collect()
    by_key: dict[str, list] = {}
    for r in hist:
        by_key.setdefault(r.k, []).append(r)
    for k, vs in by_key.items():
        vs.sort(key=lambda r: r.version)
        ev = sorted(((t, i, a) for (kk, t, i, a) in rows if kk == k))
        assert [r.version for r in vs] == list(range(1, len(vs) + 1))
        assert vs[0].valid_from == ev[0][0]          # coverage starts at first event
        assert vs[-1].valid_to is None               # latest version open
        for prev, cur in zip(vs, vs[1:]):
            assert prev.valid_to == cur.valid_from   # tiling, half-open
            assert prev.attr != cur.attr or (prev.attr is None) != (cur.attr is None)
        # replaying the log through the intervals reproduces the latest
        # event attr at every timestamp (PIT correctness, no leakage; ties
        # within one ts resolve to the highest eid, matching the tie_cols
        # ordering — zero-length [t, t) intervals hold nothing)
        for t in sorted({tt for (tt, ii, aa) in ev}):
            holder = [r for r in vs if r.valid_from <= t and (r.valid_to is None or r.valid_to > t)]
            assert len(holder) == 1
            last_attr = [aa for (tt, ii, aa) in ev if tt <= t][-1]
            assert holder[0].attr == last_attr


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    target=st.lists(
        st.tuples(st.integers(0, 5), st.sampled_from(["a", "b", "c"])),
        max_size=6,
        unique_by=lambda r: r[0],
    ),
    updates=st.lists(
        st.tuples(st.integers(0, 5), st.sampled_from(["u", "v"]), st.booleans()),
        max_size=10,
    ),
)
def test_merge_upsert_is_idempotent_and_matches_dict_semantics(spark, target, updates):
    """merge(merge(T, U), U) == merge(T, U), and the result equals plain
    dict-upsert semantics (last update by seq wins, deletes drop the key)."""
    from ipl_dagster_pipeline_spark.operators.dimensions import merge_upsert

    t = spark.createDataFrame(target + [(99, "sentinel")], "k int, v string").withColumn(
        "seq", F.lit(-1)
    )
    u_rows = [(k, v, i, d) for i, (k, v, d) in enumerate(updates)]
    u = spark.createDataFrame(
        u_rows + [(98, "probe", len(u_rows), False)], "k int, v string, seq int, is_del boolean"
    )
    once = merge_upsert(t, u, ["k"], order_col="seq", delete_col="is_del")
    twice = merge_upsert(once, u, ["k"], order_col="seq", delete_col="is_del")
    got_once = {r.k: r.v for r in once.collect()}
    got_twice = {r.k: r.v for r in twice.collect()}
    assert got_once == got_twice
    # dict semantics
    state = {k: v for k, v in target + [(99, "sentinel")]}
    for k, v, i, d in sorted(u_rows + [(98, "probe", len(u_rows), False)], key=lambda r: r[2]):
        if d:
            state.pop(k, None)
        else:
            state[k] = v
    assert got_once == state
