"""Property-based check (hypothesis): the distributed min-label
propagation in ml_prep.connected_components agrees with a direct
union-find on arbitrary small graphs — including chains longer than
one propagation round, cycles, and disconnected singleton pairs."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from aws_etl_global_footprint_network_spark.functions import kernels
from aws_etl_global_footprint_network_spark.operators.ml_prep import (
    connected_components,
)

node = st.integers(min_value=0, max_value=30)
edges_strategy = st.lists(
    st.tuples(node, node).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=25,
)


def _union_find(edges):
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    # canonical label = min node in component
    comp: dict[int, list[int]] = {}
    for n in parent:
        comp.setdefault(find(n), []).append(n)
    return {n: min(members) for root, members in comp.items() for n in members}


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(edges=edges_strategy)
def test_connected_components_matches_union_find(spark, edges):
    df = spark.createDataFrame(edges, "u long, v long")
    # default dispatch (local union-find at this size) AND the forced
    # Pregel branch must both match the reference union-find
    got = {r.node: r.cluster_id for r in connected_components(df).collect()}
    assert got == _union_find(edges)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(kernels, "LOCAL_EDGE_CAP", 0)
        got_pregel = {r.node: r.cluster_id for r in connected_components(df).collect()}
    assert got_pregel == _union_find(edges)


def test_long_chain_converges(spark, monkeypatch):
    """Regression: a chain whose diameter exceeds the old fixed round
    budget must still fully converge (pointer jumping makes this
    O(log n) rounds), never silently return partial labels."""
    n = 64
    edges = [(i, i + 1) for i in range(n)]
    df = spark.createDataFrame(edges, "u long, v long")
    # pointer jumping is a Pregel-branch property: force it
    monkeypatch.setattr(kernels, "LOCAL_EDGE_CAP", 0)
    got = {r.node: r.cluster_id for r in connected_components(df).collect()}
    assert got == {i: 0 for i in range(n + 1)}


def test_nonconvergence_raises(spark, monkeypatch):
    """max_iter is a safety bound: exceeding it raises instead of
    returning wrong clusters."""
    edges = [(i, i + 1) for i in range(40)]
    df = spark.createDataFrame(edges, "u long, v long")
    monkeypatch.setattr(kernels, "LOCAL_EDGE_CAP", 0)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=1)


# --- round-6 hardening: weighted-MG merge + bounded top-R ----------------


@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(1, 9)), min_size=0, max_size=120
    ),
    st.integers(2, 8),
)
@settings(max_examples=200, deadline=None)
def test_weighted_mg_merge_keeps_heavy_hitter_superset(pairs, capacity):
    """The vectorized Misra-Gries path merges BATCH-COUNTED items with
    the weighted-insert rule (operators/sketches.py). Property: for
    ANY stream and ANY batching, every item with total frequency
    > n/(capacity+1) survives — the superset guarantee pass 2 relies
    on. Replicated here in pure Python over random streams, random
    batch splits, and random capacities."""
    # expand (token, count) pairs into a stream, then re-batch it
    stream = [t for t, c in pairs for _ in range(c)]
    if not stream:
        return
    # batch boundaries derived from the data (deterministic per example)
    batch_size = max(1, len(stream) // 7)
    batches = [
        stream[i : i + batch_size] for i in range(0, len(stream), batch_size)
    ]

    from collections import Counter

    from aws_etl_global_footprint_network_spark.operators.sketches import (
        weighted_mg_merge,
    )

    counters: dict[int, int] = {}
    for batch in batches:
        weighted_mg_merge(counters, Counter(batch).items(), capacity)

    from collections import Counter

    exact = Counter(stream)
    n = len(stream)
    for token, cnt in exact.items():
        if cnt * (capacity + 1) > n:  # true heavy hitter
            assert token in counters, (token, cnt, n, capacity, counters)


@given(
    st.lists(st.tuples(st.integers(0, 3), st.floats(0, 100)), min_size=1, max_size=80),
    st.integers(1, 6),
    st.integers(1, 5),
)
@settings(max_examples=100, deadline=None)
def test_partition_bounded_topr_contains_global_topr(rows, r, n_parts):
    """The hard-negative pre-reduction keeps top-r PER PARTITION
    before the per-query window. Property: for any partitioning of the
    candidates, the union of per-partition top-rs contains the global
    top-r (so the final window over the union is exact)."""
    # rows: (query_id, dist); partition assignment derived from index
    parts: dict[tuple[int, int], list] = {}
    for i, (q, d) in enumerate(rows):
        parts.setdefault((q, i % n_parts), []).append((d, i))
    union = []
    for (q, _p), cand in parts.items():
        union.extend((q, d, i) for d, i in sorted(cand)[:r])
    by_q: dict[int, list] = {}
    for i, (q, d) in enumerate(rows):
        by_q.setdefault(q, []).append((d, i))
    for q, cand in by_q.items():
        global_topr = {(d, i) for d, i in sorted(cand)[:r]}
        union_q = {(d, i) for (qq, d, i) in union if qq == q}
        assert global_topr <= union_q, (q, global_topr, union_q)


def test_pagerank_local_branch_matches_pregel_branch(spark, sf_dir, monkeypatch):
    """Round-13 pin: the driver power iteration (under
    kernels.LOCAL_EDGE_CAP) and the distributed 3-round loop must
    produce row-identical pageranks — same symmetric edge
    construction, same per-round 1e-8 rounding grain."""
    from aws_etl_global_footprint_network_spark.functions import kernels
    from aws_etl_global_footprint_network_spark.operators import ml_prep

    local = sorted(
        map(
            tuple,
            ml_prep.pagerank_neardup_graph(spark, sf_dir).collect(),
        )
    )
    monkeypatch.setattr(kernels, "LOCAL_EDGE_CAP", -1)  # distributed loop
    dist = sorted(
        map(
            tuple,
            ml_prep.pagerank_neardup_graph(spark, sf_dir).collect(),
        )
    )
    assert local and local == dist
