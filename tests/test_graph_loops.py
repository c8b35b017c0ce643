"""The co-purchase graph loops run on the driver under
``kernels.LOCAL_EDGE_CAP`` edges and as Spark rounds past it.

- ``bounded_collect`` answers a table under the cap and None over
  it, and logs every decision with its size;
- k-core logs the driver branch at sf0.001 and the keep-join decision
  only on the distributed branch;
- BFS and label propagation return the same rows on both branches;
- on an edge-free graph every branch of the six graph ops matches its
  DuckDB oracle, and every driver branch's result collects with no
  Spark job;
- pagerank's driver branch sends mass along the edges, as the
  distributed branch does.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from aws_etl_global_footprint_network_spark.functions import kernels, ranking
from aws_etl_global_footprint_network_spark.registry import load_all
from tests.oracle_harness import compare, duck_connection
from tests.test_fixed_cost import collect_jobs

SPECS = load_all()


def _rows(spark, name, sf_dir):
    return sorted(map(tuple, SPECS[name].builder(spark, sf_dir).collect()), key=repr)


def test_bounded_collect_caps_and_logs(spark):
    df = spark.range(10).select("id")
    cached = spark.range(10).select("id").persist()
    try:
        ranking.DISPATCH_LOG.clear()
        assert kernels.bounded_collect(df, 10, "t_plain").num_rows == 10
        assert kernels.bounded_collect(df, 9, "t_plain") is None
        assert kernels.bounded_collect(cached, 10, "t_cached").num_rows == 10
        assert kernels.bounded_collect(cached, 9, "t_cached") is None
        assert kernels.bounded_collect(df, -1, "t_plain") is None
        log = list(ranking.DISPATCH_LOG)
    finally:
        ranking.DISPATCH_LOG.clear()
        cached.unpersist()
    for d in log:
        assert set(d) == {"kind", "n_rows", "cap", "branch"}
    # an uncached frame is sized by its limit(cap + 1) probe; a
    # cached one exactly, from its cache statistics
    assert [(d["kind"], d["n_rows"], d["cap"], d["branch"]) for d in log] == [
        ("t_plain", 10, 10, "collected"),
        ("t_plain", 10, 9, "pregel"),
        ("t_cached", 10, 10, "collected"),
        ("t_cached", 10, 9, "pregel"),
        ("t_plain", 0, -1, "pregel"),
    ]


def test_kcore_dispatch_log(spark, sf_dir, monkeypatch):
    ranking.DISPATCH_LOG.clear()
    try:
        SPECS["kcore_copurchase"].builder(spark, sf_dir).collect()
        local = [(d["kind"], d["branch"]) for d in ranking.DISPATCH_LOG]
        ranking.DISPATCH_LOG.clear()
        monkeypatch.setattr(kernels, "LOCAL_EDGE_CAP", 10)
        SPECS["kcore_copurchase"].builder(spark, sf_dir).collect()
        forced = list(ranking.DISPATCH_LOG)
    finally:
        ranking.DISPATCH_LOG.clear()
    assert local == [("kcore_edges", "collected")]
    assert [(d["kind"], d["branch"]) for d in forced] == [
        ("kcore_edges", "pregel"),
        ("kcore_keep_join", "broadcast"),
    ]
    assert forced[0]["cap"] == 10 and forced[0]["n_rows"] > 10


@pytest.mark.parametrize(
    "name", ["bfs_hops_copurchase", "label_propagation_communities"]
)
def test_driver_loop_matches_distributed(spark, sf_dir_mid, name, monkeypatch):
    local = _rows(spark, name, sf_dir_mid)
    monkeypatch.setattr(kernels, "LOCAL_EDGE_CAP", -1)
    dist = _rows(spark, name, sf_dir_mid)
    assert local and local == dist


# a star around doc 1 with a path hanging off one leaf: degrees 3, 1,
# 1, 2, 2, 1, so ranks differ by node and by which way mass flows
STAR_PATH = [(1, 2), (1, 3), (1, 4), (4, 5), (5, 6)]


def test_pagerank_sees_edge_direction(spark, sf_dir, monkeypatch):
    """sf0.001's near-dup graph gives every node the same rank, so it
    cannot tell mass sent along an edge from mass sent back to its
    source. On a star-plus-path pair set it can: the ranks differ, and
    the driver branch equals the distributed one row for row."""
    from aws_etl_global_footprint_network_spark.operators import dedup

    monkeypatch.setattr(
        dedup,
        "dedup_ngram_jaccard",
        lambda spark, sf_dir: kernels.local_frame(
            spark, STAR_PATH, "doc_a bigint, doc_b bigint"
        ),
    )
    local = _rows(spark, "pagerank_neardup_graph", sf_dir)
    monkeypatch.setattr(kernels, "LOCAL_EDGE_CAP", -1)
    dist = _rows(spark, "pagerank_neardup_graph", sf_dir)
    assert [r[0] for r in local] == [1, 2, 3, 4, 5, 6]
    assert len({r[1] for r in local}) > 1, local
    assert local == dist


@pytest.fixture(scope="module")
def edge_free_dir(tmp_path_factory, sf_dir):
    """sf0.001 with only the first lineitem of each order (no two
    parts share an order) and only the first document (no near-dup
    pair): every graph these ops build is empty. The other tables are
    linked unchanged."""
    src = sf_dir
    out = tmp_path_factory.mktemp("edge_free")
    for name in os.listdir(src):
        if name not in ("lineitem.parquet", "documents.parquet"):
            os.symlink(os.path.join(src, name), out / name)
    li = pq.read_table(os.path.join(src, "lineitem.parquet"))
    first = (
        li.append_column("__i", pa.array(range(li.num_rows)))
        .group_by("l_orderkey")
        .aggregate([("__i", "min")])["__i_min"]
    )
    pq.write_table(li.take(first), out / "lineitem.parquet")
    docs = pq.read_table(os.path.join(src, "documents.parquet"))
    pq.write_table(docs.slice(0, 1), out / "documents.parquet")
    assert pq.read_metadata(out / "lineitem.parquet").num_rows == 1473
    return str(out)


# (op, forced settings) for every branch an op has: the driver branch
# (default), the distributed one (edge cap under the graph) and, for
# k-core, its shuffle keep join (node cap under the part count)
EDGE_FREE_BRANCHES = [
    ("kcore_copurchase", {}),
    ("kcore_copurchase", {"LOCAL_EDGE_CAP": -1}),
    ("kcore_copurchase", {"LOCAL_EDGE_CAP": -1, "ADAPTIVE_WINDOW_CAP": 1}),
    ("bfs_hops_copurchase", {}),
    ("bfs_hops_copurchase", {"LOCAL_EDGE_CAP": -1}),
    ("label_propagation_communities", {}),
    ("label_propagation_communities", {"LOCAL_EDGE_CAP": -1}),
    ("triangle_count_copurchase", {}),
    ("dedup_clusters", {}),
    ("dedup_clusters", {"LOCAL_EDGE_CAP": -1}),
    ("pagerank_neardup_graph", {}),
    ("pagerank_neardup_graph", {"LOCAL_EDGE_CAP": -1}),
]


@pytest.mark.parametrize(
    "name,forced",
    EDGE_FREE_BRANCHES,
    ids=[f"{n}-{'-'.join(f) or 'default'}" for n, f in EDGE_FREE_BRANCHES],
)
def test_edge_free_graph_matches_oracle(spark, edge_free_dir, name, forced, monkeypatch):
    if "LOCAL_EDGE_CAP" in forced:
        monkeypatch.setattr(kernels, "LOCAL_EDGE_CAP", forced["LOCAL_EDGE_CAP"])
    if "ADAPTIVE_WINDOW_CAP" in forced:
        monkeypatch.setattr(ranking, "ADAPTIVE_WINDOW_CAP", forced["ADAPTIVE_WINDOW_CAP"])
    con = duck_connection(edge_free_dir)
    ranking.DISPATCH_LOG.clear()
    try:
        df = SPECS[name].builder(spark, edge_free_dir)
        res = compare(name, df, SPECS[name].oracle, con)
        probes = [d for d in ranking.DISPATCH_LOG if d["kind"].endswith("_edges")]
    finally:
        ranking.DISPATCH_LOG.clear()
    assert res.ok, (res.detail, res.mismatches[:5])
    assert all(d["n_rows"] == 0 for d in probes), probes
    if not forced and name != "triangle_count_copurchase":
        # a driver result is a local scan: collecting it runs no job
        assert collect_jobs(spark, df)[1] == 0
