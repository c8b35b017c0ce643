"""Semantic pins for the ml_prep operators beyond oracle parity:
cluster transitivity, split determinism/stratification and TF-IDF
shape."""

from __future__ import annotations

from pyspark.sql import functions as F

from aws_etl_global_footprint_network_spark.registry import load_all

SPECS = load_all()


def test_dedup_clusters_cover_pairs(spark, sf_dir):
    """Every verified near-dup pair must land in one cluster, and
    cluster ids must be the minimum member id (canonical rep)."""
    pairs = [
        (r.doc_a, r.doc_b)
        for r in SPECS["dedup_ngram_jaccard"].builder(spark, sf_dir).collect()
    ]
    clusters = {
        r.doc_id: r.cluster_id
        for r in SPECS["dedup_clusters"].builder(spark, sf_dir).collect()
    }
    for a, b in pairs:
        assert clusters[a] == clusters[b], (a, b)
    # canonical representative: the smallest doc_id in its own cluster
    by_cluster: dict[int, list[int]] = {}
    for doc, c in clusters.items():
        by_cluster.setdefault(c, []).append(doc)
    for c, members in by_cluster.items():
        assert c == min(members)


def test_connected_components_chain_merges(spark, monkeypatch):
    """A-B, B-C, C-D chains collapse to one cluster labelled min."""
    from aws_etl_global_footprint_network_spark.functions import kernels
    from aws_etl_global_footprint_network_spark.operators.ml_prep import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(10, 20), (20, 30), (30, 40), (100, 200)], "u long, v long"
    )
    want = {10: 10, 20: 10, 30: 10, 40: 10, 100: 100, 200: 100}
    # both dispatch branches must agree: local union-find (default at
    # this size) and the forced Pregel loop (edge cap 0)
    got = {r.node: r.cluster_id for r in connected_components(edges).collect()}
    assert got == want
    monkeypatch.setattr(kernels, "LOCAL_EDGE_CAP", 0)
    got_pregel = {r.node: r.cluster_id for r in connected_components(edges).collect()}
    assert got_pregel == want


def test_connected_components_empty_graph(spark):
    """An empty edge list (a clean corpus — sf0.1's verified near-dup
    graph is empty) yields an empty frame on the local branch; the
    float64-default np.array([]) used to raise IndexError here."""
    from aws_etl_global_footprint_network_spark.operators.ml_prep import (
        connected_components,
    )

    edges = spark.createDataFrame([], "u long, v long")
    assert connected_components(edges).collect() == []


def test_train_test_split_deterministic_and_stratified(spark, sf_dir):
    df1 = SPECS["train_test_split_hash"].builder(spark, sf_dir)
    rows1 = {r.doc_id: (r.bucket, r.split) for r in df1.collect()}
    rows2 = {
        r.doc_id: (r.bucket, r.split)
        for r in SPECS["train_test_split_hash"].builder(spark, sf_dir).collect()
    }
    assert rows1 == rows2  # pure function of doc_id
    n = len(rows1)
    n_train = sum(1 for _, s in rows1.values() if s == "train")
    # md5 buckets are uniform: 80% +- a generous tolerance at small n
    assert abs(n_train / n - 0.8) < 0.1, n_train / n
    for _, (b, s) in rows1.items():
        assert (s == "train") == (b < 80)


def test_tfidf_shape_and_rank_contract(spark, sf_dir):
    df = SPECS["tfidf_top_terms"].builder(spark, sf_dir)
    rows = df.collect()
    per_doc: dict[int, list[int]] = {}
    for r in rows:
        assert r.score > 0 and r.tf >= 1
        per_doc.setdefault(r.doc_id, []).append(r.rank)
    for doc, ranks in per_doc.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= 3
