"""Sign-LSH index QUALITY on the planted-twin corpus: the banded
index must recover >= 0.8 of true near-dup pairs at its verify
threshold while scoring <= 1% of all pairs (the round-3 geometry
targets from the round-2 verdict). Precision is 1.0 by construction —
candidates are exact-verified before emission."""

from __future__ import annotations

from pyspark.sql import functions as F

from aws_etl_global_footprint_network_spark.functions.vectors import dot
from aws_etl_global_footprint_network_spark.operators import similarity
from aws_etl_global_footprint_network_spark.registry import load_all


def test_planted_twin_recall_and_candidate_budget(spark, sf_dir):
    emb = similarity.augmented_embeddings(spark, sf_dir).persist()
    n = emb.count()
    a = emb.select(
        F.col("vec_id").alias("va"), F.col("e").alias("ea"), F.col("nrm").alias("na")
    )
    b = emb.select(
        F.col("vec_id").alias("vb"), F.col("e").alias("eb"), F.col("nrm").alias("nb")
    )
    cos = dot("ea", "eb") / (F.col("na") * F.col("nb"))
    true_pairs = (
        a.join(b, F.col("va") < F.col("vb"))
        .select("va", "vb", cos.alias("score"))
        .filter(F.col("score") >= similarity.LSH_PAIR_THRESHOLD)
        .collect()
    )
    assert true_pairs, "planted twins must create near-dup pairs"
    # the corpus's organic near-dups are only the planted twins
    assert all(r.vb - r.va == similarity.TWIN_OFFSET for r in true_pairs)

    found = load_all()["ann_lsh_pairs"].builder(spark, sf_dir)
    found_keys = {(r.vec_a, r.vec_b) for r in found.collect()}
    true_keys = {(r.va, r.vb) for r in true_pairs}
    assert found_keys <= true_keys  # precision 1.0: exact-verified
    recall = len(found_keys & true_keys) / len(true_keys)
    assert recall >= 0.8, recall

    n_cand = similarity.band_candidate_pairs(
        similarity.sign_band_table(emb)
    ).count()
    emb.unpersist()
    assert n_cand / (n * (n - 1) / 2) <= 0.01


def test_twin_cosine_concentrates_near_design_point(spark, sf_dir):
    # cosine(v, twin) ~ 1/sqrt(1 + EPS^2/3) ~ 0.93 for EPS = 0.7
    emb = similarity.augmented_embeddings(spark, sf_dir)
    orig = emb.filter(F.col("vec_id") < similarity.TWIN_OFFSET).select(
        "vec_id", F.col("e").alias("eo"), F.col("nrm").alias("no")
    )
    twin = emb.filter(F.col("vec_id") >= similarity.TWIN_OFFSET).select(
        (F.col("vec_id") - similarity.TWIN_OFFSET).alias("vec_id"),
        F.col("e").alias("et"),
        F.col("nrm").alias("nt"),
    )
    cos = dot("eo", "et") / (F.col("no") * F.col("nt"))
    stats = (
        orig.join(twin, "vec_id")
        .agg(F.min(cos).alias("mn"), F.avg(cos).alias("av"), F.max(cos).alias("mx"))
        .collect()[0]
    )
    assert 0.9 < stats.av < 0.95, stats
    assert stats.mn > 0.8 and stats.mx < 1.0, stats


def test_kmeans_refinement_does_not_increase_sse(spark, sf_dir):
    """Lloyd iterations monotonically non-increase within-cluster SSE;
    after KMEANS_ROUNDS rounds from the label-centroid init, total SSE
    under (final centroids, nearest assignment) must be <= the init's
    nearest-assignment SSE."""
    import numpy as np

    from aws_etl_global_footprint_network_spark.functions.vectors import (
        as_double_array,
    )
    from aws_etl_global_footprint_network_spark.operators.similarity import (
        ivf_kmeans_train,
        ivf_label_centroids,
    )
    from aws_etl_global_footprint_network_spark.sources.readers import read_testdata

    emb = (
        read_testdata(spark, sf_dir, "embeddings")
        .select("vec_id", as_double_array("embedding").alias("e"))
        .collect()
    )
    X = np.array([r.e for r in emb])

    def sse(centroid_rows, cid_col):
        byc: dict[int, dict[int, float]] = {}
        for r in centroid_rows:
            byc.setdefault(getattr(r, cid_col), {})[r.pos] = r[2]
        C = np.array(
            [[v for _, v in sorted(d.items())] for _, d in sorted(byc.items())]
        )
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        return d2.min(axis=1).sum()

    init = ivf_label_centroids(spark, sf_dir).collect()
    final = ivf_kmeans_train(spark, sf_dir).collect()
    n = read_testdata(spark, sf_dir, "embeddings").count()
    sizes: dict[int, int] = {}
    for r in final:
        sizes[r.cluster] = r.n_members
    assert sum(sizes.values()) == n
    assert sse(final, "cluster") <= sse(init, "label") * (1 + 1e-9)


def test_pq_lloyd_round_does_not_increase_quantization_error(sf_dir):
    """The refined PQ codebook must quantize the corpus at least as
    well as the seed codebook (Lloyd monotonicity), checked on the
    oracle's training chain: the seed assignment ``asg0``'s error sum
    against the refined assignment ``codesr``'s. The kernel's codebook
    is pinned to that chain by test_oracle_parity[pq_train_codebooks]."""
    from aws_etl_global_footprint_network_spark.operators import similarity_pq as pq
    from tests.oracle_harness import duck_connection

    con = duck_connection(sf_dir)
    err0, err1 = con.sql(
        f"""WITH {pq._pq_prefix_sql()}
        SELECT (SELECT SUM(d) FROM d0 JOIN asg0 USING (vec_id, m, code)),
               (SELECT SUM(d) FROM codesr)"""
    ).fetchone()
    assert err0 > 0
    assert err1 <= err0 * (1 + 1e-9), (err0, err1)


def test_pq_codes_pack_and_match_mse(spark, sf_dir):
    """Packed codes must round-trip to the per-subspace assignments,
    and every vector must carry exactly M codes in [0, K)."""
    from aws_etl_global_footprint_network_spark.operators import similarity_pq as pq
    from aws_etl_global_footprint_network_spark.registry import load_all

    rows = load_all()["pq_codes"].builder(spark, sf_dir).collect()
    assert rows
    half = pq.M // 2
    for r in rows[:50]:
        codes = [
            (r.packed_lo >> (pq.CODE_BITS * m)) & (pq.K - 1)
            for m in range(half)
        ] + [
            (r.packed_hi >> (pq.CODE_BITS * m)) & (pq.K - 1)
            for m in range(pq.M - half)
        ]
        assert len(codes) == pq.M
        assert all(0 <= c < pq.K for c in codes)
        assert r.mse >= 0
    assert len({r.vec_id for r in rows}) == len(rows)


def test_pq_adc_recall_vs_exact_topk(spark, sf_dir):
    """ADC search quality: measured recall@5 against the exact
    brute-force cosine top-5. PQ approximates L2 distance on
    subquantized coordinates, so on the isotropic test corpus (the
    documented ANN worst case — no cluster structure) we pin a
    conservative floor; on clustered real embeddings the same code
    scores far higher."""
    from aws_etl_global_footprint_network_spark.registry import load_all

    specs = load_all()
    exact = {
        (r.query_id, r.neighbor_id)
        for r in specs["ann_cosine_topk"].builder(spark, sf_dir).collect()
    }
    adc = {
        (r.query_id, r.neighbor_id)
        for r in specs["pq_adc_topk"].builder(spark, sf_dir).collect()
    }
    assert exact and adc
    recall = len(exact & adc) / len(exact)
    assert recall >= 0.2, recall


def test_pq_rerank_recall_vs_exact(spark, sf_dir):
    """The ADC-shortlist + exact-rerank pipeline must recover most of
    the true top-5 (measured 0.84 at sf0.1; conservative floor here
    for the small test SF)."""
    from aws_etl_global_footprint_network_spark.functions.vectors import (
        as_double_array,
    )
    from aws_etl_global_footprint_network_spark.operators import similarity_pq as pq
    from aws_etl_global_footprint_network_spark.registry import load_all
    from aws_etl_global_footprint_network_spark.sources.readers import read_testdata
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    emb = read_testdata(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("e")
    )
    q = emb.filter(F.col("vec_id") < pq.N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    d = F.aggregate(
        F.zip_with("qe", "e", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    scored = emb.join(
        F.broadcast(q), F.col("query_id") != F.col("vec_id")
    ).select("query_id", F.col("vec_id").alias("neighbor_id"), d.alias("d"))
    w = Window.partitionBy("query_id").orderBy("d", "neighbor_id")
    exact = {
        (r.query_id, r.neighbor_id)
        for r in scored.withColumn("rn", F.row_number().over(w))
        .filter(f"rn <= {pq.TOPK}")
        .collect()
    }
    rr = {
        (r.query_id, r.neighbor_id)
        for r in load_all()["pq_adc_rerank_topk"].builder(spark, sf_dir).collect()
    }
    assert exact and rr
    recall = len(exact & rr) / len(exact)
    assert recall >= 0.6, recall


def test_ivfadc_recall_floor(spark, sf_dir):
    """Composed IVFADC+rerank recall is bounded by the IVF probe stage
    (a true neighbour outside the probed lists is unrecoverable); the
    floor pins the composition doing better than either naive bound
    failing (measured 0.58 at sf0.1, nprobe=4, isotropic corpus)."""
    from aws_etl_global_footprint_network_spark.functions.vectors import (
        as_double_array,
    )
    from aws_etl_global_footprint_network_spark.operators import similarity_pq as pq
    from aws_etl_global_footprint_network_spark.registry import load_all
    from aws_etl_global_footprint_network_spark.sources.readers import read_testdata
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    emb = read_testdata(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("e")
    )
    q = emb.filter(F.col("vec_id") < pq.N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    d = F.aggregate(
        F.zip_with("qe", "e", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    scored = emb.join(
        F.broadcast(q), F.col("query_id") != F.col("vec_id")
    ).select("query_id", F.col("vec_id").alias("neighbor_id"), d.alias("d"))
    w = Window.partitionBy("query_id").orderBy("d", "neighbor_id")
    exact = {
        (r.query_id, r.neighbor_id)
        for r in scored.withColumn("rn", F.row_number().over(w))
        .filter(f"rn <= {pq.TOPK}")
        .collect()
    }
    got = {
        (r.query_id, r.neighbor_id)
        for r in load_all()["ivfadc_rerank_topk"].builder(spark, sf_dir).collect()
    }
    assert exact and got
    assert len(exact & got) / len(exact) >= 0.3


# ---------------------------------------------------------------------
# Adaptive multi-probe LSH (ann_lsh_pairs_adaptive)
# ---------------------------------------------------------------------

def test_extra_bits_ladder():
    # one extra bit per corpus doubling past nref, integer-exact at the
    # boundaries, capped at ADAPTIVE_MAX_EXTRA
    e = similarity._extra_bits
    nref = similarity.ADAPTIVE_NREF  # 2000: the sf0.1 occupancy anchor
    assert e(500, nref) == 0  # driver gate
    assert e(2000, nref) == 0  # sf0.1 (the anchor itself)
    assert e(2001, nref) == 1
    assert e(4000, nref) == 1
    assert e(20000, nref) == 4  # sf1
    assert e(200000, nref) == 7  # sf10 (the first anchor run capped
    # at the old MAX_EXTRA=6; with headroom 8 the ladder gives 7)
    assert e(10**12, nref) == similarity.ADAPTIVE_MAX_EXTRA
    # boundary exactness at a smaller anchor (the forced-test geometry)
    assert e(500, 125) == 2 and e(125, 125) == 0 and e(126, 125) == 1


def test_adaptive_lsh_degenerates_to_fixed_at_gate_scale(spark, sf_dir):
    # below ADAPTIVE_NREF the adaptive query IS the fixed geometry:
    # identical verified pairs, bit for bit
    fixed = {
        tuple(r)
        for r in load_all()["ann_lsh_pairs"].builder(spark, sf_dir).collect()
    }
    adaptive = {
        tuple(r)
        for r in load_all()["ann_lsh_pairs_adaptive"]
        .builder(spark, sf_dir)
        .collect()
    }
    assert adaptive == fixed and fixed


def test_adaptive_lsh_forced_geometry_parity_and_recall(spark, sf_dir):
    # force extra=2 on the 500-vector corpus (nref=125) and check
    # (a) cross-engine hash parity at the NON-default geometry — the
    #     masked-bits oracle and the literal-bits Spark plan agree;
    # (b) multi-probe holds recall: >= 0.9 of the pairs the fixed
    #     geometry verifies survive two added bucket bits;
    # (c) the bucket space actually grew (the point of the exercise).
    from tests.oracle_harness import compare, duck_connection

    nref = 125
    df = similarity._adaptive_lsh_pairs(spark, sf_dir, nref=nref)
    con = duck_connection(sf_dir)
    try:
        res = compare(
            "ann_lsh_pairs_adaptive_forced",
            df,
            similarity._adaptive_oracle(nref),
            con,
        )
        assert res.ok, res.detail
    finally:
        con.close()
    fixed = {
        (r.vec_a, r.vec_b)
        for r in load_all()["ann_lsh_pairs"].builder(spark, sf_dir).collect()
    }
    adaptive = {(r.vec_a, r.vec_b) for r in df.collect()}
    assert adaptive <= fixed  # precision 1.0 both; adaptive can only prune
    assert len(adaptive) / len(fixed) >= 0.9

    emb = similarity.augmented_embeddings(spark, sf_dir).persist()
    base_buckets = (
        similarity._adaptive_home_table(emb, 0)
        .select("band", "bucket")
        .distinct()
        .count()
    )
    grown_buckets = (
        similarity._adaptive_home_table(emb, 2)
        .select("band", "bucket")
        .distinct()
        .count()
    )
    emb.unpersist()
    assert grown_buckets > base_buckets
